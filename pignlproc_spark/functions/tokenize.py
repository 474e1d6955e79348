"""Deterministic tokenizer + stopwords.

Reference parity: ``pignlproc/index/LuceneTokenizer.java`` (SURVEY.md
§2.1 J14) — the tgalery-fork addition that tokenizes entity-context
text with a language-specific Lucene analyzer for Spotlight token
counts. Lucene is unavailable; we freeze our own spec:

Tokenizer spec (FROZEN): NFC-normalize, lowercase (Python ``str.lower``),
extract maximal runs of Unicode word characters ``[\\w]`` excluding
pure ``_``; drop tokens in the (broadcast) stopword set; drop tokens
longer than 64 chars.

Exposed four ways:
- :func:`tokenize` — pure Python (golden tests, generator).
- :func:`tokens_col` — Spark built-ins only (lower + regexp split) for
  the hot path; identical output to :func:`tokenize` by construction
  on NFC-clean text.
- :func:`tokens_col_unicode` — the full-Unicode-exact hybrid: rows
  that can be non-NFC (frozen suspect-codepoint class) detour through
  the exact Python spec; everything else stays codegen'd.
- stopword filtering via ``array_except`` against a broadcast literal
  array, or a post-explode ``isin`` filter.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

#: the same frozen word rule in Java-regex spelling — the single
#: source for every JVM-side tokenizer expression (tokens_col). NOT
#: a translation of ``\w``: Java's Unicode
#: \w includes combining marks (Mn/Mc/Me), connector punctuation
#: beyond '_' (U+203F, U+FF3F), and Join_Control (ZWNJ/ZWJ), while
#: excluding the No numerics (², ½) Python's isnumeric admits — every
#: one a silent tokenization divergence. The positive class
#: [L, Nd, Nl, No] is exactly CPython's ``isalnum()`` (= the frozen
#: Python spec ``[^\W_]``), verified by an exhaustive BMP differential
#: test (test_functions.py::test_tokenize_parity_exhaustive_bmp). The
#: only residual divergence is Unicode DATABASE VERSION skew: Java 17
#: carries Unicode 13.0, CPython 3.11 carries 14.0, so the 53 BMP
#: codepoints assigned in 14.0 (Arabic Extended-B, Tagalog RA, …) are
#: letters to Python and unassigned to the JVM — pinned as an explicit
#: allowlist in that test.
TOKEN_RE_JVM = r"[\p{L}\p{Nd}\p{Nl}\p{No}]+"

# Frozen per-language stoplists — parity with the reference's
# LuceneTokenizer(stoplistPath, stoplistName, lang, analyzer) ctor
# parameterization (tgalery fork's multilingual additions, SURVEY.md
# §2.1 J14). Frozen in-code so results are reproducible offline.
STOPWORDS_BY_LANG: dict[str, frozenset[str]] = {
    "en": frozenset(
        "a an and are as at be by for from has he in is it its of on or that the to was were will with".split()
    ),
    "de": frozenset("der die das und ist von mit den nicht ein eine im für auf des dem als auch an".split()),
    "fr": frozenset("le la les et de des est dans pour une un du au aux par sur que qui ne pas".split()),
    "es": frozenset("el la los las y de es en por una un del al con se que no para más como".split()),
    "zh": frozenset("的 是 在 了 和 有 我 不 这 中 大 为 上 个 国 也 以 要 他 时".split()),
}
STOPWORDS = STOPWORDS_BY_LANG["en"]  # frozen default (goldens depend on it)


def stopwords_for(lang: str) -> frozenset[str]:
    return STOPWORDS_BY_LANG.get(lang, STOPWORDS)


_HAN_RUN = re.compile(r"[一-鿿]+")


def cjk_bigrams(text: str | None) -> list[str]:
    """CJK analysis (frozen): maximal Han runs → overlapping character
    bigrams (runs of length 1 emit the single char) — the classic
    Lucene CJKAnalyzer behavior the reference used for zh models."""
    if not text:
        return []
    out: list[str] = []
    for m in _HAN_RUN.finditer(text):
        run = m.group()
        if len(run) == 1:
            out.append(run)
        else:
            out.extend(run[i : i + 2] for i in range(len(run) - 1))
    return out


def tokenize(text: str | None, stopwords: frozenset[str] | None = STOPWORDS) -> list[str]:
    if not text:
        return []
    text = unicodedata.normalize("NFC", text).lower()
    toks = _TOKEN_RE.findall(text)
    if stopwords:
        toks = [t for t in toks if t not in stopwords]
    return [t for t in toks if len(t) <= 64]


def cjk_bigrams_col(col):
    """JVM-side CJK bigrams, identical to :func:`cjk_bigrams`: extract
    Han runs with a codegen'd regexp, fan bigrams out with transform
    (tiny arrays — HOF interpretation is irrelevant at run granularity)."""
    from pyspark.sql import functions as F

    if isinstance(col, str):
        col = F.col(col)
    runs = F.regexp_extract_all(col, F.lit(r"[一-鿿]+"), 0)
    bigrams = F.transform(
        runs,
        lambda r: F.when(F.length(r) == 1, F.array(r)).otherwise(
            F.transform(F.sequence(F.lit(1), F.length(r) - 1), lambda i: F.substring(r, i, 2))
        ),
    )
    return F.flatten(bigrams)




# --- NFC routing for the JVM path ---------------------------------
#
# The one frozen-tokenizer step with no JVM builtin is NFC
# normalization. Instead of paying Python for every row (or silently
# mis-tokenizing non-NFC text, the round-2 documented gap), the JVM
# path detects rows that CAN be non-NFC with a frozen codepoint-class
# regex and routes only those through the exact Python spec.
#
# Detector (frozen, generated from CPython's Unicode 14.0 tables by
# :func:`_nfc_suspect_ranges`, pinned by test_fuzz.py): a string can
# fail NFC only if it contains a codepoint with canonical combining
# class > 0 (reordering / composition candidates), a codepoint whose
# NFC form differs from itself (singleton decompositions, QC=No), or
# a Hangul jamo V/T (ccc=0 but QC=Maybe — they compose with a
# preceding L/LV syllable). Anything else is NFC-invariant, so the
# codegen'd tokenizer is exact on it. False positives only cost a
# Python detour; false negatives cannot occur by construction.
NFC_SUSPECT_RANGES = (
    (0x300, 0x34E), (0x350, 0x36F), (0x374, 0x374), (0x37E, 0x37E),
    (0x387, 0x387), (0x483, 0x487), (0x591, 0x5BD), (0x5BF, 0x5BF),
    (0x5C1, 0x5C2), (0x5C4, 0x5C5), (0x5C7, 0x5C7), (0x610, 0x61A),
    (0x64B, 0x65F), (0x670, 0x670), (0x6D6, 0x6DC), (0x6DF, 0x6E4),
    (0x6E7, 0x6E8), (0x6EA, 0x6ED), (0x711, 0x711), (0x730, 0x74A),
    (0x7EB, 0x7F3), (0x7FD, 0x7FD), (0x816, 0x819), (0x81B, 0x823),
    (0x825, 0x827), (0x829, 0x82D), (0x859, 0x85B), (0x898, 0x89F),
    (0x8CA, 0x8E1), (0x8E3, 0x8FF), (0x93C, 0x93C), (0x94D, 0x94D),
    (0x951, 0x954), (0x958, 0x95F), (0x9BC, 0x9BC), (0x9CD, 0x9CD),
    (0x9DC, 0x9DD), (0x9DF, 0x9DF), (0x9FE, 0x9FE), (0xA33, 0xA33),
    (0xA36, 0xA36), (0xA3C, 0xA3C), (0xA4D, 0xA4D), (0xA59, 0xA5B),
    (0xA5E, 0xA5E), (0xABC, 0xABC), (0xACD, 0xACD), (0xB3C, 0xB3C),
    (0xB4D, 0xB4D), (0xB5C, 0xB5D), (0xBCD, 0xBCD), (0xC3C, 0xC3C),
    (0xC4D, 0xC4D), (0xC55, 0xC56), (0xCBC, 0xCBC), (0xCCD, 0xCCD),
    (0xD3B, 0xD3C), (0xD4D, 0xD4D), (0xDCA, 0xDCA), (0xE38, 0xE3A),
    (0xE48, 0xE4B), (0xEB8, 0xEBA), (0xEC8, 0xECB), (0xF18, 0xF19),
    (0xF35, 0xF35), (0xF37, 0xF37), (0xF39, 0xF39), (0xF43, 0xF43),
    (0xF4D, 0xF4D), (0xF52, 0xF52), (0xF57, 0xF57), (0xF5C, 0xF5C),
    (0xF69, 0xF69), (0xF71, 0xF76), (0xF78, 0xF78), (0xF7A, 0xF7D),
    (0xF80, 0xF84), (0xF86, 0xF87), (0xF93, 0xF93), (0xF9D, 0xF9D),
    (0xFA2, 0xFA2), (0xFA7, 0xFA7), (0xFAC, 0xFAC), (0xFB9, 0xFB9),
    (0xFC6, 0xFC6), (0x1037, 0x1037), (0x1039, 0x103A), (0x108D, 0x108D),
    (0x1161, 0x1175), (0x11A8, 0x11C2), (0x135D, 0x135F), (0x1714, 0x1715),
    (0x1734, 0x1734), (0x17D2, 0x17D2), (0x17DD, 0x17DD), (0x18A9, 0x18A9),
    (0x1939, 0x193B), (0x1A17, 0x1A18), (0x1A60, 0x1A60), (0x1A75, 0x1A7C),
    (0x1A7F, 0x1A7F), (0x1AB0, 0x1ABD), (0x1ABF, 0x1ACE), (0x1B34, 0x1B34),
    (0x1B44, 0x1B44), (0x1B6B, 0x1B73), (0x1BAA, 0x1BAB), (0x1BE6, 0x1BE6),
    (0x1BF2, 0x1BF3), (0x1C37, 0x1C37), (0x1CD0, 0x1CD2), (0x1CD4, 0x1CE0),
    (0x1CE2, 0x1CE8), (0x1CED, 0x1CED), (0x1CF4, 0x1CF4), (0x1CF8, 0x1CF9),
    (0x1DC0, 0x1DFF), (0x1F71, 0x1F71), (0x1F73, 0x1F73), (0x1F75, 0x1F75),
    (0x1F77, 0x1F77), (0x1F79, 0x1F79), (0x1F7B, 0x1F7B), (0x1F7D, 0x1F7D),
    (0x1FBB, 0x1FBB), (0x1FBE, 0x1FBE), (0x1FC9, 0x1FC9), (0x1FCB, 0x1FCB),
    (0x1FD3, 0x1FD3), (0x1FDB, 0x1FDB), (0x1FE3, 0x1FE3), (0x1FEB, 0x1FEB),
    (0x1FEE, 0x1FEF), (0x1FF9, 0x1FF9), (0x1FFB, 0x1FFB), (0x1FFD, 0x1FFD),
    (0x2000, 0x2001), (0x20D0, 0x20DC), (0x20E1, 0x20E1), (0x20E5, 0x20F0),
    (0x2126, 0x2126), (0x212A, 0x212B), (0x2329, 0x232A), (0x2ADC, 0x2ADC),
    (0x2CEF, 0x2CF1), (0x2D7F, 0x2D7F), (0x2DE0, 0x2DFF), (0x302A, 0x302F),
    (0x3099, 0x309A), (0xA66F, 0xA66F), (0xA674, 0xA67D), (0xA69E, 0xA69F),
    (0xA6F0, 0xA6F1), (0xA806, 0xA806), (0xA82C, 0xA82C), (0xA8C4, 0xA8C4),
    (0xA8E0, 0xA8F1), (0xA92B, 0xA92D), (0xA953, 0xA953), (0xA9B3, 0xA9B3),
    (0xA9C0, 0xA9C0), (0xAAB0, 0xAAB0), (0xAAB2, 0xAAB4), (0xAAB7, 0xAAB8),
    (0xAABE, 0xAABF), (0xAAC1, 0xAAC1), (0xAAF6, 0xAAF6), (0xABED, 0xABED),
    (0xF900, 0xFA0D), (0xFA10, 0xFA10), (0xFA12, 0xFA12), (0xFA15, 0xFA1E),
    (0xFA20, 0xFA20), (0xFA22, 0xFA22), (0xFA25, 0xFA26), (0xFA2A, 0xFA6D),
    (0xFA70, 0xFAD9), (0xFB1D, 0xFB1F), (0xFB2A, 0xFB36), (0xFB38, 0xFB3C),
    (0xFB3E, 0xFB3E), (0xFB40, 0xFB41), (0xFB43, 0xFB44), (0xFB46, 0xFB4E),
    (0xFE20, 0xFE2F), (0x101FD, 0x101FD), (0x102E0, 0x102E0),
    (0x10376, 0x1037A), (0x10A0D, 0x10A0D), (0x10A0F, 0x10A0F),
    (0x10A38, 0x10A3A), (0x10A3F, 0x10A3F), (0x10AE5, 0x10AE6),
    (0x10D24, 0x10D27), (0x10EAB, 0x10EAC), (0x10F46, 0x10F50),
    (0x10F82, 0x10F85), (0x11046, 0x11046), (0x11070, 0x11070),
    (0x1107F, 0x1107F), (0x110B9, 0x110BA), (0x11100, 0x11102),
    (0x11133, 0x11134), (0x11173, 0x11173), (0x111C0, 0x111C0),
    (0x111CA, 0x111CA), (0x11235, 0x11236), (0x112E9, 0x112EA),
    (0x1133B, 0x1133C), (0x1134D, 0x1134D), (0x11366, 0x1136C),
    (0x11370, 0x11374), (0x11442, 0x11442), (0x11446, 0x11446),
    (0x1145E, 0x1145E), (0x114C2, 0x114C3), (0x115BF, 0x115C0),
    (0x1163F, 0x1163F), (0x116B6, 0x116B7), (0x1172B, 0x1172B),
    (0x11839, 0x1183A), (0x1193D, 0x1193E), (0x11943, 0x11943),
    (0x119E0, 0x119E0), (0x11A34, 0x11A34), (0x11A47, 0x11A47),
    (0x11A99, 0x11A99), (0x11C3F, 0x11C3F), (0x11D42, 0x11D42),
    (0x11D44, 0x11D45), (0x11D97, 0x11D97), (0x16AF0, 0x16AF4),
    (0x16B30, 0x16B36), (0x16FF0, 0x16FF1), (0x1BC9E, 0x1BC9E),
    (0x1D15E, 0x1D169), (0x1D16D, 0x1D172), (0x1D17B, 0x1D182),
    (0x1D185, 0x1D18B), (0x1D1AA, 0x1D1AD), (0x1D1BB, 0x1D1C0),
    (0x1D242, 0x1D244), (0x1E000, 0x1E006), (0x1E008, 0x1E018),
    (0x1E01B, 0x1E021), (0x1E023, 0x1E024), (0x1E026, 0x1E02A),
    (0x1E130, 0x1E136), (0x1E2AE, 0x1E2AE), (0x1E2EC, 0x1E2EF),
    (0x1E8D0, 0x1E8D6), (0x1E944, 0x1E94A), (0x2F800, 0x2FA1D),
)

NFC_SUSPECT_RE = "[" + "".join(
    (
        (f"\\u{a:04X}" if a <= 0xFFFF else f"\\x{{{a:X}}}")
        + ("" if a == b else "-" + (f"\\u{b:04X}" if b <= 0xFFFF else f"\\x{{{b:X}}}"))
    )
    for a, b in NFC_SUSPECT_RANGES
) + "]"


def _nfc_suspect_ranges() -> tuple[tuple[int, int], ...]:
    """Regenerate the frozen table from the running CPython's Unicode
    database (test harness only — the literal above is the spec)."""
    sus = []
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ch = chr(cp)
        if (
            unicodedata.combining(ch) > 0
            or unicodedata.normalize("NFC", ch) != ch
            or 0x1161 <= cp <= 0x1175
            or 0x11A8 <= cp <= 0x11C2
        ):
            sus.append(cp)
    out, start, prev = [], sus[0], sus[0]
    for cp in sus[1:]:
        if cp == prev + 1:
            prev = cp
            continue
        out.append((start, prev))
        start = prev = cp
    out.append((start, prev))
    return tuple(out)


def tokens_col(col, apply_stoplist: bool = True, lang: str = "en"):
    """ARRAY<STRING> token column using JVM-side built-ins only.

    ``apply_stoplist=True`` means "apply the stopword step", i.e. the
    stoplist is FILTERED OUT (Lucene analyzer semantics); ``False``
    keeps every token — the dedup/window operators use ``False``.

    NB: matches :func:`tokenize` for NFC-clean corpora (our synthetic
    corpus and the driver's ``documents`` table — and any text with no
    NFC-suspect codepoint); :func:`tokens_col_unicode` closes the gap
    by routing suspect rows through the exact Python spec.
    """
    from pyspark.sql import functions as F

    if isinstance(col, str):
        col = F.col(col)
    # TOKEN_RE_JVM is the plain positive class
    # [\p{L}\p{Nd}\p{Nl}\p{No}]+ (see its definition block — Java
    # property classes are Unicode-aware without any flag, so 'café'
    # is one word). NFC normalization (the one remaining Python-spec
    # step) has no JVM builtin — non-NFC text routes through
    # functions.tokenize.
    arr = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE_JVM), 0)
    arr = F.filter(arr, lambda t: F.length(t) <= 64)
    if apply_stoplist:
        # NOT array_except (it dedups — token counting needs the multiset)
        arr = F.filter(arr, lambda t: ~t.isin(list(stopwords_for(lang))))
    return arr


def tokens_col_unicode(col, apply_stoplist: bool = True, lang: str = "en"):
    """ARRAY<STRING> token column with FULL-Unicode parity to
    :func:`tokenize` — the closure of the round-2 documented JVM-path
    NFC gap.

    Rows whose text matches the frozen NFC-suspect class
    (:data:`NFC_SUSPECT_RE`) route through the exact Python spec as an
    Arrow-batched pandas UDF; everything else takes the codegen'd
    :func:`tokens_col`. The UDF input is NULL-masked for clean rows
    (``when(suspect, col)``), so the Python stage's per-row cost on an
    ASCII-dominated corpus is a null check plus Arrow bitmap transfer
    — the corpus text itself only crosses into Python for rows that
    can actually be non-NFC. Differential-fuzzed against
    :func:`tokenize` in tests/test_fuzz.py.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if isinstance(col, str):
        col = F.col(col)
    stop = stopwords_for(lang) if apply_stoplist else None

    @pandas_udf("array<string>")
    def _py_tok(s: pd.Series) -> pd.Series:
        return pd.Series([None if t is None else tokenize(t, stop) for t in s])

    suspect = col.rlike(NFC_SUSPECT_RE)
    return F.when(suspect, _py_tok(F.when(suspect, col))).otherwise(
        tokens_col(col, apply_stoplist, lang)
    )
