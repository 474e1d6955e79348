"""Unit tests: tokenizer (J14), URI encode (J11), restricted n-grams
(J12), sentence splitting + span rebase (J6/J7)."""




from pignlproc_spark.functions.ngrams import SurfaceFormMatcher, normalize_sf
from pignlproc_spark.functions.sentences import contexts_with_links, split_sentences
from pignlproc_spark.functions.tokenize import STOPWORDS, tokenize, tokens_col
from pignlproc_spark.functions.uri import normalize_title, uri_encode


def test_tokenize_basic():
    assert tokenize("The quick brown-fox ran.") == ["quick", "brown", "fox", "ran"]
    assert tokenize("r&d units") == ["r", "d", "units"]
    assert tokenize("") == []
    assert tokenize(None) == []
    assert tokenize("under_score") == ["under", "score"]


def test_tokenize_spark_parity(spark):
    texts = ["The quick brown-fox ran.", "r&d units", "", "a b c 123 x_y", "Hello WORLD!", "café Zürich naïve"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(tokens_col("text")).collect()]
    assert got == [tokenize(t) for t in texts]
    got_ns = [r[0] for r in df.select(tokens_col("text", apply_stoplist=False)).collect()]
    assert got_ns == [tokenize(t, stopwords=None) for t in texts]


def test_normalize_title():
    assert normalize_title("alpha beta") == "Alpha_beta"
    assert normalize_title("  alpha   beta ") == "Alpha_beta"
    assert normalize_title("Alpha%5F1") == "Alpha_1"
    assert normalize_title("") == ""
    assert normalize_title("_") == ""


def test_uri_encode():
    assert uri_encode("alpha 1") == "http://en.dbpedia.org/resource/Alpha_1"
    assert uri_encode("a b", "de") == "http://de.dbpedia.org/resource/A_b"
    # reserved chars percent-encode; _SAFE chars survive
    assert uri_encode('q"x') == "http://en.dbpedia.org/resource/Q%22x"
    assert uri_encode("O'Brien (actor)") == "http://en.dbpedia.org/resource/O'Brien_(actor)"


def test_matcher_occurrences():
    m = SurfaceFormMatcher(["Alpha One", "beta", "the great alpha one of old x"])
    # >4-token form is excluded from the dict
    assert "the great alpha one of old x" not in m.forms
    occ = m.occurrences("alpha one met beta; Beta met ALPHA ONE.")
    assert sorted(occ) == ["alpha one", "alpha one", "beta", "beta"]
    assert m.occurrences("") == []
    assert normalize_sf("The  Great-X") == "the great x"


def test_split_sentences():
    text = "One two. Three four! Five"
    spans = split_sentences(text, 0, len(text))
    assert [text[b:e] for b, e in spans] == ["One two.", "Three four!", "Five"]
    # offsets within a paragraph slice
    t2 = "pre\n\nA b. C d."
    spans = split_sentences(t2, 5, len(t2))
    assert [t2[b:e] for b, e in spans] == ["A b.", "C d."]


def test_contexts_rebase():
    text = "Alpha beta. Gamma delta."
    links = [
        {"target": "B_1", "begin": 6, "end": 10, "label": "beta"},
        {"target": "G_1", "begin": 12, "end": 17, "label": "Gamma"},
    ]
    paragraphs = [{"begin": 0, "end": len(text)}]
    rows = contexts_with_links(text, links, paragraphs)
    assert len(rows) == 2
    for r in rows:
        assert r["context"][r["begin"] : r["end"]] == r["surface_form"]
    assert rows[0]["context"] == "Alpha beta."
    assert rows[1]["context"] == "Gamma delta."
    # link spanning a sentence boundary is dropped
    cross = [{"target": "X", "begin": 6, "end": 17, "label": "beta. Gamma"}]
    assert contexts_with_links(text, cross, paragraphs) == []


def test_stopwords_frozen():
    assert "the" in STOPWORDS and "quick" not in STOPWORDS


def test_multilingual_stoplists(spark):
    from pignlproc_spark.functions.tokenize import stopwords_for

    de = "der Hund und die Katze liefen"
    df = spark.createDataFrame([(de,)], "text string")
    got_de = df.select(tokens_col("text", lang="de")).collect()[0][0]
    assert got_de == ["hund", "katze", "liefen"]
    got_en = df.select(tokens_col("text", lang="en")).collect()[0][0]
    assert "der" in got_en  # 'der' is not an English stopword
    assert tokenize(de, stopwords=stopwords_for("de")) == got_de


def test_cjk_bigrams_parity(spark):
    from pignlproc_spark.functions.tokenize import cjk_bigrams, cjk_bigrams_col

    texts = ["中文分词测试", "a中b文c", "", "中", "no han at all", "中文, 分词。中"]
    assert cjk_bigrams("中文分词") == ["中文", "文分", "分词"]
    assert cjk_bigrams("a中b文c") == ["中", "文"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(cjk_bigrams_col("text")).collect()]
    assert got == [cjk_bigrams(t) for t in texts]


def test_token_counts_cjk(spark):
    from pignlproc_spark.operators import stats

    m = spark.createDataFrame([("u1", "中文分词"), ("u1", "中文")], "uri string, context string")
    got = {(r.uri, r.token): r.cnt for r in stats.token_counts(m, analysis="cjk").collect()}
    assert got == {("u1", "中文"): 2, ("u1", "文分"): 1, ("u1", "分词"): 1}


def test_url_canonicalization(spark):
    from pignlproc_spark.functions.urls import canonical_url_col, host_col

    cases = [
        # (input, canonical, host)
        ("https://Example.COM/Path/To?q=1#frag", "https://example.com/Path/To?q=1", "example.com"),
        ("HTTP://HOST:80/a/", "http://host/a", "host:80"),
        ("https://host:443/", "https://host", "host:443"),
        ("https://host:8443/x", "https://host:8443/x", "host:8443"),
        ("http://host/path/?q=2", "http://host/path?q=2", "host"),
        ("http://host/?", "http://host", "host"),
        ("  http://host/a  ", "http://host/a", "host"),
        ("http://host//a///", "http://host//a", "host"),
        ("not a url", "not a url", ""),
        ("/relative/path", "/relative/path", ""),
        # empty host: must pass through untouched, never merge (rule 2)
        ("file:///etc/passwd", "file:///etc/passwd", ""),
        ("file:///home/x", "file:///home/x", ""),
        ("http://#frag", "http://#frag", ""),
        ("http://?q=1", "http://?q=1", ""),
        ("ftp://Mixed.Case/KeepCase", "ftp://mixed.case/KeepCase", "mixed.case"),
        ("https://host/path#a#b", "https://host/path", "host"),
        ("http://host", "http://host", "host"),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    import pyspark.sql.functions as F

    got = df.select(
        "url",
        canonical_url_col(F.col("url")).alias("c"),
        host_col(F.col("url")).alias("h"),
    ).collect()
    by_url = {r.url: (r.c, r.h) for r in got}
    for u, want_c, want_h in cases:
        assert by_url[u] == (want_c, want_h), u

    # determinism/idempotence: canonical(canonical(x)) == canonical(x)
    twice = df.select(canonical_url_col(canonical_url_col(F.col("url"))).alias("c2")).collect()
    assert [r.c2 for r in twice] == [r.c for r in got]


def test_url_canonical_differential_fuzz(spark):
    """Seeded random URL-ish strings through BOTH engines: the Spark
    expression and the DuckDB oracle SQL (shared helper) must agree on
    every input, and canonicalization must be idempotent."""
    import random

    import duckdb
    import pandas as pd
    import pyspark.sql.functions as F

    from __spark_entry__ import url_canonical_sql
    from pignlproc_spark.functions.urls import canonical_url_col, host_col

    rng = random.Random(20260817)
    schemes = ["http", "HTTP", "https", "HtTpS", "ftp", "file", ""]
    hosts = ["Example.COM", "host", "a.b.c", "HOST:80", "host:443", "h:8080", "", "ho_st"]
    paths = ["", "/", "/a", "/A/B", "//x", "/a/", "/a///", "/%20x", "/a b"]
    queries = ["", "?", "?q=1", "?Q=A&b=2"]
    frags = ["", "#f", "#a#b", "#"]
    urls = []
    for _ in range(400):
        if rng.random() < 0.1:
            urls.append(rng.choice(["", " ", "not a url", "/rel/path", "::://x", "a//b"]))
            continue
        u = (
            rng.choice(schemes)
            + "://"
            + rng.choice(hosts)
            + rng.choice(paths)
            + rng.choice(queries)
            + rng.choice(frags)
        )
        if rng.random() < 0.2:
            u = " " + u + "  "
        urls.append(u)

    sdf = spark.createDataFrame([(u,) for u in urls], "variant string")
    got = (
        sdf.select(
            "variant",
            canonical_url_col(F.col("variant")).alias("canonical_url"),
            host_col(F.col("variant")).alias("host"),
        )
        .toPandas()
        .sort_values("variant")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"variant": urls}))
    want = con.execute(url_canonical_sql("t") + " ORDER BY variant").df().reset_index(drop=True)
    # duplicates in urls make order within equal variants ambiguous;
    # compare as multisets of rows
    g = sorted(map(tuple, got.values.tolist()))
    w = sorted(map(tuple, want.values.tolist()))
    assert g == w

    # idempotence on the Spark side
    twice = sdf.select(
        canonical_url_col(canonical_url_col(F.col("variant"))).alias("c2"),
        canonical_url_col(F.col("variant")).alias("c1"),
    ).collect()
    assert all(r.c1 == r.c2 for r in twice)


def test_tokenize_spark_parity_random_batch(spark):
    """Seeded-random differential check of the frozen tokenizer spec:
    the JVM expression path must equal the Python path on a batch of
    adversarial NFC-clean strings (mixed scripts, underscores, >64-char
    runs, digits, punctuation soup) — one Spark job for all cases."""
    import random
    import unicodedata

    from pignlproc_spark.functions.tokenize import tokenize, tokens_col

    rng = random.Random(20260817)
    pieces = [
        "the", "Fox", "naïve", "café", "Zürich", "中文字符", "x_y", "_", "__",
        "A" * 70, "b" * 64, "１２３", "r&d", "don't", "e.g.", "--", "𝔘ni",
        "tab\tsep", "new\nline", "", " ", "ß", "İstanbul", "ΣΙΓΜΑ",
        "mi\u200ckhaham", "x\u00b2y", "half\u00bdx", "a\uff3fb", "a\u203fb",
    ]
    texts = []
    for _ in range(300):
        n = rng.randrange(0, 12)
        s = "".join(rng.choice(pieces) + rng.choice([" ", "", ".", ", ", "!"]) for _ in range(n))
        texts.append(unicodedata.normalize("NFC", s))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for stop in (True, False):
        got = [r[0] for r in df.select(tokens_col("text", apply_stoplist=stop)).collect()]
        want = [tokenize(t) if stop else tokenize(t, stopwords=None) for t in texts]
        assert got == want, f"JVM/Python tokenizer divergence (stop={stop})"


def test_tokens_col_unicode_non_nfc_parity(spark):
    """The hybrid tokenizer (tokens_col_unicode) must equal the exact
    Python spec on NON-NFC input — the round-2 documented JVM gap,
    closed by routing NFC-suspect rows through the Python path. The
    batch mixes decomposed accents, singleton decompositions, Hangul
    jamo, reordered combining marks, CJK, astral and control chars."""
    import random

    from pignlproc_spark.functions.tokenize import (
        NFC_SUSPECT_RANGES,
        _nfc_suspect_ranges,
        tokenize,
        tokens_col_unicode,
    )

    # the frozen detector table IS this CPython's Unicode database
    assert NFC_SUSPECT_RANGES == _nfc_suspect_ranges()

    rng = random.Random(20260819)
    pieces = [
        "cafe\u0301",          # decomposed e+acute — must compose before \\w runs
        "C\u0304afe\u0301",    # multiple marks on multiple bases
        "\u212Bngstro\u0308m",  # singleton ANGSTROM SIGN + decomposed o-diaeresis
        "\u1100\u1161\u11A8",  # Hangul jamo L+V+T — composes to one syllable
        "x\u0307\u0323y",      # marks needing canonical REORDERING (ccc 230, 220)
        "\u01C4upla",          # DZ-caron (NFC-invariant but case-interesting)
        "\u4e2d\u6587\u0301\u5b57",  # Han + stray combining mark
        "plain ascii words",
        "na\u00efve caf\u00e9",  # precomposed (clean JVM path)
        "\x0bvertical\x0btab",
        "\U0001d518nicode math",
        "\ufb01nal ligature",   # fi-ligature: compatibility (NOT canonical) decomposition — NFC keeps it
        "e\u0301" * 40,         # long run of suspect text
        "",
    ]
    texts = []
    for _ in range(250):
        n = rng.randrange(0, 8)
        texts.append("".join(rng.choice(pieces) + rng.choice([" ", "", "."]) for _ in range(n)))
    texts += pieces
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for stop in (True, False):
        got = [r[0] for r in df.select(tokens_col_unicode("text", apply_stoplist=stop)).collect()]
        want = [tokenize(t, STOPWORDS if stop else None) for t in texts]
        assert got == want, f"hybrid/Python tokenizer divergence (stop={stop})"


def test_cjk_bigrams_parity_random_batch(spark):
    """Seeded-random differential check of the CJK bigram spec: JVM
    expression vs pure Python on mixed Han/ASCII/punctuation soup."""
    import random

    from pignlproc_spark.functions.tokenize import cjk_bigrams, cjk_bigrams_col

    rng = random.Random(20260817)
    alphabet = list("中文分词测试汉字一二三 abZ.,!х𝔘") + ["", "中", "　"]
    texts = ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30))) for _ in range(300)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(cjk_bigrams_col("text")).collect()]
    assert got == [cjk_bigrams(t) for t in texts]


# Unicode DATABASE version skew between the two frozen tokenizer paths
# (Java 17 = Unicode 13.0, CPython 3.11 = 14.0): BMP codepoints
# assigned in 14.0 are letters to Python and unassigned to the JVM.
# Regenerate by rerunning the exhaustive test body with an empty set.
TOKENIZER_DB_SKEW = {
    0x019B, 0x0264, 0x0870, 0x0871, 0x0872, 0x0873, 0x0874, 0x0875,
    0x0876, 0x0877, 0x0878, 0x0879, 0x087A, 0x087B, 0x087C, 0x087D,
    0x087E, 0x087F, 0x0880, 0x0881, 0x0882, 0x0883, 0x0884, 0x0885,
    0x0886, 0x0887, 0x0889, 0x088A, 0x088B, 0x088C, 0x088D, 0x088E,
    0x08B5, 0x08C8, 0x08C9, 0x0C5D, 0x0CDD, 0x170D, 0x171F, 0x1B4C,
    0x2C5F, 0x9FFD, 0x9FFE, 0x9FFF, 0xA7C1, 0xA7D1, 0xA7D3, 0xA7D5,
    0xA7D7, 0xA7D9, 0xA7F2, 0xA7F3, 0xA7F4,
}


def test_tokenize_parity_exhaustive_bmp(spark):
    """EXHAUSTIVE differential over the whole BMP (space-flanked
    codepoints, NFC domain): the JVM and Python tokenizer paths may
    differ ONLY on the pinned Unicode-version-skew codepoints — any
    structural divergence (a character class one engine's word rule
    includes and the other's excludes) fails here."""
    import unicodedata

    from pignlproc_spark.functions.tokenize import tokenize, tokens_col

    cps = [c for c in range(0x20, 0x10000) if not (0xD800 <= c <= 0xDFFF)]
    texts = []
    for a in range(0, len(cps), 2000):
        texts.append(unicodedata.normalize("NFC", " ".join(chr(c) for c in cps[a : a + 2000])))
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r.i: r.t
        for r in df.select("i", tokens_col("text", apply_stoplist=False).alias("t")).collect()
    }
    div = set()
    for i, t in enumerate(texts):
        div |= set("".join(tokenize(t, stopwords=None))) ^ set("".join(got[i]))
    assert {ord(c) for c in div} <= TOKENIZER_DB_SKEW, (
        "structural JVM/Python tokenizer divergence beyond pinned DB skew: "
        + ", ".join(sorted(f"U+{ord(c):04X}" for c in div if ord(c) not in TOKENIZER_DB_SKEW)[:20])
    )


def test_bpe_split_engine_parity_latin1(spark):
    """The BPE splitter's oracle contract domain: Java regex and DuckDB
    RE2 must agree EXACTLY on ASCII + Latin-1 (where the driver corpus
    lives); beyond Latin-1 their Unicode property tables skew, which
    the BPE_SPLIT_RE docstring documents."""
    import random
    import unicodedata

    import duckdb
    from pyspark.sql import functions as F

    from pignlproc_spark.operators.textstats import BPE_SPLIT_RE

    rng = random.Random(20260817)
    alpha = [chr(c) for c in range(0x20, 0x7F)] + [chr(c) for c in range(0xA0, 0x100)]
    texts = ["it's the 2024, folks!", "don't we'll i've you're", "a'b'c", "'s'd'm't"]
    texts += [
        unicodedata.normalize("NFC", "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 120))))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r.i: r.n
        for r in df.select(
            "i", F.size(F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), 0)).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        n = con.execute("select len(regexp_extract_all(?, ?))", [t, BPE_SPLIT_RE]).fetchone()[0]
        assert n == got[i], f"BPE engine divergence on {t!r}: spark {got[i]} duckdb {n}"


def test_url_blocklist_filter(spark):
    """UT1-style blocklist: host bans via broadcast join, prefix bans
    via codegen predicate; keep is the AND-NOT of both flags."""
    from pignlproc_spark.functions.urls import blocklist_filter

    pages = spark.createDataFrame(
        [
            ("https://bad.example/a",),
            ("https://BAD.example:443/b",),  # case/port-folds to the banned host
            ("https://ok.example/spam/1",),
            ("https://ok.example/fine",),
            ("not a url",),
        ],
        "url string",
    )
    hosts = spark.createDataFrame([("bad.example",)], "host string")
    out = blocklist_filter(
        pages, hosts, blocked_prefixes=("https://ok.example/spam",)
    )
    got = {r.url: (r.host_blocked, r.prefix_blocked, r.keep) for r in out.collect()}
    assert got["https://bad.example/a"] == (1, 0, 0)
    # host_col lowercases but keeps the port — :443 is NOT the bare host
    assert got["https://BAD.example:443/b"] == (0, 0, 1)
    assert got["https://ok.example/spam/1"] == (0, 1, 0)
    assert got["https://ok.example/fine"] == (0, 0, 1)
    assert got["not a url"] == (0, 0, 1)  # unparseable rows pass through
    # plan shape: the host list must arrive as a broadcast, never a shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ShuffleExchange" not in plan


def test_parse_robots_group_scoping(spark):
    """CCRobots v1: rules bind to their User-agent run; multi-UA runs
    form ONE group; comments and empty values drop; only '*' groups
    survive."""
    from pignlproc_spark.functions.urls import parse_robots

    body = (
        "# top comment\n"
        "User-agent: badbot\nDisallow: /\n\n"
        "User-agent: a\nUser-agent: *\nDisallow: /x # trailing comment\nAllow: /x/pub\n"
        "Disallow:\n"  # empty value: no rule
        "Crawl-delay: 10\n"  # unknown directive: ignored
        "\nUser-agent: c\nDisallow: /c\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h.example", body)], "host string, body string")
    ).collect()
    got = {(r.allow, r.path_prefix) for r in rules}
    assert got == {(0, "/x"), (1, "/x/pub")}  # badbot's and c's rules excluded

    # a comment (or blank) line BETWEEN consecutive User-agent lines
    # must not split the run (RFC 9309 ignores comment lines entirely)
    body2 = "User-agent: *\n# note\nUser-agent: badbot\nDisallow: /private\n"
    rules2 = parse_robots(
        spark.createDataFrame([("h2.example", body2)], "host string, body string")
    ).collect()
    assert {(r.allow, r.path_prefix) for r in rules2} == {(0, "/private")}


def test_robots_filter_longest_match(spark):
    """RFC 9309 verdicts: longest prefix wins, Allow wins length ties,
    unmatched and no-robots URLs are allowed."""
    from pignlproc_spark.functions.urls import parse_robots, robots_filter

    body = (
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "Disallow: /tie\nAllow: /tie\n"  # same length: Allow wins
    )
    rules = parse_robots(
        spark.createDataFrame([("h.example", body)], "host string, body string")
    )
    pages = spark.createDataFrame(
        [
            ("https://h.example/private/file",),
            ("https://h.example/private/ok/file",),
            ("https://h.example/tie",),
            ("https://h.example/elsewhere",),
            ("https://h.example",),  # empty path → '/'
            ("https://other.example/private/file",),  # no robots at all
        ],
        "url string",
    )
    got = {r.url: (r.allow, r.matched_prefix) for r in robots_filter(pages, rules).collect()}
    assert got["https://h.example/private/file"] == (0, "/private")
    assert got["https://h.example/private/ok/file"] == (1, "/private/ok")
    assert got["https://h.example/tie"] == (1, "/tie")
    assert got["https://h.example/elsewhere"] == (1, None)
    assert got["https://h.example"] == (1, None)
    assert got["https://other.example/private/file"] == (1, None)


def test_parse_sitemap_entities_and_counts(spark):
    from pignlproc_spark.functions.urls import parse_sitemap

    body = (
        '<?xml version="1.0"?><urlset>'
        "<loc> https://h.example/a </loc>"
        "<loc>https://h.example/x?a=1&amp;b=2</loc>"
        "<loc>https://h.example/&lt;odd&gt;</loc>"
        "</urlset>"
    )
    got = parse_sitemap(
        spark.createDataFrame([("h.example", body)], "host string, body string")
    ).collect()
    locs = {r.loc for r in got}
    assert locs == {
        "https://h.example/a",  # trimmed
        "https://h.example/x?a=1&b=2",  # &amp; decoded
        "https://h.example/<odd>",  # &lt;/&gt; decoded
    }
    assert all(r.n_locs == 3 for r in got)


def test_robots_crawl_delay(spark):
    """CCRobots v1 extension: integer-seconds Crawl-delay of the *
    groups only — badbot's delay never leaks, fractional/word values
    are ignored, MAX wins across a host's * groups, hosts without the
    directive emit no row."""
    from pignlproc_spark.functions.urls import robots_crawl_delay

    bodies = [
        (
            "h1",
            "User-agent: badbot\nCrawl-delay: 99\n\n"
            "User-agent: *\nCrawl-delay: 3\nDisallow: /x\n\n"
            "User-agent: a\nUser-agent: *\nCrawl-delay: 7\n"
            # all ignored: fraction, word, BIGINT-overflowing digits
            # (robots.txt is arbitrary web input — must not crash the
            # job under ANSI cast; 19+ digits are out of the v1 spec)
            "Crawl-delay: 2.5\nCrawl-delay: fast\n"
            "Crawl-delay: 99999999999999999999\n",
        ),
        ("h2", "User-agent: *\nDisallow: /\n"),  # no directive → no row
        ("h3", "User-agent: other\nCrawl-delay: 5\n"),  # wrong agent
    ]
    got = {
        r.host: r.crawl_delay_s
        for r in robots_crawl_delay(
            spark.createDataFrame(bodies, "host string, body string")
        ).collect()
    }
    assert got == {"h1": 7}


def test_parse_sitemap_routed(spark):
    """Index bodies route their locs as kind='sitemap' (child fetch
    hops), urlset bodies as kind='page'; entity decode applies to
    both; an empty body yields no rows."""
    from pignlproc_spark.functions.urls import parse_sitemap_routed

    rows = [
        (
            "h1",
            '<?xml version="1.0"?><sitemapindex>'
            "<sitemap><loc>https://h1/s-a.xml</loc></sitemap>"
            "<sitemap><loc> https://h1/s-b&amp;c.xml </loc></sitemap></sitemapindex>",
        ),
        (
            "h1",
            '<?xml version="1.0"?><urlset><url><loc>https://h1/p1</loc></url>'
            "<loc>https://h1/p&apos;2</loc></urlset>",
        ),
        ("h2", "<urlset></urlset>"),
    ]
    got = {
        (r.host, r.kind, r.loc)
        for r in parse_sitemap_routed(
            spark.createDataFrame(rows, "host string, body string")
        ).collect()
    }
    assert got == {
        ("h1", "sitemap", "https://h1/s-a.xml"),
        ("h1", "sitemap", "https://h1/s-b&c.xml"),
        ("h1", "page", "https://h1/p1"),
        ("h1", "page", "https://h1/p'2"),
    }


def test_url_templates(spark):
    """Digit runs in the PATH become {n}; query/fragment never count;
    an empty path is '/'; counts aggregate per (host, template)."""
    from pignlproc_spark.functions.urls import url_templates

    urls = [
        "https://a.example/p/123",
        "https://a.example/p/9",                  # same template
        "https://a.example/c5/item-77?page=3#s2", # query/fragment cut
        "https://A.example",                      # empty path → '/'
        "https://b.example/v2/x10y20",            # multiple runs
    ]
    got = {
        (r.host, r.template): r.n_urls
        for r in url_templates(
            spark.createDataFrame([(u,) for u in urls], "url string")
        ).collect()
    }
    assert got == {
        ("a.example", "/p/{n}"): 2,
        ("a.example", "/c{n}/item-{n}"): 1,
        ("a.example", "/"): 1,
        ("b.example", "/v{n}/x{n}y{n}"): 1,
    }


def test_template_quota(spark):
    """At most k urls per (host, template), url-ascending determinism;
    the trap template is capped while flat pages all survive."""
    from pignlproc_spark.functions.urls import template_quota

    urls = [f"https://t.example/cal/2024-{m:02d}-01" for m in range(1, 10)]
    urls += ["https://t.example/about", "https://t.example/contact"]
    got = template_quota(
        spark.createDataFrame([(u,) for u in urls], "url string"), k=3
    ).collect()
    by_tmpl = {}
    for r in got:
        by_tmpl.setdefault(r.template, []).append(r.url)
    assert sorted(by_tmpl["/cal/{n}-{n}-{n}"]) == urls[:3]  # first 3 by url
    assert by_tmpl["/about"] == ["https://t.example/about"]
    assert by_tmpl["/contact"] == ["https://t.example/contact"]
    assert all(r.rank <= 3 for r in got)


def test_robots_sitemaps(spark):
    """Sitemap: directives are group-independent (pre-group and
    in-group both count), value case is KEPT, empties drop, and
    duplicates within a host dedup."""
    from pignlproc_spark.functions.urls import robots_sitemaps

    body = (
        "Sitemap: https://CDN.example/Root.xml\n"
        "User-agent: badbot\nDisallow: /\n"
        "Sitemap: https://h.example/inner.xml\n\n"
        "User-agent: *\nDisallow: /x\n"
        "Sitemap:\n"  # empty value: dropped
        "Sitemap: https://CDN.example/Root.xml\n"  # dup: one row
    )
    got = {
        (r.host, r.sitemap_url)
        for r in robots_sitemaps(
            spark.createDataFrame([("h.example", body)], "host string, body string")
        ).collect()
    }
    assert got == {
        ("h.example", "https://CDN.example/Root.xml"),
        ("h.example", "https://h.example/inner.xml"),
    }
