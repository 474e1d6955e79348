"""Text analysis for training-data curation: language ID, quality
signals, token counting, document fingerprinting.

All pure Spark built-ins (codegen'd, oracle-reproducible); integer /
md5 outputs only so DuckDB value-hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pignlproc_spark.functions.tokenize import tokens_col

# tiny frozen per-language marker lists (heuristic n-gram/stopword ID)
LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and of to in is was for with that".split(),
    "de": "der die das und ist von mit den nicht ein".split(),
    "fr": "le la les et de des est dans pour une".split(),
    "es": "el la los las y de es en por una".split(),
    "zh": "的 是 在 了 和 有 我 不 这 中".split(),
}


SUBSTRING_LANGS = {"zh"}  # unsegmented scripts: the word regex yields no
# tokens for CJK, so markers are counted by substring presence instead

#: FROZEN GPT-2-style pre-tokenizer split (lookahead-free) — shared by
#: bpe_ish_token_counts and pack_sequences and mirrored verbatim in
#: their oracles; never edit one copy alone. Cross-engine contract
#: domain (measured, test_bpe_split_engine_parity_latin1): Java regex
#: and DuckDB RE2 agree exactly on ASCII + Latin-1; beyond that their
#: \p{L}/\p{N} Unicode tables skew (5/32 BMP chunks diverge), so
#: non-Latin corpora keep Spark-side determinism but the DuckDB oracle
#: only binds where the driver corpus lives (ASCII).
BPE_SPLIT_RE = r"'(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def hash_bucket(col, mod: int):
    """Deterministic md5 hash bucket of an id column (``% mod``) — the
    frozen bucketing shared by stratified_sample and pack_sequences
    (first 4 md5 hex chars of the stringified id as an int)."""
    from pyspark.sql import functions as F

    return (
        F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 4), 16, 10).cast("bigint")
        % mod
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, lang_pred, marker_hits): argmax over distinct-marker hits
    (token membership for space-delimited languages, substring
    presence for unsegmented scripts), ties broken by language code
    asc; 'und' when zero hits."""
    toks = df.select(
        F.col(id_col),
        F.lower(F.col(text_col)).alias("_lower"),
        F.array_distinct(tokens_col(F.col(text_col), apply_stoplist=False)).alias("_t"),
    )
    scored = toks
    for lang, markers in LANG_MARKERS.items():
        if lang in SUBSTRING_LANGS:
            hits = None
            for m in markers:
                h = F.when(F.contains(F.col("_lower"), F.lit(m)), 1).otherwise(0)
                hits = h if hits is None else hits + h
            scored = scored.withColumn(f"_hits_{lang}", hits)
        else:
            lit = F.array(*[F.lit(m) for m in markers])
            scored = scored.withColumn(f"_hits_{lang}", F.size(F.array_intersect("_t", lit)))
    # argmax with lang-asc tie-break: iterate langs sorted, strict >
    langs = sorted(LANG_MARKERS)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:
        h = F.col(f"_hits_{lang}")
        better = h > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, h).otherwise(best_hits)
    return scored.select(
        F.col(id_col).cast("bigint"),
        best_lang.alias("lang_pred"),
        best_hits.cast("bigint").alias("marker_hits"),
    )


def quality_signals(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, n_stopword_hits, n_punct, n_digits,
    mean_token_len_x100) — integer quality features; thresholds are a
    downstream policy choice, the engine emits the signals."""
    t = F.col(text_col)
    toks = tokens_col(t, apply_stoplist=False)
    stop_toks = tokens_col(t, apply_stoplist=True)
    return df.select(
        F.col(id_col).cast("bigint"),
        F.length(t).cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(toks) - F.size(stop_toks)).cast("bigint").alias("n_stopword_hits"),
        F.size(F.regexp_extract_all(t, F.lit(r"[.,;:!?]"), 0)).cast("bigint").alias("n_punct"),
        F.size(F.regexp_extract_all(t, F.lit(r"[0-9]"), 0)).cast("bigint").alias("n_digits"),
        # summed token lengths == length of the concatenation: a
        # codegen'd projection, not an interpreted aggregate lambda
        # (CLAUDE.md plan-shape rule — this runs per document on the
        # whole corpus)
        F.when(
            F.size(toks) > 0,
            F.floor(F.length(F.array_join(toks, "")) * 100 / F.size(toks)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mean_token_len_x100"),
    )


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fingerprint): md5 of casefolded, whitespace-normalized text
    — the cheap content-identity key for incremental dedup.

    The whitespace class is spelled out ([ \\t\\n\\x0B\\f\\r]+) instead of
    \\s because Java's \\s includes \\x0B and RE2's does not — a \\s here
    would diverge from the DuckDB oracle on any document containing a
    vertical tab (found by cross-engine probing)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+", " "))
    return df.select(
        F.col(id_col).cast("bigint"), F.md5(norm.cast("binary")).alias("fingerprint")
    )


def token_counts_per_doc(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_unique_tokens) — whitespace/word-regex counting."""
    toks = tokens_col(F.col(text_col), apply_stoplist=False)
    return df.select(
        F.col(id_col).cast("bigint"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
    )


def bpe_ish_token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_pieces) — GPT-2-style regex pre-tokenizer piece count
    (contractions | space?+letters | space?+digits | space?+other),
    whitespace pieces not counted. Lookahead-free so the same pattern
    runs under Java regex (Spark) and RE2 (DuckDB oracle) identically.
    The count estimates LLM token budgets far better than word counts
    (punctuation/number runs become their own pieces)."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)
    return df.select(
        F.col(id_col).cast("bigint"),
        F.size(pieces).cast("bigint").alias("n_pieces"),
    )


def repetition_signals(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_2grams, top2gram_cnt, n_3grams, dup3gram_cnt) —
    Gopher-style within-document repetition features (Rae et al. 2021
    §A1.1: "fraction of characters in the most common n-gram",
    "fraction of duplicate n-grams"), emitted as exact integer
    numerators/denominators so thresholds stay a downstream policy and
    the DuckDB oracle hash-matches (no float ratios):

    - ``top2gram_cnt / n_2grams`` — the most-common-2-gram fraction
      (boilerplate/template detector)
    - ``dup3gram_cnt / n_3grams`` — occurrences beyond each 3-gram's
      first, i.e. the duplicate-3-gram fraction (loops/spam detector)

    Line-granularity duplicate metrics are this same shape with a
    newline splitter; this corpus' documents are single-line token
    streams, so n-gram granularity is the meaningful one.

    Plan shape: explode n-grams → two-level partial/final aggregation
    (per (doc, gram) count, then per doc) — map-side combine absorbs
    the n-gram fanout, nothing wider than (doc_id, gram) ever
    shuffles; the per-doc aggregates then co-join on doc_id. Docs
    with < n tokens survive with zero counts via the left joins.
    """
    from pignlproc_spark.operators.dedup import tokens_once, window_expr

    # tokens_once: generator boundary so the window_expr lambdas slice
    # a materialized array instead of re-tokenizing per gram
    toks = df.select(F.col(id_col).cast("bigint").alias("doc_id"), tokens_once(F.col(text_col)).alias("_toks"))

    def gram_counts(n: int) -> DataFrame:
        per_gram = (
            toks.select(F.col("doc_id"), F.explode(F.expr(window_expr(n))).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return per_gram.groupBy("doc_id").agg(
            F.sum("cnt").alias(f"n_{n}grams"),
            F.max("cnt").alias(f"_top{n}"),
            (F.sum("cnt") - F.count(F.lit(1))).alias(f"_dup{n}"),
        )

    g2 = gram_counts(2)
    g3 = gram_counts(3)
    base = toks.select("doc_id", F.size("_toks").cast("bigint").alias("n_tokens"))
    out = base.join(g2, "doc_id", "left").join(g3, "doc_id", "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint")  # noqa: E731
    return out.select(
        "doc_id",
        "n_tokens",
        z("n_2grams").alias("n_2grams"),
        z("_top2").alias("top2gram_cnt"),
        z("n_3grams").alias("n_3grams"),
        z("_dup3").alias("dup3gram_cnt"),
    )


def corpus_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    min_tokens: int = 25,
    max_tokens: int = 100000,
    min_mean_token_len_x100: int = 300,
    max_mean_token_len_x100: int = 800,
) -> DataFrame:
    """C4-style corpus curation decision: compose quality signals,
    language ID, and exact-dedup canonicality into one keep/drop row
    per document —

        (id, ok_len, ok_token_len, ok_lang, is_canonical, keep)

    with INT flags (oracle-hashable). ``keep = 1`` iff all pass.
    Thresholds are policy knobs; the defaults are C4-ish (drop very
    short docs, degenerate token lengths, off-language docs, and
    non-first copies of duplicated content).

    Scale shape: three per-document aggregates joined on the id — the
    joins co-partition on one key and each input is one codegen'd
    pass; the dedup side shuffles (hash, id) pairs only.
    """
    from pyspark.sql import Window

    q = quality_signals(df, id_col, text_col)
    lid = lang_id(df, id_col, text_col)
    # one hash pass: canonical = min id within the content-hash group
    # (window over the hash — same shuffle as the dedup groupBy but no
    # second md5 scan and no join back)
    w = Window.partitionBy("_ch")
    canon = (
        df.select(F.col(id_col).cast("bigint"), F.md5(F.col(text_col).cast("binary")).alias("_ch"))
        .withColumn("is_canonical", (F.col(id_col) == F.min(id_col).over(w)).cast("int"))
        .drop("_ch")
    )
    j = q.join(lid, id_col).join(canon, id_col)
    ok_len = (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
    ok_tl = (F.col("mean_token_len_x100") >= min_mean_token_len_x100) & (
        F.col("mean_token_len_x100") <= max_mean_token_len_x100
    )
    ok_lang = F.col("lang_pred") == lang
    return j.select(
        F.col(id_col),
        ok_len.cast("int").alias("ok_len"),
        ok_tl.cast("int").alias("ok_token_len"),
        ok_lang.cast("int").alias("ok_lang"),
        "is_canonical",
        (ok_len & ok_tl & ok_lang & (F.col("is_canonical") == 1)).cast("int").alias("keep"),
    )


def stratified_sample(
    df: DataFrame,
    rates_pct: dict[str, int],
    id_col: str = "doc_id",
    strata_col: str = "lang",
    default_pct: int = 0,
) -> DataFrame:
    """(id, stratum, bucket, keep INT) — deterministic hash-bucket
    stratified sampling: doc ``i`` lands in bucket
    ``int(md5(str(i))[:4], 16) % 100`` and is kept iff
    ``bucket < rates_pct[stratum]``. The corpus-mixing primitive
    (per-language / per-domain / per-quality-tier rates) with three
    properties random sampling lacks at 100 TB: reproducible across
    runs and partitionings, consistent when the corpus grows (a doc's
    verdict never changes), and exactly auditable (oracle-hashable —
    no RNG state). Pure projection: no shuffle at all.
    """
    bucket = hash_bucket(F.col(id_col), 100)
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.select(
        F.col(id_col).cast("bigint"),
        F.col(strata_col).alias("stratum"),
        bucket.alias("bucket"),
        (bucket < rate).cast("int").alias("keep"),
    )


def mix_corpus(
    df: DataFrame,
    weights_pct: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
    default_pct: int = 100,
) -> DataFrame:
    """(doc_id, source, epoch) — deterministic training-mix
    materialization: each source's weight is a sampling rate in
    PERCENT of one epoch (100 = every doc once, 250 = every doc twice
    plus a deterministic 50% once more, 30 = a 30% subsample, 0 =
    dropped). The Pile/LLaMA-style "epochs per dataset" knob as a
    relational operator: doc ``i`` with weight ``w`` is emitted
    ``w div 100`` times, plus once more iff its frozen md5 bucket
    (``hash_bucket(i, 100)``, shared with stratified_sample) is
    ``< w mod 100``. Fully reproducible, growth-consistent (a doc's
    copy count never changes as the corpus grows), no RNG.

    ``epoch`` numbers the copies 1..n — downstream shuffling/sharding
    can key on (doc_id, epoch) to interleave epochs.

    Scale shape: a pure projection + per-row ``sequence`` feeding an
    immediate explode (the accepted array-construction idiom — arrays
    are at most a few elements); no shuffle at all. Weights arrive as
    a literal CASE chain, not a join: the mix config is planning-time
    metadata, never data."""
    bad = {s: p for s, p in weights_pct.items() if p < 0}
    if bad or default_pct < 0:
        raise ValueError(f"mix weights must be >= 0 percent; got {bad or default_pct}")
    rate = F.lit(default_pct)
    for s, pct in sorted(weights_pct.items()):
        rate = F.when(F.col(source_col) == s, F.lit(pct)).otherwise(rate)
    bucket = hash_bucket(F.col(id_col), 100)
    n_copies = (F.floor(rate / 100) + (bucket < rate % 100).cast("int")).cast("int")
    copies = F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies)).otherwise(
        F.array().cast("array<int>")
    )
    return df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(copies).alias("epoch"),
    )


#: √-quantizer for temperature_mix: √n is floored at 3 decimal digits
#: (floor(√(n·10⁶))), so every downstream step is exact BIGINT.
SQRT_Q = 1_000_000


def temperature_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    budget_pct: int = 100,
) -> DataFrame:
    """(doc_id, source, epoch) — temperature sampling at τ = 2
    (α = 1/2): each source's share of the emitted budget is ∝ √n_i,
    the standard multilingual/multi-source flattening (UNIMAX-style —
    heads are damped, tails boosted) — :func:`mix_corpus` with the
    weights DERIVED from corpus statistics instead of hand-set.
    ``budget_pct`` scales the total emitted docs (100 ≈ one corpus
    worth, re-apportioned by √-share).

    Exactness contract: α = 1/2 is the one temperature that stays
    oracle-exact — IEEE sqrt of an exactly-representable integer is
    CORRECTLY ROUNDED (unlike pow/ln, which are libm-specific), and
    it is quantized immediately: sq_i = floor(√(n_i·10⁶)), then every
    later step is integer arithmetic. Per-source percent rate
    = (100·T·sq_i) div (S·n_i) with T = (budget_pct·N) div 100,
    S = Σ sq_i; per-doc copies then follow :func:`mix_corpus`'s
    frozen md5-bucket rule. int64 headroom: 100·T·sq_i < 2⁶³ bounds
    the corpus at ~2·10⁹ docs at the default quantizer.

    Scale shape: one partial/final count per source (a tiny table),
    a 1-row totals broadcast, a broadcast rate join back onto the
    corpus, and the same no-shuffle sequence/explode emission as
    mix_corpus — the corpus itself never shuffles.
    """
    # budget_pct is spliced into F.expr SQL below — a float (50.5)
    # would silently change the integer-div semantics, so reject
    # anything but a true non-negative int (bool is an int subclass)
    if not isinstance(budget_pct, int) or isinstance(budget_pct, bool) or budget_pct < 0:
        raise ValueError(f"budget_pct must be a non-negative int; got {budget_pct!r}")
    n = df.groupBy(source_col).agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    q = n.withColumn(
        "_sq", F.floor(F.sqrt(F.col("_n") * F.lit(SQRT_Q))).cast("bigint")
    )
    tot = q.agg(
        F.sum("_n").cast("bigint").alias("_tot_n"),
        F.sum("_sq").cast("bigint").alias("_tot_sq"),
    )
    rates = q.crossJoin(F.broadcast(tot)).select(
        source_col,
        F.expr(f"(100 * (({budget_pct} * _tot_n) div 100) * _sq) div (_tot_sq * _n)")
        .cast("bigint")
        .alias("_rate"),
    )
    joined = df.join(F.broadcast(rates), source_col).withColumn(
        "_bucket", hash_bucket(F.col(id_col), 100)
    )
    n_copies = F.expr(
        "(_rate div 100) + IF(_bucket < _rate % 100, 1, 0)"
    ).cast("int")
    copies = F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies)).otherwise(
        F.array().cast("array<int>")
    )
    return joined.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(copies).alias("epoch"),
    )


def quality_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    q: int = 10,
    counts: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, threshold) — keep every doc whose token
    count is ≥ the EXACT q-th percentile of the corpus: the
    global-statistic-dependent filter ("drop the shortest 10%") every
    curation pipeline needs, with the same frozen rank convention as
    length_quantiles (value at row ``ceil(n·q/100)`` of the
    (n_tokens, id) order).

    Scale shape: the corpus never sorts. A partial/final
    groupBy(n_tokens) collapses it to a value histogram (cardinality =
    distinct lengths, thousands at most), the cumulative rank is a
    window over that tiny single-partition table, and the one
    threshold row comes back as a broadcast nested-loop join (a 1-row
    cross join) — the fact side stays embarrassingly parallel. The
    approximate scale path for pathological value cardinality is
    ``percentile_approx``.

    The (id, n_tokens) projection feeds BOTH the threshold aggregate
    and the fact side, so it is persisted here (tiny — two ints per
    doc; LRU-evictable) to keep the expensive tokenize to ONE pass per
    action; pass a precomputed/persisted ``counts`` to share it with
    other consumers instead."""
    from pyspark.sql import Window

    if counts is None:
        counts = df.select(
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.size(tokens_col(F.col(text_col), apply_stoplist=False)).cast("bigint").alias("n_tokens"),
        ).persist()
    hist = counts.groupBy("n_tokens").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # tiny table: single-partition window is deliberate
    cum = hist.select(
        "n_tokens",
        F.sum("cnt").over(Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    thr = cum.where(F.col("cum") * 100 >= F.col("total") * q).agg(
        F.min("n_tokens").alias("threshold")
    )
    return counts.join(F.broadcast(thr)).where(F.col("n_tokens") >= F.col("threshold"))


def global_token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, doc_freq, total_cnt) — corpus-global vocabulary with
    document frequency (the IDF numerator/denominator pair as exact
    ints). One explode + one partial/final aggregate; the per-(doc,
    token) dedup for doc_freq rides the same shuffle via
    count(DISTINCT doc) — Catalyst expands it to a two-phase
    aggregate, still map-side-combined on token."""
    toks = df.select(
        F.col(id_col).alias("_doc"), F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count_distinct("_doc").cast("bigint").alias("doc_freq"),
        F.count(F.lit(1)).cast("bigint").alias("total_cnt"),
    )


def rarity_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, sum_doc_freq) — corpus-statistic quality
    signal in the CCNet spirit (Wenzek et al., LREC'20: score docs
    against corpus-level statistics): the occurrence-weighted document
    frequency of a doc's tokens. mean-df = sum_doc_freq / n_tokens is
    derivable (exact-int division); a LOW mean marks rare-token docs
    (OCR noise, codes, non-language) and a HIGH mean marks
    stopword-only boilerplate — both curation targets.

    Docs whose tokenization is empty produce no row (same as the
    unnest-based oracle).

    Scale shape: ONE tokenize pass and NO self-join — after the
    per-(doc, token) tf partial/final aggregate (so everything
    downstream carries (doc, token, tf) rows, never raw occurrences),
    doc_freq is an unordered count(*) window over the token
    partitioning: a whole-partition aggregate, no sort, and — unlike
    a df-rollup-and-rejoin — no second tokenize of the corpus (the
    pruned rollup branch can't reuse the probe side's exchange). A
    universal token concentrates its postings in one partition, but
    the window is linear in partition size (counting, not pairing),
    so high-df skew costs a scan, never a blow-up."""
    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token"),
    )
    from pyspark.sql import Window

    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("token")).cast("bigint")
    return (
        tf.withColumn("doc_freq", dfreq)
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("doc_freq")).cast("bigint").alias("sum_doc_freq"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    shards: int = 8,
) -> DataFrame:
    """(doc_id, shard, n_pieces, cum_before, seq_start, seq_end,
    offset_in_seq) — concat-and-chunk sequence packing, the standard
    LLM-pretraining layout: within a shard, documents are concatenated
    in a deterministic order and the token stream is cut into
    fixed-``capacity`` training sequences (documents may straddle a
    boundary — that IS the standard packing; the attention mask, not
    the layout, separates them). Emitted per document:

    - ``shard``       — md5 hash bucket of the id (``% shards``), the
      unit of parallel packing; at production scale one shard ≈ one
      output file, so ``shards`` is the parallelism lever and no
      global order exists (none is needed).
    - ``cum_before``  — pieces emitted before this doc in its shard
      (exclusive prefix sum over ``(shard) ORDER BY doc_id``).
    - ``seq_start`` / ``seq_end`` — first/last sequence index touched
      (``floor(cum_before / capacity)`` …); empty docs occupy none and
      report ``seq_end = seq_start``.
    - ``offset_in_seq`` — position of the doc's first piece within
      ``seq_start``.

    Token budget = the BPE-ish piece count (bpe_ish_token_counts) —
    the realistic LLM budget, not whitespace words. All exact ints.

    Scale shape: one codegen'd projection for the piece count, then a
    single window cumsum partitioned by shard — the only shuffle is
    the (shard, id, n) triple, never text; per-shard state is a
    running sum. Skew is bounded by the md5 bucketing.
    """
    from pyspark.sql import Window as W

    n_pieces = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)).cast("bigint")
    shard = hash_bucket(F.col(id_col), shards)
    base = df.select(F.col(id_col).cast("bigint").alias("doc_id"), shard.alias("shard"), n_pieces.alias("n_pieces"))
    w = W.partitionBy("shard").orderBy("doc_id")
    cum_before = (F.sum("n_pieces").over(w) - F.col("n_pieces")).cast("bigint")
    out = base.withColumn("cum_before", cum_before)
    # integer `div`, not floor(double/...) — exact at any stream length
    seq_start = F.expr(f"cum_before div {capacity}").cast("bigint")
    seq_end = F.expr(f"(cum_before + greatest(n_pieces, 1) - 1) div {capacity}").cast("bigint")
    return out.select(
        "doc_id",
        "shard",
        "n_pieces",
        "cum_before",
        seq_start.alias("seq_start"),
        seq_end.alias("seq_end"),
        (F.col("cum_before") % capacity).cast("bigint").alias("offset_in_seq"),
    )


def chunk_token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5) —
    overlapping token-window chunking, the per-document counterpart of
    :func:`pack_sequences`: RAG / fine-tuning corpora cut each document
    into fixed-``window`` token chunks every ``stride`` tokens
    (``window - stride`` tokens of overlap so no boundary context is
    lost). Chunk starts are ``0, stride, 2·stride, …`` while the start
    lands inside the document, so every token is covered and the last
    chunk may be short (``chunk_len < window``). Token-less documents
    emit no chunks (P4 empty-bag-drop semantics). ``chunk_md5`` is the
    md5 of the space-joined chunk tokens — the dedup/id handle — so the
    output stays narrow and DuckDB-hash-exact (text itself never leaves
    the stage).

    Scale shape: tokenize → explode the start positions (a generator in
    the same codegen stage — the token array is built once per document
    and sliced per chunk WITHOUT shuffling; only the narrow
    (id, idx, start, len, md5) rows leave the scan stage). No joins, no
    aggregation, no window functions — embarrassingly parallel, so it
    survives any scale-up as long as single documents fit a task (the
    same bound every per-document op here has). The ``slice`` +
    ``array_join`` ride after the explode as relational projections
    (the accepted transform-feeding-explode plan shape; the lambda-free
    hot path does md5 post-explode).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        # gaps of (stride - window) tokens between chunks would
        # silently drop text from the training corpus — the docstring
        # promises every token is covered
        raise ValueError("stride must be <= window (every token covered)")
    toks = tokens_col(F.col(text_col), apply_stoplist=False)
    base = df.select(F.col(id_col).cast("bigint").alias("doc_id"), toks.alias("toks")).withColumn(
        "n", F.size("toks").cast("bigint")
    )
    starts = base.where(F.col("n") > 0).select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n") - 1, F.lit(stride).cast("bigint"))).alias(
            "chunk_start"
        ),
    )
    return starts.select(
        "doc_id",
        F.expr(f"chunk_start div {stride}").cast("bigint").alias("chunk_idx"),
        F.col("chunk_start").cast("bigint"),
        F.least(F.lit(window).cast("bigint"), F.col("n") - F.col("chunk_start")).alias("chunk_len"),
        F.md5(
            F.array_join(F.slice(F.col("toks"), F.col("chunk_start") + 1, F.lit(window)), " ").cast("binary")
        ).alias("chunk_md5"),
    )


def length_quantiles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    qs: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """(stratum, q, n_docs, q_value) — EXACT per-stratum quantiles of
    the per-document token count (the corpus length profile a curation
    pipeline monitors). Frozen definition: the q-th percentile is the
    value at row ``ceil(n·q/100)`` of the stratum ordered by
    (n_tokens, doc_id) — integer arithmetic only, so the DuckDB oracle
    hash-matches (approx sketches never would; at 100 TB you would
    point this at a stratified sample or accept a sketch, but the
    exact form is the auditable one).

    Shape: one tokenize+count projection, ONE window rank over
    (stratum) — the same shuffle a groupBy(stratum) would pay — then a
    fanout of the (tiny) ranked rows over the q list and a selective
    filter. Nothing but (stratum, n, id) triples ever shuffle.
    """
    from pyspark.sql import Window as W

    counts = df.select(
        F.col(strata_col).alias("stratum"),
        F.col(id_col).cast("bigint").alias("_id"),
        F.size(tokens_col(F.col(text_col), apply_stoplist=False)).cast("bigint").alias("n_tokens"),
    )
    w = W.partitionBy("stratum").orderBy("n_tokens", "_id")
    ranked = counts.select(
        "stratum",
        "n_tokens",
        F.row_number().over(w).cast("bigint").alias("_rn"),
        F.count(F.lit(1)).over(W.partitionBy("stratum")).cast("bigint").alias("n_docs"),
    )
    fan = ranked.select(
        "stratum", "n_tokens", "_rn", "n_docs", F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    )
    hit = fan.where(F.col("_rn") == F.expr("(n_docs * q + 99) div 100"))
    return hit.select(
        "stratum", F.col("q").cast("int").alias("q"), "n_docs", F.col("n_tokens").alias("q_value")
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(doc_id, token, tf, doc_freq, score_q, rank) — the top-``k``
    salient terms of every document by tf·idf (idf = ln(N/df), N =
    all docs in ``df``): per-doc keyword extraction for labeling,
    faceting, and cluster naming — the document-side sibling of the
    query-side :func:`bm25_topk`.

    Cross-engine exactness: the score is quantized
    ``floor(1e6 · tf · ln(N/df))`` per (doc, term) — the same frozen
    float-expression-then-floor contract as bm25_topk (one
    parenthesization, mirrored verbatim in the oracle); ranking and
    tie-break (score_q DESC, token ASC) are then exact-integer.

    Scale shape: ONE tokenize pass, no token self-join — df rides a
    count window over the token partitioning of the per-(doc, token)
    tf aggregate (same shape as :func:`rarity_score`), N is a 1-row
    broadcast, and the top-k is a row_number window over doc_id: three
    key shuffles total ((doc, token) → token → doc), each carrying
    only id/count columns, never text."""
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    wdf = tf.withColumn(
        "doc_freq", F.count(F.lit(1)).over(W.partitionBy("token")).cast("bigint")
    )
    n = df.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # frozen parenthesization — mirrored character-for-character in the
    # oracle SQL; do not "simplify" (float grouping must match)
    score_q = F.floor(
        F.lit(1000000.0) * F.col("tf") * F.log(F.col("n") / F.col("doc_freq"))
    ).cast("bigint")
    scored = wdf.crossJoin(F.broadcast(n)).select(
        "doc_id", "token", "tf", "doc_freq", score_q.alias("score_q")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "doc_freq", "score_q", "rank")
    )


def top_tokens(df: DataFrame, text_col: str = "text", k: int = 50) -> DataFrame:
    """(token, cnt) global top-k corpus tokens (FLATTEN/explode + count
    + top-k — the P4/P7/P15 composition over free text)."""
    return (
        df.select(F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def positional_index(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, doc_id, tf, positions ARRAY<INT>) — the positional
    inverted index (postings with in-document positions, ascending):
    the search-export sibling of :func:`global_token_stats`, and the
    input a phrase-query or proximity-scoring layer needs.

    Scale shape: one posexplode + one partial/final aggregate keyed on
    (token, doc_id) — positions ride the same shuffle as the tf count,
    sorted per posting after collection (bounded by document length,
    never corpus-sized). Postings stay columnar (array<int>), not
    rendered strings; a sink can lay them out however the serving
    index wants. Per-token posting-LIST length (document frequency) is
    unbounded — but it is never materialized per token here; the
    (token, doc_id) key keeps hot tokens spread across partitions.
    """
    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("pos", "token"),
    )
    return toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos"))).alias("positions"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """(doc_id, matched_terms, dl, score_q) — top-``k`` documents by
    BM25 (k1=1.2, b=0.75) for a bag-of-words query: the ranked-
    retrieval layer on top of :func:`global_token_stats` /
    :func:`positional_index` (idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    Robertson-Spärck Jones; N = all docs in ``df``, avgdl over them).

    Cross-engine exactness: each (doc, term) score is quantized to
    1e-6 (``floor``) BEFORE the per-document sum, so the hashed
    ``score_q`` column is an exact BIGINT sum — float addition order
    across engines can never flip it. The only float ops are the
    per-term idf/tf-norm expression, written with one frozen
    parenthesization mirrored verbatim in the oracle.

    Repeated query terms are collapsed (``set`` semantics) — a term
    contributes once no matter how often it appears in the query.

    Scale shape: ONE tokenize pass and ONE corpus-sized shuffle —
    conditional aggregation computes dl and every query term's tf in
    the same ``groupBy(doc_id)`` (|query| extra sum columns, fine for
    bag-of-words queries; ``explode_outer`` + ``count(token)`` keep
    token-empty docs in N), and the ONLY other aggregate is the 1-row
    corpus-stats rollup (sum_dl, N, and every term's df = docs with
    tf>0) — same input columns as the main branch, so the per-doc
    exchange dedups via ReuseExchange and the stats ride back as a
    broadcast. No join on token at all; the per-term rows unpivot out
    of the broadcast product. Top-k is TakeOrderedAndProject (no
    global sort materialization), deterministic via the
    (score_q DESC, doc_id ASC) total order.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qts = sorted(set(query_terms))
    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode_outer(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("token").cast("bigint").alias("dl"),
        *[
            F.sum(F.when(F.col("token") == F.lit(t), 1).otherwise(0))
            .cast("bigint")
            .alias(f"_tf{i}")
            for i, t in enumerate(qts)
        ],
    )
    stats = per_doc.agg(
        F.sum("dl").cast("bigint").alias("sum_dl"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("bigint")).cast("bigint").alias(f"_dft{i}")
            for i in range(len(qts))
        ],
    )
    unpivot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("token"),
                    F.col(f"_tf{i}").alias("tf"),
                    F.col(f"_dft{i}").alias("dft"),
                )
                for i, t in enumerate(qts)
            ]
        )
    )
    j = (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", "sum_dl", "n", unpivot.alias("p"))
        .select(
            "doc_id",
            "dl",
            "sum_dl",
            "n",
            F.col("p.tf").alias("tf"),
            F.col("p.dft").alias("dft"),
        )
        .where(F.col("tf") > 0)
    )
    # frozen parenthesization — mirrored character-for-character in the
    # oracle SQL; do not "simplify" (float grouping must match)
    avgdl = F.col("sum_dl") / F.col("n")
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5)))
    tfn = (F.col("tf") * (F.lit(1.2) + F.lit(1.0))) / (
        F.col("tf") + F.lit(1.2) * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / avgdl)
    )
    term_q = F.floor(F.lit(1000000.0) * idf * tfn).cast("bigint")
    return (
        j.select("doc_id", "dl", term_q.alias("term_q"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("matched_terms"),
            F.min("dl").alias("dl"),
            F.sum("term_q").cast("bigint").alias("score_q"),
        )
        .orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def phrase_search(
    df: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_matches, first_pos) — documents containing the exact
    consecutive token phrase, with occurrence count and the first match
    position: the phrase-query layer the positional index
    (:func:`positional_index`) exists to serve, here as one relational
    pass for ad-hoc queries.

    Scale shape: posexplode once, then ONE window pass per doc ordered
    by position carrying ``lead(token, i)`` for each phrase offset —
    a single hash shuffle on doc_id, no per-term self-joins (the join
    formulation costs |phrase|-1 shuffles and collapses on hot terms).
    The match predicate is a plain conjunction evaluated in-partition;
    the final per-doc count rides the same partitioning.
    """
    from pyspark.sql import Window

    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cond = F.col("token") == F.lit(phrase_terms[0])
    for i, t in enumerate(phrase_terms[1:], start=1):
        cond = cond & (F.lead("token", i).over(w) == F.lit(t))
    return (
        toks.withColumn("_hit", cond)
        .where(F.col("_hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )


def collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    k: int = 100,
) -> DataFrame:
    """(tok_a, tok_b, cnt_xy, cnt_x, cnt_y) — the global top-``k``
    bigram collocations ranked by the PMI-ordering score
    cnt_xy/(cnt_x·cnt_y) (log and the constant token total N drop out
    of the ordering), ties broken on (tok_a, tok_b). The phrase-mining
    primitive (Church & Hanks 1990) a tokenizer-vocabulary or
    entity-lexicon pass derives from a corpus.

    Every emitted column is an exact integer; the ranking divides
    exact ints (IEEE-identical cross-engine). ``min_count`` prunes the
    hapax tail BEFORE the unigram joins — at web scale the ≥2 filter
    drops the vast majority of distinct bigrams. The top-k is a
    TakeOrdered (per-partition heap + driver merge), not a global
    sort. Bigram construction is the accepted transform+slice →
    immediate-explode pattern (CLAUDE.md): counting happens after the
    explode as a relational aggregate.
    """
    from pignlproc_spark.operators.dedup import tokens_once

    # generator boundary: the bigram lambda references _t per element
    t = df.select(tokens_once(F.col(text_col)).alias("_t"))
    bi = (
        t.select(
            F.explode(
                F.expr(
                    "transform(slice(_t, 1, greatest(size(_t)-1, 0)),"
                    " (x, i) -> struct(x AS a, element_at(_t, i+2) AS b))"
                )
            ).alias("bg")
        )
        .groupBy(F.col("bg.a").alias("tok_a"), F.col("bg.b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt_xy"))
        .where(F.col("cnt_xy") >= min_count)
    )
    uni = (
        t.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    j = bi.join(
        uni.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("cnt_x")), "tok_a"
    ).join(uni.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_y")), "tok_b")
    # the ordering product runs in DOUBLE: BIGINT·BIGINT wraps (or
    # ANSI-throws) past ~4.3e9-count tokens at web scale, while the
    # double chain (convert, multiply, divide — each correctly rounded)
    # is bit-identical in both engines and cannot overflow
    score = F.col("cnt_xy") / (F.col("cnt_x").cast("double") * F.col("cnt_y").cast("double"))
    return (
        j.orderBy(score.desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(k)
        .select("tok_a", "tok_b", "cnt_xy", "cnt_x", "cnt_y")
    )


# ---------------------------------------------------------------------------
# PII scrubbing ("CCPii v1" — frozen pattern spec)
#
# The four patterns below are the single source of truth for both the
# Spark path (Java regex) and the DuckDB oracle (RE2): they use only
# character classes, non-capturing groups, bounded quantifiers and \b,
# which behave identically under Java's backtracking-greedy and RE2's
# leftmost-first semantics (no alternation-order divergence is
# possible). Replacement tokens are letter-only so a later pattern can
# never re-match inside an earlier replacement.
#
# The ONE documented dialect gap is \b: RE2's is ASCII-word-boundary,
# Java's is Unicode-aware (é/汉 count as word chars, so Java sees no
# boundary in "é10.0.0.7" and silently skips the IP — found by the
# cross-engine fuzz). The spec freezes the ASCII semantics; the Java
# rendering therefore replaces \b with the explicit ASCII-boundary
# lookaround below (RE2 has no lookaround, but RE2's plain \b already
# IS the spec'd behavior).
# ---------------------------------------------------------------------------

# position-independent ASCII \b for Java regex: a word/non-word edge
# measured against [0-9A-Za-z_] only
_ASCII_B = r"(?:(?<![0-9A-Za-z_])(?=[0-9A-Za-z_])|(?<=[0-9A-Za-z_])(?![0-9A-Za-z_]))"

PII_PATTERNS: list[tuple[str, str, str]] = [
    # (name, regex, replacement) — applied IN ORDER, each step counting
    # matches in the text as already scrubbed by the previous steps
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ips", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("ids", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<IDNUM>"),
    # international-format phones only (leading +): unanchored local
    # formats false-positive on ordinary numbers; a web-scale scrub
    # errs conservative
    ("phones", r"\+[0-9](?:[ -]?[0-9]){6,13}", "<PHONE>"),
]


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Scrub common PII from a document corpus —

        (id, clean_text, n_emails, n_ips, n_ids, n_phones)

    Emails, IPv4 addresses, SSN-shaped ids, and international-format
    phone numbers are replaced by typed placeholder tokens; per-category
    counts (BIGINT) are taken sequentially (each category counted in
    the text as scrubbed by the previous categories, so an email's
    digits are never double-counted as a phone). This is the standard
    redaction pass a training-data pipeline runs before packing
    (reference analogue: none — the Pig-era engine predates PII
    policy; spec'd from public C4/CCNet-style curation practice).

    Scale shape: one projection, all ``regexp_replace``/
    ``regexp_extract_all`` built-ins — fully codegen'd, no shuffle, no
    Python. At 100 TB this runs at scan speed.
    """
    t = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        jpat = pat.replace(r"\b", _ASCII_B)  # spec'd ASCII boundary
        counts.append(F.size(F.regexp_extract_all(t, F.lit(jpat), 0)).cast("bigint").alias(f"n_{name}"))
        t = F.regexp_replace(t, jpat, repl)
    return df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        t.alias("clean_text"),
        *counts,
    )


def pii_scrub_sql(text_expr: str = "text") -> tuple[str, list[str]]:
    """The DuckDB rendering of the same CCPii v1 spec: returns
    ``(clean_text_expr, [count_exprs])`` built from :data:`PII_PATTERNS`
    so the oracle can never drift from the Spark path. DuckDB's
    ``regexp_replace`` needs the explicit ``'g'`` flag (Spark is global
    by default)."""
    t = text_expr
    count_exprs = []
    for name, pat, repl in PII_PATTERNS:
        count_exprs.append(
            f"len(regexp_extract_all({t}, '{pat}'))::BIGINT AS n_{name}"
        )
        t = f"regexp_replace({t}, '{pat}', '{repl}', 'g')"
    return t, count_exprs


def novelty_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, n_distinct_grams, n_novel_grams) — corpus-order n-gram
    novelty: a document's distinct token ``n``-gram is *novel* iff this
    document has the minimum id among all documents containing it.
    ``n_novel/n_distinct`` is the novelty ratio used for dataset
    diversity/curriculum curation (a doc of entirely already-seen
    n-grams adds nothing; dedup's blind spot — remixes — shows up
    here). Exact integers; docs with < n tokens emit zeros.

    Scale shape: one tokenize pass → distinct (doc, gram) aggregate
    (map-side combine absorbs the window fanout) → gram-level min-doc
    aggregate → equi-join back on gram → per-doc count. Nothing wider
    than (doc_id, gram) ever shuffles, and the gram join is
    co-partitioned with the min-doc aggregate's output partitioning.
    Shares the frozen :func:`~pignlproc_spark.operators.dedup.window_expr`
    shingle spec with every other window operator.
    """
    from pignlproc_spark.operators.dedup import tokens_once, window_expr

    # tokens_once: generator boundary (see dedup.tokens_once) — the
    # window lambda must slice an attribute, not re-tokenize per gram
    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        tokens_once(F.col(text_col)).alias("_toks"),
    )
    d = (
        toks.select("doc_id", F.explode(F.expr(window_expr(n))).alias("g"))
        .distinct()
    )
    first = d.groupBy("g").agg(F.min("doc_id").alias("_first"))
    agg = (
        d.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
            F.sum((F.col("doc_id") == F.col("_first")).cast("int")).cast("bigint").alias("n_novel_grams"),
        )
    )
    base = toks.select("doc_id")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)  # noqa: E731
    return base.join(agg, "doc_id", "left").select(
        "doc_id", z("n_distinct_grams"), z("n_novel_grams")
    )


def line_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-wide line deduplication (the CCNet/RefinedWeb boilerplate
    pass: navigation bars, cookie banners and footers repeat VERBATIM
    across a site's pages at line granularity) —

        (id, n_lines, n_kept, clean_text)

    A line survives iff it is the corpus-FIRST occurrence of its
    content: minimum (doc_id, line_idx) over all identical lines.
    Later copies anywhere (other docs or the same doc) drop. Empty
    lines never survive. ``clean_text`` rejoins the survivors in
    original order with ``\\n``.

    Scale shape: posexplode lines → one aggregate keyed on the line
    HASH (md5 — the exchange carries 32-byte keys, not line bodies) →
    equi-join back → per-doc sorted re-assembly. Nothing wider than
    (hash, doc, idx) shuffles twice; no self-join, no window over the
    corpus. Determinism: (doc_id, idx) is a total order, so the kept
    set is unique.
    """
    lines = (
        df.select(
            F.col(id_col).cast("bigint").alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
        )
        .where(F.col("line") != "")
        .select("doc_id", "idx", "line", F.md5(F.col("line").cast("binary")).alias("_h"))
    )
    first = lines.groupBy("_h").agg(
        F.min(F.struct("doc_id", "idx")).alias("_first")
    )
    kept = (
        lines.join(first, "_h")
        .where((F.col("doc_id") == F.col("_first.doc_id")) & (F.col("idx") == F.col("_first.idx")))
        .select("doc_id", "idx", "line")
    )
    n_all = lines.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("idx", "line"))), lambda s: s["line"]),
            "\n",
        ).alias("clean_text"),
    )
    base = df.select(F.col(id_col).cast("bigint").alias("doc_id"))
    return (
        base.join(n_all, "doc_id", "left")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def bigram_surprisal(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, surprisal2_q) — per-document mean negative
    log-likelihood under the corpus's own add-one-smoothed CONDITIONAL
    bigram model: the next step up from :func:`unigram_surprisal`
    toward CCNet's KenLM gate, still with no external artifact.

        P(b|a)       = (c(ab) + 1) / (c(a·) + V)      Laplace, k=1
        nll_q(ab)    = floor(1e6 · ln((c(a·) + V) / (c(ab) + 1)))
        surprisal2_q = floor(Σ_pos nll_q / n_bigrams(d))

    with c(a·) = Σ_b c(ab) (occurrences of ``a`` as a left context)
    and V = distinct unigram types. Self-scoring means every document
    bigram exists in the counts (c(ab) ≥ 1) — no OOV/backoff path;
    scoring NEW text against a frozen model would need one (documented
    out of scope for v1). HIGH = locally incoherent token order (the
    signal unigrams can't see: shuffled text scores high here while
    its unigram surprisal is unchanged); LOW = repetitive boilerplate.

    Same float-then-floor contract as BM25/tf-idf/unigram surprisal
    (quantize per distinct bigram BEFORE the integer sum; exact-int
    division last) → DuckDB hash-exact. Docs with < 2 tokens produce
    no row (no bigram positions — unnest parity).

    Scale shape: adjacent pairs are built per row by the accepted
    transform→immediate-explode pattern (no window, no self-join);
    corpus model = two aggregations of that table plus a 1-row (V)
    distinct-count broadcast; the per-doc score re-joins the doc-level
    bigram counts to the (a, b)-keyed model co-partitioned by the
    aggregation's own layout. Two corpus scans total (bigram table +
    the V count) — fuse with a persisted token projection if the scan
    dominates.
    """
    from pignlproc_spark.operators.dedup import tokens_once

    toks = tokens_col(F.col(text_col), apply_stoplist=False)
    bg = (
        # tokens_once boundary: the pair lambda indexes _t per element
        df.select(F.col(id_col).cast("bigint").alias("doc_id"), tokens_once(F.col(text_col)).alias("_t"))
        .where(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1),"
                    " j -> named_struct('a', _t[j-1], 'b', _t[j]))"
                )
            ).alias("p"),
        )
        .groupBy("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    c_ab = bg.groupBy("a", "b").agg(F.sum("tf").cast("bigint").alias("c_ab"))
    c_a = c_ab.groupBy("a").agg(F.sum("c_ab").cast("bigint").alias("c_a"))
    vocab = df.select(F.explode(toks).alias("tok")).agg(
        F.count_distinct("tok").cast("bigint").alias("v")
    )
    nll = (
        c_ab.join(c_a, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (F.col("c_a") + F.col("v")).cast("double")
                    / (F.col("c_ab") + F.lit(1)).cast("double")
                )
            )
            .cast("bigint")
            .alias("nll_q"),
        )
    )
    return (
        bg.join(nll, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.floor(F.sum(F.col("tf") * F.col("nll_q")) / F.sum("tf"))
            .cast("bigint")
            .alias("surprisal2_q"),
        )
    )


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 8192,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, dsir_logw_q) — DSIR importance log-weights
    (Data Selection via Importance Resampling, Xie et al., NeurIPS'23):
    score every RAW document by how much more likely its hashed n-gram
    profile is under the TARGET distribution than under the raw one,

        features(d) = unigrams ∪ adjacent bigrams, md5-bucketed mod B
        p̂[h] = (c_t[h] + 1) / (N_t + B)     target, Laplace k=1
        q̂[h] = (c_r[h] + 1) / (N_r + B)     raw
        log w(d) = Σ_h c(h, d) · lr_q[h]
        lr_q[h]  = floor(1e6 · ln((c_t[h]+1)·(N_r+B) / ((c_r[h]+1)·(N_t+B))))

    HIGH = target-like (select these, or sample ∝ softmax as the paper
    does — the deterministic top-fraction cut composes with
    :func:`quality_gate`). The paper's Gumbel-noise resampling step is
    a trivial downstream `rand()`-free variant left to callers so the
    score itself stays deterministic/oracle-checkable.

    Bucketing is the frozen :func:`hash_bucket` md5 spec applied to
    the gram string (bigram = ``a || chr(31) || b``, the engine-wide
    pair separator). Quantize-per-bucket-then-integer-sum contract as
    BM25/surprisal → DuckDB hash-exact. Token-empty docs emit no row
    (no grams — unnest parity). An empty target degrades to the pure
    smoothing prior (every c_t = 0), not an error.

    Scale shape: one gram explode per corpus; per-doc bucket counts
    (≤ B distinct per doc) aggregate map-side; BOTH corpus models are
    bucket-keyed rollups of those tables (≤ B rows each) so the
    log-ratio table is a broadcast join back onto the per-doc counts —
    the corpus never shuffles on anything wider than (doc_id, bucket).
    c_r reuses the raw per-doc table (one logical raw scan; persist it
    if recomputation dominates at scale).
    """
    sep = "\x1f"

    def grams(df_: DataFrame) -> DataFrame:
        from pignlproc_spark.operators.dedup import tokens_once

        return (
            # tokens_once boundary: the gram lambda indexes _t per element
            df_.select(F.col(id_col).cast("bigint").alias("doc_id"), tokens_once(F.col(text_col)).alias("_t"))
            .where(F.size("_t") >= 1)
            .select(
                "doc_id",
                F.explode(
                    F.concat(
                        F.col("_t"),
                        F.when(
                            F.size("_t") >= 2,
                            F.expr(
                                "transform(sequence(1, size(_t) - 1),"
                                f" j -> concat(_t[j-1], '{sep}', _t[j]))"
                            ),
                        ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)")),
                    )
                ).alias("gram"),
            )
            .select("doc_id", hash_bucket(F.col("gram"), n_buckets).alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )

    raw_docs = grams(raw)
    c_r = raw_docs.groupBy("bucket").agg(F.sum("tf").cast("bigint").alias("c_r"))
    c_t = grams(target).groupBy("bucket").agg(F.sum("tf").cast("bigint").alias("c_t"))
    n_r = c_r.agg(F.sum("c_r").cast("bigint").alias("n_r"))
    n_t = c_t.agg(F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("n_t"))
    b = F.lit(int(n_buckets)).cast("bigint")
    lr = (
        c_r.join(c_t, "bucket", "left")
        .na.fill({"c_t": 0})
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_t))
        .select(
            "bucket",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    ((F.col("c_t") + F.lit(1)).cast("double") * (F.col("n_r") + b).cast("double"))
                    / ((F.col("c_r") + F.lit(1)).cast("double") * (F.col("n_t") + b).cast("double"))
                )
            )
            .cast("bigint")
            .alias("lr_q"),
        )
    )
    return (
        raw_docs.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_grams"),
            F.sum(F.col("tf") * F.col("lr_q")).cast("bigint").alias("dsir_logw_q"),
        )
    )


def unigram_surprisal(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, surprisal_q) — per-document mean self-information
    under the corpus's own unigram model, the CCNet perplexity
    surrogate (Wenzek et al., LREC'20 score documents against an LM;
    the unigram model needs no external artifact):

        nll_q(t)    = floor(1e6 · ln(N / c(t)))      per vocab term
        surprisal_q = floor(Σ_t c(t,d) · nll_q(t) / n_tokens(d))

    HIGH = rare-token-dense (OCR noise, codes, non-language); LOW =
    boilerplate/stopword soup — the two tails a perplexity gate trims.
    Same float-then-floor contract as BM25/tf-idf (quantize per term
    BEFORE the integer sum → DuckDB hash-exact); exact-int division
    last. Empty-tokenization docs produce no row (unnest parity).

    Scale shape: ONE tokenize pass — (doc, tok) counts, a tok-level
    corpus-count aggregate joined back on tok (co-partitioned with the
    aggregate's own output), a 1-row N broadcast; no self-join, no
    window over the corpus.
    """
    tf = (
        df.select(F.col(id_col).cast("bigint").alias("doc_id"), F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    cf = tf.groupBy("tok").agg(F.sum("tf").cast("bigint").alias("cf"))
    n_total = cf.agg(F.sum("cf").cast("double").alias("n"))
    nll = cf.crossJoin(F.broadcast(n_total)).select(
        "tok",
        F.floor(F.lit(1000000.0) * F.log(F.col("n") / F.col("cf").cast("double"))).cast("bigint").alias("nll_q"),
    )
    return (
        tf.join(nll, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.floor(F.sum(F.col("tf") * F.col("nll_q")) / F.sum("tf")).cast("bigint").alias("surprisal_q"),
        )
    )


def readability_signals(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_words, n_sentences, n_vowel_groups, fk_q100) — a
    frozen integer Flesch-Kincaid surrogate ("CCRead v1"), the
    readability gate some curation recipes layer on top of the C4
    rules (grade-band selection for educational corpora):

    - words      = frozen-tokenizer token count (functions/tokenize);
    - sentences  = runs of ``[.!?]+`` (terminal punctuation clusters);
    - vowel groups = runs of ``[aeiouy]+`` in the lowercased text —
      the standard syllable proxy (exact syllabification needs a
      dictionary; the proxy is monotone with it on English);
    - fk_q100    = (39·W) div max(S,1) + (1180·V) div max(W,1) − 1559
      — Flesch-Kincaid grade ×100 with each term floor-divided
      (exact integers, so the DuckDB oracle hash-matches; both
      engines' integer division agrees on the all-positive operands).

    Pure projection: rides the scan like the other quality signals.
    """
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.size(tokens_col(t, apply_stoplist=False)).cast("bigint").alias("n_words"),
        F.regexp_count(t, F.lit("[.!?]+")).cast("bigint").alias("n_sentences"),
        F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast("bigint").alias("n_vowel_groups"),
    )
    return base.withColumn(
        "fk_q100",
        F.expr(
            "(39 * n_words) div greatest(n_sentences, 1) "
            "+ (1180 * n_vowel_groups) div greatest(n_words, 1) - 1559"
        ).cast("bigint"),
    )


def count_of_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(r, n_r, r_star_q) — frequency-of-frequencies of the corpus
    vocabulary plus the simple Good-Turing adjusted count (Gale &
    Sampson'95 without smoothing of the n_r curve, the auditable
    exact form): r* = (r+1)·n_{r+1}/n_r, reported ×1000 floor-divided
    so the DuckDB oracle hash-matches (``r_star_q``); NULL where
    n_{r+1} = 0 (no adjustment defined). The (r=1, n_1) row is the
    unseen-mass numerator an LM/curation pipeline monitors (hapax
    share), and the n_r curve is the vocabulary profile that detects
    template/boilerplate corpora (mass piled on a few huge r).

    Scale shape: one tokenize pass → token-count aggregate (the same
    partial/final shuffle every vocabulary query pays) → a second
    aggregate on r whose output is tiny (distinct frequency values ~
    O(thousands) even at 100 TB), then a self-join on r+1 that Spark
    broadcasts. The corpus never shuffles twice; intermediate products
    ride DECIMAL(38,0) so ANSI mode cannot overflow-throw on
    (r+1)·n_{r+1}·1000 at web scale.
    """
    toks = df.select(F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    cofc = freq.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    nxt = cofc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next"))
    return (
        cofc.join(F.broadcast(nxt), "r", "left")
        .select(
            "r",
            "n_r",
            F.expr(
                "CAST(((CAST(r AS DECIMAL(38,0)) + 1) * n_next * 1000) DIV n_r AS BIGINT)"
            ).alias("r_star_q"),
        )
    )


def vocab_growth(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bucket_docs: int = 1000
) -> DataFrame:
    """(bucket, n_tokens, new_types, cum_types, cum_tokens) — the
    Heaps-law vocabulary-growth curve: documents in ``id_col`` order
    are grouped into buckets of ``bucket_docs``; a type is NEW in the
    bucket holding the smallest doc id that contains it. cum_types vs
    cum_tokens is the V(N) curve whose flattening (or refusal to
    flatten) diagnoses template corpora vs OCR-noise corpora during
    curation.

    Scale shape: one tokenize pass feeding BOTH aggregates — per-token
    min(doc_id) (first occurrence) and per-bucket token totals — then
    the cumulative window runs over the BUCKET table only (rows =
    docs/bucket_docs; pick bucket_docs so that is thousands at target
    scale, never the corpus). The single-partition window is on that
    tiny table, not on data: the 100-TB cost is the two token-keyed
    aggregates, both map-side combined.

    Buckets whose docs tokenize to nothing produce no row (both
    aggregates are token-row-derived; the oracle mirrors this).
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).cast("bigint").alias("_doc"),
        F.explode(tokens_col(F.col(text_col), apply_stoplist=False)).alias("token"),
    )
    per_bucket_tokens = toks.groupBy(
        F.expr(f"_doc DIV {int(bucket_docs)}").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    first = toks.groupBy("token").agg(F.min("_doc").alias("_first"))
    new_types = first.groupBy(
        F.expr(f"_first DIV {int(bucket_docs)}").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    joined = per_bucket_tokens.join(new_types, "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        "bucket",
        "n_tokens",
        "new_types",
        F.sum("new_types").over(w).cast("bigint").alias("cum_types"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )
