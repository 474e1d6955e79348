"""Document deduplication: MinHash LSH near-duplicates, transitive
clustering, history dedup and eval-set decontamination spans.

Not part of the reference (pignlproc predates web-scale dedup), but a
first-class requirement for a 100 TB training-data pipeline. Every
primitive here is **pure Spark built-ins** (whole-stage codegen, no
Python), and every hash is md5-based so the DuckDB oracle in
__spark_entry__ can reproduce results bit-for-bit.

Scale notes:

- MinHash/LSH: signatures are 32-bit lanes of ⌈bands/4⌉ keyed md5s per
  shingle (bands × 1 row; at 4 bands P(candidate) ≈ 1−(1−J)⁴ ≈ 0.94 at
  J=0.5, 0.998 at J=0.8; 8–16 bands for high-recall configs); the only
  shuffle is the tiny (band, sig) bucket join, and the verify step
  re-checks candidates with exact Jaccard so LSH recall tuning never
  affects correctness, only cost.
- All-pairs Jaccard is quadratic — only for bounded subsets / the
  verify step on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pignlproc_spark.functions.tokenize import tokens_col

DEFAULT_BANDS = 4  # lanes carved from one md5 per shingle (see below)


def _tokens(text_col):
    return tokens_col(text_col, apply_stoplist=False)


def tokens_once(text_col):
    """The engine tokens expression routed through a GENERATOR
    BOUNDARY — ``explode(array(tokens))`` — so the token array lands
    as a real attribute before any window/transform lambda slices it.

    Without the boundary, Catalyst's project collapse inlines the
    whole regexp+filter tokenize expression into every reference
    inside the downstream :func:`window_expr` lambda, and the text
    re-tokenizes once PER WINDOW ELEMENT — measured 15× on minhash
    signatures at sf0.1 (13.3 s → 0.85 s for the byte-identical
    shingle multiset). The 1-element array explode is free (exactly
    one Generate row per input row; NULL text still yields its row
    with a NULL array, same as the plain projection) and Generate is
    whole-stage-codegen'd, so plan semantics and outputs are
    unchanged — only the evaluation count of the tokenizer drops.

    Use as ``df.select(id, tokens_once(F.col(text)).alias("_toks"))``
    anywhere the token array feeds a higher-order window expression.
    A lazy ``localCheckpoint`` is an equally hard boundary — sites
    that already checkpoint their token table for multi-consumer
    sharing don't need this."""
    return F.explode(F.array(_tokens(text_col)))


def _token_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, tok ARRAY<STRING>) — the distinct-token set every Jaccard
    consumer uses. Single-sourced: the streaming/batch equivalence
    contract (streaming/neardup.py) depends on all verify paths
    tokenizing identically."""
    return df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.array_distinct(_tokens(F.col(text_col))).alias("tok"),
    )


def window_expr(n: int, toks_col: str = "_toks") -> str:
    """The FROZEN token-window shingle expression shared by every
    window-hashing operator (minhash shingles, contamination spans,
    repetition grams) and mirrored by the DuckDB oracles: all
    space-joined runs of ``n`` consecutive tokens, empty array below
    ``n`` tokens. Single-sourced — a divergence between copies would
    silently break oracle hash-parity. (Array construction inside a
    transform lambda feeding an immediate explode is the accepted
    HOF exception in CLAUDE.md plan rules: the expensive work — md5,
    aggregation — sits after the explode as relational projections.)"""
    return (
        f"case when size({toks_col}) >= {n} then "
        f"transform(sequence(1, size({toks_col}) - {n - 1}), i -> concat_ws(' ', slice({toks_col}, i, {n}))) "
        "else array() end"
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Adds ``shingles`` ARRAY<STRING>: word n-grams (space-joined),
    built-ins only; empty array when the doc has < n tokens.

    Both arrays arrive through a generator boundary (the 1-element
    ``explode(array(...))`` of :func:`tokens_once`). Without the second
    one, the ``size(shingles) > 0 AND isnotnull(shingles)`` filter that
    Spark infers from a downstream ``explode("shingles")`` is pushed
    below the projection and inlines the interpreted window lambda
    twice more."""
    return (
        # drop first: a caller's "_toks"/"shingles" column is replaced,
        # not duplicated by select("*", alias)
        df.drop("_toks", "shingles")
        .select("*", tokens_once(F.col(text_col)).alias("_toks"))
        .select("*", F.explode(F.array(F.expr(window_expr(n)))).alias("shingles"))
        .drop("_toks")
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bands: int = DEFAULT_BANDS, shingle_n: int = 3
) -> DataFrame:
    """(id, band, sig) — per-band min-hash where band ``i``'s hash of a
    shingle is hex lane ``i mod 4`` (8 hex chars = 32 bits) of md5
    digest ``i div 4`` of the shingle. Digest 0 is ``md5(shingle)``
    (unchanged vs the 4-band layout, so goldens/oracles for bands ≤ 4
    are stable); digest g ≥ 1 is ``md5('g' ∥ US ∥ shingle)`` — an
    independent keyed hash family, one extra digest per 4 extra bands.
    High-recall configs (8–16 bands: P(candidate) = 1−(1−J)^b ≈ 0.996
    at J=0.5, b=8) therefore cost ⌈b/4⌉ md5s per shingle, still one
    explode pass. Lexicographic min of a fixed-width hex lane ==
    numeric min. Deterministic and DuckDB-reproducible
    (``md5(g || chr(31) || shingle)``).
    """
    if not 1 <= bands <= 16:
        raise ValueError("bands must be 1..16 (4 32-bit lanes per keyed md5)")
    n_digests = (bands + 3) // 4
    # Plan-shape care (both measured, both matter at scale):
    # - higher-order functions (transform/array_min) are INTERPRETED,
    #   not codegen'd — per-element md5 inside a lambda ran ~50×
    #   slower than the same md5 as a relational projection. So:
    #   explode the shingles, hash as a plain column, and take the
    #   per-(doc, lane) min with a partial/final aggregate (whole
    #   stage codegen end to end, map-side combine absorbs the fanout).
    # - exploding drops empty docs for free, but Spark infers
    #   size(shingles) > 0 from the explode and pushes it down; only
    #   with_shingles' generator boundary keeps that filter from
    #   re-evaluating the shingle lambda (one transform per doc,
    #   pinned by tests/test_plans.py).
    sh = with_shingles(df.select(F.col(id_col), F.col(text_col)), text_col, shingle_n)
    digest = lambda g, c: F.md5((c if g == 0 else F.concat(F.lit(f"{g}\u001f"), c)).cast("binary"))  # noqa: E731
    hashed = sh.select(F.col(id_col), F.explode("shingles").alias("shingle")).select(
        F.col(id_col), *[digest(g, F.col("shingle")).alias(f"h{g}") for g in range(n_digests)]
    )
    lane_mins = hashed.groupBy(id_col).agg(
        *[F.min(F.substring(f"h{i // 4}", 8 * (i % 4) + 1, 8)).alias(f"_s{i}") for i in range(bands)]
    )
    return lane_mins.select(
        F.col(id_col).cast("bigint"),
        F.posexplode(F.array(*[F.col(f"_s{i}") for i in range(bands)])).alias("band", "sig"),
    ).where(F.col("sig").isNotNull())


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) distinct candidate near-dup pairs: any shared
    (band, sig) bucket. id_a < id_b.

    Pass a persisted ``sigs`` for repeated use — a self-join otherwise
    computes the signature subtree once per side (Spark reuses
    exchanges, not arbitrary subplans)."""
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, bands, shingle_n)
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_pct: int = 10,
    pairs: DataFrame | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, inter_cnt, union_cnt) for token-set Jaccard ≥
    min_jaccard_pct/100 — integer counts only (hash-stable; the float
    ratio is derivable). With ``pairs`` given (e.g. LSH candidates)
    verifies only those; else all pairs (bounded inputs only!).

    Pass a precomputed/materialized ``toks`` (id, tok ARRAY) to avoid
    tokenizing the corpus once per join side — Spark reuses exchanges,
    not arbitrary subplans, so without it the token subtree executes
    twice."""
    t = toks if toks is not None else _token_sets(df, id_col, text_col)
    a = t.select(F.col(id_col).alias("id_a"), F.col("tok").alias("tok_a"))
    b = t.select(F.col(id_col).alias("id_b"), F.col("tok").alias("tok_b"))
    if pairs is not None:
        joined = pairs.join(a, "id_a").join(b, "id_b")
    else:
        joined = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    stats = joined.withColumn("inter_cnt", F.size(F.array_intersect("tok_a", "tok_b")).cast("bigint")).withColumn(
        "union_cnt", (F.size("tok_a") + F.size("tok_b") - F.col("inter_cnt")).cast("bigint")
    )
    return stats.where(F.col("inter_cnt") * 100 >= F.col("union_cnt") * min_jaccard_pct).select(
        "id_a", "id_b", "inter_cnt", "union_cnt"
    )


def near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_pct: int = 80,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """LSH candidates → exact-Jaccard verify: the scale path for
    near-dup detection (candidates shuffle, not the corpus).

    One Spark action: the verified pairs are eagerly checkpointed and
    nothing is cached on the way. Each self-join reads both sides from
    one shuffle — AQE reuses the duplicated exchange of the signature
    side and of the token-set side (``ReusedExchange`` in the final
    plan) — so neither subtree runs twice. At cluster scale the
    candidate set is the stage you'd checkpoint to a table instead."""
    cands = lsh_candidate_pairs(df, id_col, text_col, bands=bands)
    return jaccard_pairs(df, id_col, text_col, min_jaccard_pct, pairs=cands).localCheckpoint(eager=True)


def _norm_pairs(e: DataFrame) -> DataFrame:
    """Normalize an edge set to distinct (a < b) pairs, no self-loops."""
    return (
        e.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """True when the normalized (a < b) edge set is a forest of stars
    rooted at their minima: every ``b`` has exactly one ``a`` and no
    ``a`` is also a ``b``. One action (one shuffle of node roles, then
    a ``take(1)`` of the offending nodes); an empty edge set is a star
    forest."""
    roles = e.select(F.col("a").alias("n"), F.lit(1).alias("as_a"), F.lit(0).alias("as_b")).union(
        e.select(F.col("b").alias("n"), F.lit(0), F.lit(1))
    )
    per = roles.groupBy("n").agg(F.sum("as_a").alias("as_a"), F.sum("as_b").alias("as_b"))
    return per.where((F.col("as_b") > 1) | ((F.col("as_b") > 0) & (F.col("as_a") > 0))).isEmpty()


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 16,
    out_type: str | None = "bigint",
) -> DataFrame:
    """(doc_id, component_id) for every node appearing in ``pairs`` —
    component_id = min node id of the connected component.

    This is the missing third stage of near-dup dedup at scale:
    LSH candidate pairs → verified pairs → **clusters** → one survivor
    per cluster. Transitivity matters (A~B, B~C ⇒ {A,B,C} is one
    group even when A~C was never a candidate pair).

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    O(log²) -round, shuffle-bounded formulation used at web scale,
    expressed purely relationally (groupBy-min + join; NO driver-side
    union-find, NO ``collect_set`` neighborhoods — hub nodes with 10⁶
    edges stay as rows, so skew is AQE's problem, not an OOM):

    - large-star(u): every neighbor v > u re-points to
      m(u) = min(Γ(u) ∪ {u})
    - small-star(u): every neighbor v < u, and u itself, re-point to
      m⁻(u) = min of the smaller neighborhood

    Each round strictly shrinks total path length until the edge set
    is a forest of stars rooted at component minima, read off with one
    groupBy-min. The loop stops as soon as it is one, tested exactly
    before the first round and after every round (:func:`_is_star_forest`,
    one action that also materializes the round's lazy
    ``localCheckpoint`` — lineage truncation so round k never
    re-executes rounds 1..k-1). An input that is already stars runs
    zero rounds, and no round is spent confirming the fixpoint.
    Near-dup graphs are shallow: one or two rounds.

    Reference parity note: pignlproc has no graph operator — this is a
    "beyond the reference" training-pipeline op (COVERAGE.md), but it
    reuses the same bounded-fixpoint discipline as the redirect chase
    (SURVEY.md §2.2 P12, operators/canonicalize.py).
    """
    # checkpoint ONCE: round 1 references the edge set 4+ times (star
    # test, sym union, m agg, large join) and the upstream lineage is
    # typically the whole LSH pipeline
    e = _norm_pairs(pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")))
    e = e.localCheckpoint(eager=False)
    rounds = 0
    while not _is_star_forest(e):
        if rounds == max_rounds:
            # reading off a non-star-forest edge set would silently
            # SPLIT true components (multiple "survivors" per dup
            # cluster) — fail loudly
            raise RuntimeError(
                f"connected_components did not reach a star forest in "
                f"{max_rounds} rounds; raise max_rounds (rounds needed ~ "
                "O(log^2 diameter))"
            )
        rounds += 1
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        # large-star: m(u) over the full neighborhood; emit (v, m) for v > u
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = _norm_pairs(
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over the smaller-neighbor orientation of `large`
        lsym = large.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        lower = lsym.where(F.col("v") < F.col("u"))
        m2 = lower.groupBy("u").agg(F.min("v").alias("m"))
        e = _norm_pairs(
            lower.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select(F.col("u"), F.col("m").alias("v")))
        ).localCheckpoint(eager=False)
    # in a star forest every node's component is min(itself, neighbors)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    res = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("component_id"))
    # out_type=None keeps the node ids' native type (e.g. string
    # hosts for the web link graph); the bigint default preserves the
    # doc-id dedup contract
    if out_type:
        return res.select(
            F.col("u").cast(out_type).alias("doc_id"),
            F.col("component_id").cast(out_type),
        )
    return res.select(F.col("u").alias("doc_id"), "component_id")


def dedup_keep_decision(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """(doc_id, component_id, keep INT) — the end-to-end dedup verdict:
    cluster near-dup pairs transitively, keep the min-id doc of each
    component, keep all unpaired docs (their component is themselves).
    ``keep`` is an INT flag (oracle-hashable, same convention as
    textstats.corpus_filter).

    The components table is tiny relative to the corpus (only docs
    with ≥1 near-dup edge appear), so the fact-side join broadcasts.
    """
    cc = connected_components(pairs, src_col, dst_col).withColumnRenamed("doc_id", "_cc_id")
    out = df.select(F.col(id_col).cast("bigint")).join(
        F.broadcast(cc), F.col(id_col) == F.col("_cc_id"), "left"
    )
    return out.select(
        F.col(id_col),
        F.coalesce("component_id", F.col(id_col)).cast("bigint").alias("component_id"),
        (F.coalesce("component_id", F.col(id_col)) == F.col(id_col)).cast("int").alias("keep"),
    )


def _merge_hit_spans(hits: DataFrame, window: int) -> DataFrame:
    """(doc_id, pos) window-hit positions → maximal merged per-doc
    spans (doc_id, span_start, span_end, n_windows): lag/cumsum island
    detection over the (tiny) hit set, 0-based inclusive token spans."""
    from pyspark.sql import Window as W

    w_doc = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w_doc) <= window - 1, F.lit(0)).otherwise(F.lit(1))
    isl = hits.withColumn("_brk", brk).withColumn("_grp", F.sum("_brk").over(w_doc))
    return (
        isl.groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(window - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select(F.col("doc_id").cast("bigint"), "span_start", "span_end", "n_windows")
    )


def _excise_spans(toks: DataFrame, spans: DataFrame, broadcast_spans: bool = True) -> DataFrame:
    """Cut token-index ``spans`` out of tokenized docs and rejoin:
    (doc_id, clean_text, n_tokens_kept, n_tokens_dropped). ``toks``
    must be (doc_id, _toks) and materialized by the caller (it is
    consumed twice: the explode and the size base)."""
    pos_toks = toks.select("doc_id", F.posexplode("_toks").alias("pos", "tok"))
    kept = pos_toks.join(
        F.broadcast(spans) if broadcast_spans else spans,
        (pos_toks["doc_id"] == spans["doc_id"])
        & (pos_toks["pos"] >= spans["span_start"])
        & (pos_toks["pos"] <= spans["span_end"]),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.sort_array(F.collect_list(F.struct("pos", "tok"))).getField("tok")
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_kept"),
    )
    base = toks.select("doc_id", F.size("_toks").cast("bigint").alias("_n_total"))
    out = base.join(rebuilt, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_tokens_kept", F.lit(0)).cast("bigint").alias("n_tokens_kept"),
        (F.col("_n_total") - F.coalesce("n_tokens_kept", F.lit(0))).cast("bigint").alias("n_tokens_dropped"),
    )


def contamination_spans(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 13,
    toks: DataFrame | None = None,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows) — the span-granular
    half of benchmark decontamination: maximal merged token spans of a
    corpus document whose ``n``-token windows appear in the eval set.
    Frozen spec: windows are ``n`` consecutive engine-tokenizer tokens
    (stopwords kept), space-joined, md5-hashed (:func:`window_expr`);
    the eval side contributes its DISTINCT window hashes; hit window
    positions merge into maximal spans. This answers "what exactly
    leaked" — the form GPT-3-style decontamination removes (cut the
    overlapping region, keep the doc).

    Scale shape: the eval-gram table is benchmark-sized, so the probe
    is a broadcast semi-join (the corpus never shuffles for it); only
    the tiny hit set goes through the per-doc window merge.

    A caller-built ``toks`` (doc_id, _toks) must come through
    :func:`tokens_once` or a checkpoint: a plain tokenizer projection
    is inlined into the window lambda and re-tokenizes once per window
    element.
    """
    if toks is None:
        toks = df.select(F.col(id_col).cast("bigint").alias("doc_id"), tokens_once(F.col(text_col)).alias("_toks"))
    wins = toks.select("doc_id", F.posexplode(F.expr(window_expr(n))).alias("pos", "w")).select(
        "doc_id", "pos", F.md5(F.col("w").cast("binary")).alias("h")
    )
    ev = _eval_grams(eval_df, eval_text_col or text_col, n, broadcast_eval)
    hits = wins.join(ev, "h", "left_semi").select("doc_id", "pos")
    return _merge_hit_spans(hits, n)


def _eval_grams(eval_df: DataFrame, text_col: str, n: int, broadcast_eval: bool):
    """DISTINCT md5 window hashes of the eval side (the probe table)."""
    ev_toks = eval_df.select(tokens_once(F.col(text_col)).alias("_toks"))
    ev = (
        ev_toks.select(F.explode(F.expr(window_expr(n))).alias("w"))
        .select(F.md5(F.col("w").cast("binary")).alias("h"))
        .distinct()
    )
    return F.broadcast(ev) if broadcast_eval else ev


def strip_contaminated_spans(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 13,
    broadcast_spans: bool = True,
    toks: DataFrame | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, clean_text, n_tokens_kept, n_tokens_dropped) — cut the
    eval-overlapping spans out of each corpus document and rejoin the
    survivors. Frozen spec: clean_text is the space-joined surviving
    engine-tokenizer token stream (not byte-spliced original text);
    a token is dropped iff its index falls inside any span. The
    decontamination *transform*: docs keep their non-leaked content
    instead of being dropped.

    Pass precomputed ``toks`` (materialized (doc_id, _toks)) and/or
    ``spans`` (contamination_spans output) to share the tokenize +
    window-hash passes with other consumers — jobs/curate_corpus.py
    derives its report columns from the same span table."""
    if toks is None:
        toks = df.select(
            F.col(id_col).cast("bigint").alias("doc_id"), _tokens(F.col(text_col)).alias("_toks")
        ).localCheckpoint(eager=False)
    if spans is None:
        spans = contamination_spans(df, eval_df, id_col, text_col, eval_text_col, n, toks=toks)
    return _excise_spans(toks, spans, broadcast_spans)


def bloom_digest(keys: DataFrame, key_col: str = "key", n_bits: int = 1 << 20, n_hashes: int = 4) -> DataFrame:
    """(word_id BIGINT, bits BIGINT) — a Bloom filter over ``keys`` packed
    into 64-bit words: at most ``n_bits/64`` rows, independent of input
    partitioning (bit_or is commutative), fully deterministic
    (xxhash64 with the probe index as a second hash input).

    This is the maintained side of incremental crawl dedup: build it
    once over everything-seen-so-far, persist the (tiny) digest, and
    every new batch pays a map-side probe instead of a corpus×history
    join. Sizing: ``n_bits ≈ 10 × |history|`` with the default 4
    probes gives ~1.2% false positives (fpp = (1-e^{-kn/m})^k) — and
    false positives only cost a confirm-join row, never a wrong
    verdict (dedup_against_history). At ≫10¹⁰ keys the digest
    outgrows a broadcast: drop ``broadcast_digest`` on the probe side
    and the word_id join degrades gracefully to a shuffle of tiny
    (word, bit) rows, never of the corpus.

    No reference analogue (pignlproc dedups nothing; SURVEY.md §6) —
    this is the CCNet/Gopher "seen before?" primitive.
    """
    probes = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits)) for i in range(n_hashes)
    ]
    return (
        keys.select(F.explode(F.array(*probes)).alias("h"))
        .select(
            F.shiftright("h", 6).alias("word_id"),
            F.expr("shiftleft(1L, cast(h % 64 AS int))").alias("bit"),
        )
        .groupBy("word_id")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_might_contain(
    keys: DataFrame,
    digest: DataFrame,
    key_col: str = "key",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    broadcast_digest: bool = True,
) -> DataFrame:
    """The subset of ``keys`` rows the digest cannot rule out (i.e.
    every probe bit is set). Definite misses — the common case for a
    genuinely-new batch — never reach any join with the history.
    ``n_bits``/``n_hashes`` MUST match the digest's build parameters.
    """
    probes = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits)) for i in range(n_hashes)
    ]
    probed = keys.select(
        F.col(key_col), F.explode(F.array(*probes)).alias("h")
    ).select(
        key_col,
        F.shiftright("h", 6).alias("word_id"),
        F.expr("shiftleft(1L, cast(h % 64 AS int))").alias("bit"),
    )
    d = F.broadcast(digest) if broadcast_digest else digest
    hits = probed.join(d, "word_id", "left").select(
        key_col,
        ((F.col("bits").isNotNull()) & (F.col("bits").bitwiseAND(F.col("bit")) != 0))
        .cast("int")
        .alias("hit"),
    )
    # min over probe rows: 1 iff EVERY probe bit is set — robust to
    # duplicate key rows (a sum == n_hashes test would see 2·n_hashes
    # for a doubled key and silently report a seen key as a miss)
    return (
        hits.groupBy(key_col)
        .agg(F.min("hit").alias("_hit"))
        .where(F.col("_hit") == 1)
        .select(key_col)
    )


def dedup_against_history(
    new: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    broadcast_seen: bool = True,
) -> DataFrame:
    """(doc_id, key, keep INT) — EXACT "never seen before" verdict for
    each new document against the full history, by content identity
    (``key = md5(text)``): keep=1 iff no history document has the
    same bytes.

    Plan: Bloom prefilter (bloom_digest over the distinct history
    keys, probed map-side) shrinks the join input to the might-seen
    slice; a confirm semi-join then kills the false positives, so the
    verdict is exact no matter how small the digest. For an
    incremental pipeline, build the digest once per epoch and persist
    it — each arriving batch then joins only its (tiny) candidate
    slice against the history key table.

    ``broadcast_seen`` assumes the confirmed-seen key set fits a
    broadcast (true whenever the batch is mostly new); a pathological
    all-duplicates re-crawl should pass False and let AQE shuffle it.
    """
    keyed = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("key"))
    hist_keys = history.select(F.md5(F.col(text_col)).alias("key")).distinct()
    digest = bloom_digest(hist_keys, "key", n_bits=n_bits, n_hashes=n_hashes)
    maybe = bloom_might_contain(
        keyed.select("key").distinct(), digest, "key", n_bits=n_bits, n_hashes=n_hashes
    )
    seen = maybe.join(hist_keys, "key", "left_semi").withColumn("_seen", F.lit(1))
    if broadcast_seen:
        seen = F.broadcast(seen)
    return keyed.join(seen, "key", "left").select(
        id_col,
        "key",
        (1 - F.coalesce("_seen", F.lit(0))).cast("int").alias("keep"),
    )
