"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Not part of the reference (pignlproc predates web-scale dedup), but a
first-class requirement for a 100 TB training-data pipeline. Every
primitive here is **pure Spark built-ins** (whole-stage codegen, no
Python), and every hash is md5-based so the DuckDB oracle in
__spark_entry__ can reproduce results bit-for-bit.

Scale notes:

- Exact dedup: hash-groupBy on ``md5(text)`` — one shuffle of (hash,
  id) pairs, never the text itself.
- MinHash/LSH: signatures are 32-bit lanes of ⌈bands/4⌉ keyed md5s per
  shingle (bands × 1 row; at 4 bands P(candidate) ≈ 1−(1−J)⁴ ≈ 0.94 at
  J=0.5, 0.998 at J=0.8; 8–16 bands for high-recall configs); the only
  shuffle is the tiny (band, sig) bucket join, and the verify step
  re-checks candidates with exact Jaccard so LSH recall tuning never
  affects correctness, only cost.
- SimHash: 16-bit here for oracle-checkability; production would use
  64-bit xxhash64 (same shape, swap the hash column).
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
    window-hashing operator (minhash shingles, duplicate/contamination
    spans, repetition grams) and mirrored by the DuckDB oracles: all
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
    built-ins only; empty array when the doc has < n tokens."""
    return (
        # drop first: the pre-boundary withColumn clobbered any caller
        # "_toks" column and the function never returned one — keep
        # that contract (select("*", alias) would duplicate instead)
        df.drop("_toks")
        .select("*", tokens_once(F.col(text_col)).alias("_toks"))
        .withColumn("shingles", F.expr(window_expr(n)))
        .drop("_toks")
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(content_hash, keep_id, n_docs) per distinct content; n_docs > 1
    rows are duplicate groups. keep_id = min id (stable survivor)."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).cast("bigint").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
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
    # - a pre-filter like where(size(shingles) > 0) pushes below the
    #   projections and inlines the whole token+shingle expression
    #   into the predicate; exploding instead drops empty docs free.
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


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_containment_pct: int = 80,
    max_df: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, inter_cnt, size_a, size_b) for pairs whose token-set
    CONTAINMENT ``|A∩B| / min(|A|,|B|)`` ≥ min_containment_pct/100 —
    Broder's containment coefficient (SEQUENCES'97), the asymmetric
    sibling of :func:`jaccard_pairs`. A 100-token doc fully embedded in
    a 10k-token doc has Jaccard ≈ 1% but containment 100%; this is the
    near-superset case resemblance-based dedup misses (quote farms,
    boilerplate wrappers, doc-in-doc scrapes).

    Integer columns only (hash-stable; both directed ratios are
    derivable from inter/size_a/size_b).

    Scale shape: an **inverted-index join** — postings (token, id)
    shuffle on token; a pair materializes once per SHARED token and a
    partial/final count over (id_a, id_b) yields the exact
    intersection size, so for pct > 0 the candidate set is EXACT (no
    shared token ⇒ containment 0). The text never shuffles. Skew lives
    in high-df tokens (a token in n docs contributes n² pair rows);
    ``max_df`` drops those posting lists before the join — the
    documented-recall knob (candidates then arise through rarer tokens
    only), same contract as ``tf_cosine_pairs(max_df=...)``, except
    here the verified inter_cnt also excludes the dropped tokens, so
    max_df trades exactness for skew-immunity explicitly."""
    t = toks if toks is not None else _token_sets(df, id_col, text_col)
    sizes = t.select(F.col(id_col).alias("_id"), F.size("tok").cast("bigint").alias("_sz"))
    post = t.select(F.col(id_col).alias("_id"), F.explode("tok").alias("_token"))
    if max_df is not None:
        keep = post.groupBy("_token").agg(F.count(F.lit(1)).alias("_df")).where(F.col("_df") <= max_df)
        post = post.join(keep.select("_token"), "_token")
    a = post.select(F.col("_id").alias("id_a"), "_token")
    b = post.select(F.col("_id").alias("id_b"), "_token")
    inter = (
        a.join(b, "_token")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_cnt"))
    )
    out = (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("size_a")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("size_b")), "id_b")
    )
    return out.where(
        F.col("inter_cnt") * 100 >= F.least("size_a", "size_b") * min_containment_pct
    ).select("id_a", "id_b", "inter_cnt", "size_a", "size_b")


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_cos_pct: int = 60,
    max_df: int | None = None,
    guard_overflow: bool = True,
) -> DataFrame:
    """(id_a, id_b, dot, norm_a, norm_b) — pairs whose *tf-weighted*
    token-vector cosine is ≥ min_cos_pct/100, in exact integer
    arithmetic (a cross-multiplied test, no division or square root):

        cos ≥ τ  ⟺  dot > 0 ∧ 10⁴·dot² ≥ (100τ)²·‖a‖²·‖b‖²

    where dot = Σ_tok tf_a·tf_b and ‖·‖² = Σ tf². The weighted
    (multiset) sibling of the set-based :func:`jaccard_pairs` — the
    classic sparse all-pairs similarity join (Bayardo et al., WWW'07).

    Scale shape: an **inverted-index join** — docs pair up only through
    shared tokens (a pair sharing none has dot 0 and can never pass
    τ > 0, so the candidate set is EXACT with ``max_df=None``). The
    shuffle is (token, doc, tf) postings, never the text. Skew lives in
    high-df tokens; ``max_df`` caps the posting-list length (the
    WWW'07 prefix-filter analogue): candidates then come from rare
    tokens only — a documented recall bound, like LSH — but the
    verified dot/norms are still computed over the FULL vectors.

    int64 headroom: the test needs 10⁴·‖a‖²·‖b‖² < 2⁶³, i.e. max ‖v‖²
    < 3.0×10⁷ (a token repeated ~5 500× in one doc); the guard
    recomputes each norm in DOUBLE (wrap-immune) and folds a
    ``raise_error`` branch into the norm column, so a degenerate doc
    fails the job with a clear message at EXECUTION time rather than
    letting the non-ANSI bigint multiply wrap silently. Construction
    stays fully lazy — the corpus is tokenized exactly once.
    """
    tf = (
        df.select(F.col(id_col).cast("bigint").alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)  # consumed by norms + both join sides
    )
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("norm2"),
        F.sum(F.col("tf").cast("double") * F.col("tf")).alias("_n2d"),
    )
    if guard_overflow:
        norms = norms.withColumn(
            "norm2",
            F.when(
                F.lit(10000.0) * F.col("_n2d") * F.col("_n2d") >= F.lit(float(2**62)),
                F.raise_error(
                    F.concat(
                        F.lit("tf norm^2 "),
                        F.col("_n2d").cast("string"),
                        F.lit(
                            " overflows the int64 cosine test; cap token "
                            "repetition (or pre-filter degenerate docs) first"
                        ),
                    )
                ).cast("bigint"),
            ).otherwise(F.col("norm2")),
        )
    norms = norms.drop("_n2d")
    ta = tf.select(F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tf_a"))
    tb = tf.select(F.col("doc_id").alias("id_b"), "tok", F.col("tf").alias("tf_b"))
    if max_df is None:
        dots = (
            ta.join(tb, "tok")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"))
        )
    else:
        rare = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("_df")).where(F.col("_df") <= max_df)
        ca = ta.join(rare.select("tok"), "tok")
        cb = tb.join(rare.select("tok"), "tok")
        cands = (
            ca.join(cb, "tok").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
        )
        # full-vector dot for the (small) candidate set only
        dots = (
            cands.join(ta, "id_a")
            .join(tb, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"))
        )
    pct2 = min_cos_pct * min_cos_pct
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("norm_b"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            (F.col("dot") > 0)
            & (F.lit(10000) * F.col("dot") * F.col("dot") >= F.lit(pct2) * F.col("norm_a") * F.col("norm_b"))
        )
        .select("id_a", "id_b", "dot", "norm_a", "norm_b")
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
            # cluster) — fail loudly, like the k-core peel
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


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 15,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows) — within-document
    token spans whose content also appears in at least one OTHER
    document ("ExactSubstr"-style cross-document duplicate detection,
    Lee et al. 2022, at token-window granularity): hash every
    ``window``-token sliding window, keep hashes seen in ≥ 2 distinct
    docs, merge overlapping hit positions per doc into maximal spans
    (token indices, 0-based inclusive).

    Unlike whole-doc near-dup (MinHash), this finds *partial*
    duplication — boilerplate headers, license blocks, syndicated
    paragraphs — the spans a training pipeline cuts out rather than
    dropping the doc.

    Shape: posexplode windows → md5 as a plain projection (codegen) →
    count-distinct-docs per hash (partial/final agg) → left-semi join
    back → per-doc island merge via lag/cumsum window functions. The
    only per-doc-ordered state is the tiny (doc_id, pos) hit set;
    window hashing itself never shuffles more than (doc_id, pos, md5).
    At crawl scale the hash table is the big shuffle — the same
    (hash, id) profile as minhash_signatures, AQE-handled.

    Pass a precomputed/materialized ``toks`` (doc_id, _toks) to share
    the tokenization pass with other consumers (strip_duplicate_spans
    does — Spark reuses exchanges, not arbitrary subplans). A
    caller-built ``toks`` must come through :func:`tokens_once` or a
    checkpoint: a plain tokenizer projection is inlined into the window
    lambda and re-tokenizes once per window element.
    """
    if toks is None:
        toks = df.select(F.col(id_col).alias("doc_id"), tokens_once(F.col(text_col)).alias("_toks"))
    wins = toks.select("doc_id", F.posexplode(F.expr(window_expr(window))).alias("pos", "w")).select(
        "doc_id", "pos", F.md5(F.col("w").cast("binary")).alias("h")
    )
    dup = wins.groupBy("h").agg(F.count_distinct("doc_id").alias("_nd")).where(F.col("_nd") >= 2)
    hits = wins.join(dup.select("h"), "h", "left_semi").select("doc_id", "pos")
    return _merge_hit_spans(hits, window)


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


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 15,
    broadcast_spans: bool = True,
) -> DataFrame:
    """(doc_id, clean_text, n_tokens_kept, n_tokens_dropped) — the
    transform half of ExactSubstr dedup: cut the cross-document
    duplicated spans (duplicate_spans) OUT of each document and rejoin
    the surviving tokens with single spaces, instead of dropping the
    whole doc.

    Frozen spec: tokenization is the engine tokenizer (so clean_text
    is a space-joined token stream, not byte-spliced original text —
    the right shape for a training corpus, and the only
    whitespace-lossless one for token-indexed spans); a token is
    dropped iff its index falls inside any span.

    Shape: the corpus is tokenized ONCE and materialized
    (localCheckpoint — at cluster scale this is the checkpoint table),
    then shared by all three consumers (span detection, the token
    explode, the size() base); posexplode tokens → range-predicate
    anti-join against the **broadcast** span table (the fact side
    never shuffles for it; spans are small when duplication is
    sparse — for boilerplate-heavy corpora where the span table is
    itself corpus-scale, pass ``broadcast_spans=False`` to fall back
    to the doc_id-co-partitioned sort-merge join) → ordered per-doc
    reconstruction via
    sort_array(collect_list(struct(pos, tok))).tok (codegen'd, no
    interpreted lambda). The collect is per-document (same cardinality
    discipline as J8's context concat); docs with nothing duplicated
    pass through unchanged.
    """
    # lazy checkpoint: materializes (once) at the FIRST action, not at
    # plan-construction time — explain must stay free. The
    # blocks live until the RDD is GC'd (localCheckpoint has no
    # explicit release); at cluster scale this is a checkpoint table.
    toks = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"), _tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint(eager=False)
    spans = duplicate_spans(df, id_col, text_col, window, toks=toks)
    return _excise_spans(toks, spans, broadcast_spans)


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
    corpus document whose ``n``-token windows appear in the eval set
    (same frozen window/tokenizer spec as :func:`contamination`, same
    island-merge as :func:`duplicate_spans`). Where the doc-level flag
    answers "drop it?", this answers "what exactly leaked" — the form
    GPT-3-style decontamination actually removes (cut the overlapping
    region, keep the doc).

    Scale shape identical to :func:`contamination`: broadcast eval-gram
    probe (corpus never shuffles for the join) + the tiny hit set
    through one per-doc window merge.

    A caller-built ``toks`` (doc_id, _toks) must come through
    :func:`tokens_once` or a checkpoint, as for :func:`duplicate_spans`.
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
    survivors (same frozen excision spec as
    :func:`strip_duplicate_spans`: clean_text is the space-joined
    surviving token stream). The decontamination *transform*: docs
    keep their non-leaked content instead of being dropped.

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


def contamination(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 13,
    min_hit_windows: int = 1,
    broadcast_eval: bool = True,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_windows, n_hit_windows, n_hit_grams, contaminated INT)
    — benchmark decontamination (GPT-3 appendix-C style, Brown et al.
    2020; also Llama/PaLM): flag training documents that contain any
    ``n``-token window also present in an evaluation set, so they can
    be dropped (or span-stripped) before training.

    Frozen spec: windows are ``n`` consecutive engine-tokenizer tokens
    (stopwords kept), space-joined, md5-hashed; the eval side
    contributes its DISTINCT window hashes; a corpus doc's
    ``n_hit_windows`` counts its window *positions* whose hash is in
    the eval set, ``n_hit_grams`` the distinct hashes hit;
    ``contaminated = 1`` iff ``n_hit_windows ≥ min_hit_windows``.
    Docs with < n tokens have 0 windows and are never contaminated.

    Scale shape: the eval-gram table is benchmark-sized (10⁵–10⁷
    hashes — tiny next to a 100 TB corpus), so the probe is a
    **broadcast** semi-ish join: corpus window hashing is a pure
    codegen'd projection + explode, the hit counting a partial/final
    aggregate on doc_id — the corpus text itself never shuffles at
    all. Pass ``broadcast_eval=False`` only if the "eval" side is
    corpus-scale (then it is a (hash, id) shuffle, the
    duplicate_spans profile).

    Pass a materialized ``toks`` ((doc_id, _toks)) to share the
    tokenize pass with sibling consumers; the default lazily
    checkpoints its own so the window explode and the n_windows base
    tokenize the corpus ONCE, not twice.
    """
    if toks is None:
        toks = df.select(
            F.col(id_col).cast("bigint").alias("doc_id"), _tokens(F.col(text_col)).alias("_toks")
        ).localCheckpoint(eager=False)
    ev = _eval_grams(eval_df, eval_text_col or text_col, n, broadcast_eval)
    cw = toks.select("doc_id", F.explode(F.expr(window_expr(n))).alias("w")).select(
        "doc_id", F.md5(F.col("w").cast("binary")).alias("h")
    )
    hits = (
        cw.join(ev, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit_windows"),
            F.count_distinct("h").cast("bigint").alias("n_hit_grams"),
        )
    )
    base = toks.select(
        "doc_id",
        F.greatest(F.size("_toks") - (n - 1), F.lit(0)).cast("bigint").alias("n_windows"),
    )
    out = base.join(hits, "doc_id", "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint")  # noqa: E731
    return out.select(
        "doc_id",
        "n_windows",
        z("n_hit_windows").alias("n_hit_windows"),
        z("n_hit_grams").alias("n_hit_grams"),
        (z("n_hit_windows") >= min_hit_windows).cast("int").alias("contaminated"),
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) — 16-bit SimHash over the token multiset.

    Token hash = first 4 hex digits of md5 (16 bits); bit b of the
    fingerprint is set iff sum over tokens of ±1 (by token bit b) > 0.
    """
    toks = df.select(F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("tok"))
    h = toks.withColumn("h16", F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 4), 16, 10).cast("int"))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h16"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(16)
    ]
    sums = h.groupBy(id_col).agg(*aggs)
    fp = None
    for b in range(16):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select(F.col(id_col).cast("bigint"), fp.cast("bigint").alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) — document pairs whose SimHash
    fingerprints differ in at most ``max_hamming`` bits: the retrieval
    step SimHash exists for (Manku et al. WWW'07 near-dup detection).

    Scale shape: pigeonhole banding. Split the 16-bit fingerprint into
    ``bands`` (default ``max_hamming + 1``) contiguous bit bands — any
    pair within the radius agrees EXACTLY on at least one band, so
    candidates come from equi-self-joins on (band_id, band_bits)
    (hash join; never an all-pairs cross join), then the exact
    ``bit_count(xor)`` verify prunes false candidates. Candidate
    volume is governed by band width (16/bands bits); at larger
    fingerprints widen the type, not the algorithm. Identical-
    fingerprint clusters collide on every band — the ``distinct``
    dedups the pair, and upstream exact-dedup keeps such clusters
    small.
    """
    if bands is None:
        # smallest divisor of 16 that is >= max_hamming + 1 — the
        # literal max_hamming + 1 (e.g. 3, 5, 6) need not divide 16,
        # and the pigeonhole guarantee only needs >=
        b = next((d for d in (1, 2, 4, 8, 16) if d >= max_hamming + 1), None)
        if b is None:
            raise ValueError("max_hamming must be < 16 for a 16-bit fingerprint")
    else:
        b = bands
    if b < max_hamming + 1:
        raise ValueError("bands must be >= max_hamming + 1 for recall=1")
    if 16 % b != 0:
        raise ValueError("bands must divide the 16-bit fingerprint")
    width = 16 // b
    s = simhash(df, id_col, text_col)
    banded = s.select(
        F.col(id_col).alias("doc_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for i in range(b)
                ]
            )
        ).alias("p"),
    ).select("doc_id", "simhash", F.col("p.band").alias("band"), F.col("p.bits").alias("bits"))
    a, c = banded.alias("a"), banded.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bits") == F.col("c.bits"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("c.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


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


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(doc_id, fp_hash BIGINT, fp_pos INT) — winnowing fingerprint
    selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
    algorithm): hash every k-token window, then keep the minimum hash
    of each run of ``w`` consecutive window hashes. Guarantee: any
    token run of length ≥ w+k-1 shared by two documents contributes
    at least one IDENTICAL selected fingerprint to both — the local
    dedup/plagiarism primitive MinHash (global similarity) and
    duplicate_spans (exact full-window index) don't give. Expected
    density 2/(w+1) of the gram count.

    Relational formulation (one shuffle, on ``id_col``):
    - gram positions explode from the frozen window expression
      (window_expr; md5 AFTER the explode per the plan rules);
    - the 40-bit md5 lane packs the gram position into the low 20
      bits (``h·2²⁰ + pos``) so the running MIN is over a TOTAL order
      — the leftmost-lowest tie-break is deterministic with no
      arg_min/struct-min (whose tie behavior is engine-specific).
      Docs are capped at 2²⁰ grams (longer docs: chunk first —
      textstats.chunk_windows);
    - min over ROWS BETWEEN CURRENT AND w-1 FOLLOWING per doc, window
      starts clipped to full width, DISTINCT selections.

    Docs with fewer than w+k-1 tokens select nothing (no full window
    of windows exists) — consistent with the guarantee's floor.
    """
    from pyspark.sql import Window

    sh = with_shingles(df.select(F.col(id_col), F.col(text_col)), text_col, k)
    grams = sh.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.posexplode("shingles").alias("pos", "gram"),
    ).where(F.col("pos") < 1 << 20)
    hashed = grams.select(
        id_col,
        "pos",
        (
            F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 10), 16, 10).cast("bigint")
            * F.lit(1 << 20)
            + F.col("pos")
        ).alias("hp"),
    )
    run = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    full = Window.partitionBy(id_col)
    sel = hashed.select(
        F.col(id_col),
        "pos",
        F.min("hp").over(run).alias("sel"),
        F.count(F.lit(1)).over(full).alias("_n"),
    )
    return (
        sel.where(F.col("pos") <= F.col("_n") - w)
        .select(id_col, "sel")
        .distinct()
        .select(
            F.col(id_col),
            F.floor(F.col("sel") / (1 << 20)).cast("bigint").alias("fp_hash"),
            (F.col("sel") % (1 << 20)).cast("int").alias("fp_pos"),
        )
    )
