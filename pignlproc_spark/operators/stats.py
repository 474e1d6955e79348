"""Link-derived statistics: pairCounts / uriCounts / sfAndTotalCounts /
tokenCounts — the outputs of ``examples/indexing/names_and_entities.pig``
and ``examples/indexing/token_counts.pig`` plus the nerd-stats script
(SURVEY.md §2.3), as pure DataFrame aggregations.

Scale design (SURVEY.md §4):

- Counting aggregations (P7/P8) rely on Catalyst's partial/final
  HashAggregate — the exact analogue of Pig's algebraic COUNT
  combiner. Hub-entity skew is absorbed map-side (a partition's
  worth of ``uri=Country_X`` rows collapses to one partial row before
  the shuffle), so **counts need no salting**.
- Holistic aggregations (context-text concatenation, per-URI token
  re-nesting — J8/J9's ``collect_list`` analogues) are NOT reducible
  map-side; a hub URI would funnel its whole bag through one task.
  Those use the **two-phase salted pattern**: partial agg on
  ``(key, salt)``, final agg on ``key`` (BASELINE.json:6 "salted,
  skew-aware").
- The surface-form dictionary for the link-probability denominator is
  **broadcast** (J12; BASELINE.json:6) — the occurrence scan is
  shuffle-free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pignlproc_spark.functions.ngrams import occurrences_udf, occurrences_udf_arrow
from pignlproc_spark.functions.tokenize import tokens_col

DEFAULT_SALT_BUCKETS = 32


def pair_counts(mentions: DataFrame) -> DataFrame:
    """(surface_form, uri, cnt) — anchor-text ↔ entity pair counts.

    Parity: GROUP mentions BY (surfaceForm, uri); COUNT —
    names_and_entities.pig pairCounts output (SURVEY.md §2.3).
    """
    return mentions.groupBy("surface_form", "uri").agg(F.count(F.lit(1)).alias("cnt"))


def uri_counts(mentions: DataFrame) -> DataFrame:
    """(uri, cnt) — incoming-anchor totals per entity."""
    return mentions.groupBy("uri").agg(F.count(F.lit(1)).alias("cnt"))


def annotated_sf_counts(mentions: DataFrame) -> DataFrame:
    """(surface_form, annotated_cnt) — times each surface form was a link."""
    return mentions.groupBy("surface_form").agg(F.count(F.lit(1)).alias("annotated_cnt"))


def sf_occurrence_totals(
    pages_text: DataFrame, surface_forms: list[str] | bytes, max_n: int = 4
) -> DataFrame:
    """(norm_sf, total_cnt) — total occurrences (linked or not) of each
    dictionary surface form across the corpus text.

    Parity: RestrictedNGramGenerator (J12) + GROUP/COUNT. The dict is
    built once and broadcast; the scan stage is shuffle-free until the
    final (tiny) count aggregation. ``pages_text`` needs one column
    ``text``. ``surface_forms`` is either a raw-form list (small/test
    path) or Arrow IPC ``bytes`` of ALREADY-normalized forms
    (:func:`capped_surface_forms_ipc` — the pipeline path; the driver
    never materializes the dictionary as Python strings).
    """
    spark = pages_text.sparkSession
    if isinstance(surface_forms, bytes):
        occ = occurrences_udf_arrow(spark, surface_forms, max_n=max_n)
    else:
        occ = occurrences_udf(spark, surface_forms, max_n=max_n)
    return (
        pages_text.select(F.explode(occ(F.col("text"))).alias("norm_sf"))
        .groupBy("norm_sf")
        .agg(F.count(F.lit(1)).alias("total_cnt"))
    )


def normalize_sf_udf():
    """Exact surface-form normalization (the Python spec) as a pandas
    UDF — used on the small post-aggregation side, so the Python cost
    is O(distinct surface forms), not O(corpus)."""
    from pyspark.sql.functions import pandas_udf

    from pignlproc_spark.functions.ngrams import normalize_sf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(normalize_sf)

    return _norm


#: Hard cap on the broadcast surface-form dictionary. The reference's
#: side-file dict is ~10^7 entries (SURVEY.md §2.1 J12); the executor-
#: local matcher set at 10M short strings is ~1-2 GB — the practical
#: per-executor ceiling. This is an explicit contract, not a tuning
#: knob: no stage ever materializes more forms than this, and the
#: DRIVER holds them only as Arrow buffers (capped_surface_forms_ipc),
#: never as Python objects.
SF_DICT_MAX_SIZE = 10_000_000


def capped_surface_forms(
    annotated: DataFrame,
    max_dict_size: int = SF_DICT_MAX_SIZE,
    min_annotated: int = 1,
) -> list[str]:
    """Bounded dictionary build: the top ``max_dict_size`` surface
    forms by ``annotated_cnt`` (ties broken by surface_form for
    determinism), computed DISTRIBUTED.

    ``orderBy(...).limit(n)`` compiles to TakeOrderedAndProject —
    each partition keeps its local top-n and only those heaps merge on
    the driver, so driver memory is O(max_dict_size) regardless of how
    many distinct anchors a 100-TB crawl has (10^8–10^9). Forms cut by
    the cap or the ``min_annotated`` frequency floor simply never
    enter the matcher and surface as ``total_cnt = -1`` downstream —
    the same degrade as a form longer than the n-gram bound.
    """
    capped = (
        annotated.where(F.col("annotated_cnt") >= min_annotated)
        .orderBy(F.col("annotated_cnt").desc(), F.col("surface_form"))
        .limit(max_dict_size)
    )
    return [r[0] for r in capped.select("surface_form").collect()]


def capped_surface_forms_ipc(
    annotated: DataFrame,
    max_dict_size: int = SF_DICT_MAX_SIZE,
    min_annotated: int = 1,
    max_n: int = 4,
) -> bytes:
    """The pipeline-path dictionary build: the same bounded
    TakeOrderedAndProject cap as :func:`capped_surface_forms`, but the
    forms are NORMALIZED DISTRIBUTED (``normalize_sf_udf`` — the exact
    Python spec, full Unicode), filtered to the matcher's n-gram bound,
    deduped, and collected as **Arrow IPC bytes** (``DataFrame.toArrow``)
    — the driver holds contiguous string buffers, never a list of up to
    10M Python string objects (~GBs of heap + pickle time at the cap;
    the Arrow payload is just the UTF-8 bytes + offsets). Executors
    rebuild the set-based matcher lazily from the broadcast buffer
    (``ngrams._LazyArrowMatcher``).
    """
    from pignlproc_spark.functions.ngrams import normalized_forms_ipc

    capped = (
        annotated.where(F.col("annotated_cnt") >= min_annotated)
        .orderBy(F.col("annotated_cnt").desc(), F.col("surface_form"))
        .limit(max_dict_size)
    )
    # NO distinct(): `annotated` is a groupBy output so raw forms are
    # already unique; normalization collisions are deduped by the
    # executor-side set build — a full shuffle here would only shave
    # broadcast bytes (measured: the shuffle costs more than it saves)
    norms = capped.select(normalize_sf_udf()(F.col("surface_form")).alias("norm")).where(
        (F.col("norm") != "") & (F.size(F.split(F.col("norm"), " ")) <= max_n)
    )
    return normalized_forms_ipc(norms)


def sf_total_counts(
    mentions: DataFrame,
    pages_text: DataFrame,
    max_n: int = 4,
    max_dict_size: int = SF_DICT_MAX_SIZE,
    min_annotated: int = 1,
) -> DataFrame:
    """(surface_form, annotated_cnt, total_cnt) with total_cnt = -1 for
    forms never seen as free text (or longer than the n-gram bound, or
    cut by the dictionary cap / frequency floor).

    Parity: names_and_entities.pig sfAndTotalCounts — LEFT OUTER JOIN
    annotated counts with occurrence totals, miss ⇒ -1 (SURVEY.md §2.2
    P10). The broadcast-dictionary build is BOUNDED: a distributed
    top-``max_dict_size``-by-frequency aggregate (TakeOrderedAndProject,
    see :func:`capped_surface_forms`) feeds the driver at most
    ``max_dict_size`` forms — never the unbounded distinct-anchor set
    of the corpus. At Wikipedia scale the default cap (10M) holds every
    form; on a 100-TB crawl the long tail of one-off anchors degrades
    to ``total_cnt = -1`` instead of OOMing the driver.
    """
    annotated = annotated_sf_counts(mentions)
    forms = capped_surface_forms_ipc(
        annotated, max_dict_size=max_dict_size, min_annotated=min_annotated, max_n=max_n
    )
    totals = sf_occurrence_totals(pages_text, forms, max_n=max_n)
    # exact (Unicode/NFC) normalization so the join key equals the
    # matcher's dictionary key for every surface form, not just ASCII
    joined = annotated.withColumn("_norm", normalize_sf_udf()(F.col("surface_form"))).join(
        totals, F.col("_norm") == totals["norm_sf"], "left"
    )
    return joined.select(
        "surface_form",
        "annotated_cnt",
        F.coalesce(F.col("total_cnt"), F.lit(-1)).cast("long").alias("total_cnt"),
    )


def token_counts(mentions: DataFrame, lang: str = "en", analysis: str = "word") -> DataFrame:
    """(uri, token, cnt) — per-entity context-token counts.

    Parity: token_counts.pig (SURVEY.md §2.3): contexts per link
    target → GROUP BY uri → AggregateTextBag (J8) → LuceneTokenizer
    (J14) → per-(uri, token) counts. Re-imagined without the giant
    intermediate per-URI document: tokenize each mention context and
    count straight to (uri, token) — algebraic, so map-side partial
    aggregation absorbs hub-entity skew (no 100 MB strings shuffling
    to one reducer, which is exactly how the reference's J8 step
    melts down on hub entities).

    ``lang`` picks the frozen stoplist (J14's per-language analyzers);
    ``analysis='cjk'`` switches to Han character bigrams (the
    CJKAnalyzer behavior the reference used for zh models; no
    stoplist — bigrams and stop-tokens don't intersect).
    """
    if analysis == "cjk":
        from pignlproc_spark.functions.tokenize import cjk_bigrams_col

        tok_expr = cjk_bigrams_col(F.col("context"))
    else:
        tok_expr = tokens_col(F.col("context"), lang=lang)
    toks = mentions.select("uri", F.explode(tok_expr).alias("token"))
    return toks.groupBy("uri", "token").agg(F.count(F.lit(1)).alias("cnt"))


def token_counts_nested(mentions: DataFrame) -> DataFrame:
    """tokenCounts in the reference's nested output shape:
    (uri, tokens ARRAY<STRUCT<token, cnt>>) — the re-nest after the
    flat count, sorted by (cnt desc, token) for determinism."""
    flat = token_counts(mentions)
    return (
        flat.groupBy("uri")
        .agg(F.collect_list(F.struct("token", "cnt")).alias("_t"))
        .select(
            "uri",
            F.expr("array_sort(_t, (a, b) -> case when a.cnt > b.cnt then -1 when a.cnt < b.cnt then 1 when a.token < b.token then -1 when a.token > b.token then 1 else 0 end)").alias("tokens"),
        )
    )


def aggregate_text_salted(
    df: DataFrame,
    key: str,
    text_col: str,
    sep: str = " ",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    salt_by_row: bool = False,
) -> DataFrame:
    """(key, text) — concatenate all text for a key, two-phase salted.

    Parity: AggregateTextBag / ConcatTextBag (J8/J9) after GROUP BY
    uri. ``concat_ws(collect_list)`` is holistic: a hub entity with
    10^5+ contexts would pin one reducer. Phase 1 concatenates within
    ``(key, salt)``; phase 2 concatenates the ≤ salt_buckets partials
    per key. Ordering within the bag is not semantically load-bearing
    (Pig bags are unordered — SURVEY.md §1.1); partials are sorted for
    within-bucket determinism.

    ``salt_by_row=False`` (default) salts by text hash — fully
    deterministic output, but DUPLICATE texts of a hub key share a
    salt (a deduplicated or boilerplate-heavy corpus can still pin one
    task). ``salt_by_row=True`` salts each row independently
    (monotonically_increasing_id): immune to duplicate-text skew, at
    the cost of run-to-run concatenation order (multiset unchanged).
    """
    if salt_by_row:
        salt = F.pmod(F.xxhash64(F.col(text_col), F.monotonically_increasing_id()), F.lit(salt_buckets))
    else:
        salt = F.pmod(F.xxhash64(F.col(text_col)), F.lit(salt_buckets))
    salted = df.withColumn("_salt", salt)
    phase1 = salted.groupBy(key, "_salt").agg(F.concat_ws(sep, F.sort_array(F.collect_list(text_col))).alias("_part"))
    phase2 = (
        phase1.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("_salt", "_part"))).alias("_parts"))
        .select(key, F.array_join(F.transform("_parts", lambda s: s["_part"]), sep).alias("text"))
    )
    return phase2


def entity_cooccurrence(mentions: DataFrame, max_entities_per_page: int | None = None) -> DataFrame:
    """(uri_a, uri_b, cnt) — number of pages on which both entities are
    mentioned (uri_a < uri_b). The co-occurrence statistic downstream
    KG-embedding / entity-salience training consumes; beyond the
    reference's per-page counts (COVERAGE.md) but built from the same
    mention stream as nerd_stats.

    Shape: distinct (url, uri) → self-join on url → count. The self-
    join is quadratic in distinct entities per page, so at crawl scale
    pass ``max_entities_per_page`` (standard practice: drop list/index
    pages, which contribute noise, not signal) — the filter runs
    before the join fanout. Default None = exact (oracle mode).
    """
    per_page = mentions.select("url", "uri").distinct()
    if max_entities_per_page is not None:
        n = per_page.groupBy("url").agg(F.count(F.lit(1)).alias("_n"))
        per_page = per_page.join(
            n.where(F.col("_n") <= max_entities_per_page).drop("_n"), "url"
        )
    a = per_page.alias("a")
    b = per_page.alias("b")
    return (
        a.join(b, "url")
        .where(F.col("a.uri") < F.col("b.uri"))
        .groupBy(F.col("a.uri").alias("uri_a"), F.col("b.uri").alias("uri_b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def entity_pagerank(
    mentions: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    num_partitions: int | None = None,
    checkpoint_every: int = 4,
    cooc: DataFrame | None = None,
) -> DataFrame:
    """(uri, rank) — weighted PageRank over the entity co-occurrence
    graph: the entity-salience score downstream linking/ranking uses
    as a graph-global prior (complements the purely local P(uri|sf)
    priors of nerd_stats). Beyond the reference (COVERAGE.md).

    Graph: symmetric co-occurrence edges weighted by shared-page
    count (entity_cooccurrence); every node has degree ≥ 1, so there
    are no dangling nodes and mass is conserved exactly by
    construction. rank⁰ = 1/N; rankᵏ⁺¹(v) = (1−d)/N + d·Σᵤ
    rankᵏ(u)·w(u,v)/W(u).

    Scale shape — the classic Spark iterative-join discipline:

    - the (big) edge table is hash-partitioned on ``src`` ONCE and
      persisted; each iteration shuffles only the (uri, rank) table
      (tiny: one row per entity) into that same partitioning, so the
      per-iteration cost is one small exchange + one aggregation;
    - per-edge weight shares (w/W) are precomputed outside the loop;
    - ``localCheckpoint`` every ``checkpoint_every`` iterations cuts
      the iterative lineage.

    Float ranks are deterministic per plan but not SQL-oracle-exact;
    the driver records a rows-only check and pytest verifies against
    dense power iteration (tests/test_training_ops.py).
    """
    spark = mentions.sparkSession
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if cooc is None:
        # the quadratic self-join feeds the edge union (twice), the
        # node count, and the weight build — compute it once
        cooc = entity_cooccurrence(mentions).localCheckpoint(eager=False)
    edges = cooc.select(
        F.col("uri_a").alias("src"), F.col("uri_b").alias("dst"), F.col("cnt").alias("w")
    ).union(cooc.select(F.col("uri_b").alias("src"), F.col("uri_a").alias("dst"), F.col("cnt").alias("w")))
    out_w = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wsum"))
    e = (
        edges.join(out_w, "src")
        .select("src", "dst", F.col("w").cast("bigint").alias("w"), "wsum")
        .repartition(n_part, "src")
        .persist()
    )
    nodes = e.select(F.col("src").alias("uri")).distinct()
    shares = e.select("src", "dst", (F.col("w") / F.col("wsum")).alias("share"))
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return spark.createDataFrame([], "uri string, rank double")
    ranks = nodes.select("uri", F.lit(1.0 / n).alias("rank"))
    for it in range(iterations):
        contribs = (
            shares.join(ranks.withColumnRenamed("uri", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("share") * F.col("rank")).alias("contrib"))
        )
        ranks = contribs.select(
            F.col("dst").alias("uri"),
            (F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("contrib")).alias("rank"),
        )
        if (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize the final ranks BEFORE releasing the edge cache —
    # otherwise the caller's action re-executes the quadratic
    # co-occurrence self-join once per post-checkpoint iteration
    ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    return ranks


PAGERANK_SCALE = 10**9


HITS_SCALE = 10**6


def _hits_half(
    e: DataFrame, nodes: DataFrame, scores: DataFrame,
    join_side: str, other_side: str, in_col: str, out_col: str,
) -> DataFrame:
    """One HITS half-step: push ``in_col`` along edges from
    ``join_side`` to ``other_side``, then max-normalize to ≤ SCALE."""
    raw = (
        e.join(scores.withColumnRenamed("node", join_side), join_side)
        .select(other_side, (F.col(in_col) * F.col("w")).alias("_c"))
        .groupBy(other_side)
        .agg(F.sum("_c").cast("bigint").alias("raw"))
    )
    mx = raw.agg(F.greatest(F.max("raw"), F.lit(1)).cast("bigint").alias("_m"))
    return (
        nodes.join(raw.withColumnRenamed(other_side, "node"), "node", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "node",
            F.expr(f"(coalesce(raw, 0) * {HITS_SCALE}) div _m").cast("bigint").alias(out_col),
        )
    )


def hits_q(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """(node, hub_q BIGINT, auth_q BIGINT) — Kleinberg's HITS (hubs &
    authorities, JACM 1999) over a directed weighted edge table, in
    FIXED-POINT integer arithmetic so the DuckDB oracle (the same
    recurrence unrolled as a MATERIALIZED-CTE chain,
    ``__spark_entry__._hits_q_sql``) hash-matches. The web twin of
    :func:`entity_pagerank`: PageRank scores endorsement flow;
    HITS separates "points at good pages" (hub — a directory/sitemap
    host) from "is pointed at by good hubs" (authority) — the crawl
    seed-quality signal frontier schedulers weight by.

    Recurrence (all integer ops; SCALE = 1e6, div = floor on the
    all-nonnegative values, identical in Spark ``div`` / DuckDB //)::

        h⁰(v)   = SCALE
        araw(v) = Σ_{u→v} hᵏ(u)·w(u,v)
        aᵏ⁺¹(v) = (araw(v)·SCALE) div max_v araw      (no in-links → 0)
        hraw(u) = Σ_{u→v} aᵏ⁺¹(v)·w(u,v)
        hᵏ⁺¹(u) = (hraw(u)·SCALE) div max_u hraw

    Max-normalization, not L2 — no sqrt, so every step stays
    integer-exact. int64 headroom: scores ≤ SCALE and
    raw·SCALE < 2⁶³ needs max weighted degree Σw < 9.2e6 at the
    default SCALE (host-graph territory; lower SCALE for denser
    graphs) — GUARDED: a graph over the bound raises ValueError with
    a rescale hint instead of silently wrapping. Parallel edges are
    collapsed by summing ``weight`` first, so multigraph inputs are
    well-defined.

    Scale shape: the (src, dst, w) edge table is persisted once; each
    half-step shuffles only the (node, score) table plus a 1-row
    broadcast max — the graph itself never re-shuffles per iteration.
    """
    spark = edges.sparkSession
    w = F.col(weight).cast("bigint") if weight else F.lit(1).cast("bigint")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    if not nodes.head(1):
        from pyspark.sql.types import LongType, StructField, StructType

        # empty result keeps the INPUT's node-id type (string hosts,
        # bigint doc ids, …) so the empty edge case unions/joins
        # exactly like the populated one
        schema = StructType(
            [
                StructField("node", e.schema["src"].dataType),
                StructField("hub_q", LongType()),
                StructField("auth_q", LongType()),
            ]
        )
        e.unpersist()
        nodes.unpersist()
        return spark.createDataFrame([], schema)
    # headroom guard: scores ≤ SCALE, so raw ≤ SCALE·Σw and the
    # normalization multiplies by SCALE again — a node whose weighted
    # degree exceeds 2⁶³/SCALE² would fail the job mid-recurrence
    # under ANSI mode (Spark 4 default) or silently corrupt every
    # rank without it. One cheap job on the persisted edge table
    # converts either into a clear error with a rescale hint; real
    # crawl graphs (jobs/crawl_graph.py feeds n_links-weighted host
    # edges) CAN hit this on hub hosts.
    limit = (2**63) // HITS_SCALE // HITS_SCALE
    # the recurrence sums per DIRECTION (auth over in-edges, hub over
    # out-edges), so the binding bound is the max per-direction
    # weighted degree — pooling both directions would falsely reject
    # nodes that are safely under the limit on each side
    maxdeg = (
        e.select(F.col("src").alias("_n"), F.lit(0).alias("_dir"), "w")
        .unionAll(e.select(F.col("dst").alias("_n"), F.lit(1).alias("_dir"), "w"))
        .groupBy("_n", "_dir")
        .agg(F.sum("w").alias("_d"))
        .agg(F.max("_d"))
        .first()[0]
    )
    if maxdeg is not None and maxdeg > limit:
        e.unpersist()
        nodes.unpersist()
        raise ValueError(
            f"hits_q int64 headroom: max weighted degree {maxdeg} exceeds "
            f"{limit} at SCALE={HITS_SCALE}; pre-scale the weight column "
            f"down (e.g. w div {-(-maxdeg // limit)}) before calling"
        )
    h = nodes.select("node", F.lit(HITS_SCALE).cast("bigint").alias("hub_q"))
    a = nodes.select("node", F.lit(0).cast("bigint").alias("auth_q"))
    for it in range(iterations):
        a = _hits_half(e, nodes, h, "src", "dst", "hub_q", "auth_q")
        h = _hits_half(e, nodes, a, "dst", "src", "auth_q", "hub_q")
        if (it + 1) % checkpoint_every == 0:
            a = a.localCheckpoint(eager=True)
            h = h.localCheckpoint(eager=True)
    out = h.join(a, "node").localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    return out


def trustrank_q(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    checkpoint_every: int = 4,
) -> DataFrame:
    """(node, trust_q BIGINT) — TrustRank (Gyöngyi, Garcia-Molina &
    Pedersen, VLDB'04): PageRank whose teleport mass goes ONLY to a
    trusted seed set, so trust decays with link distance from the
    seeds — the crawl-prioritization / spam-demotion scorer a frontier
    ranks hosts by when generic PageRank would launder link-farm mass.
    Fixed-point integers (scale 1e9, damping 85/100 exact), every
    per-edge contribution floored BEFORE the sum — the same exact-
    BIGINT contract as :func:`hits_q`, so the DuckDB oracle
    (the recurrence unrolled as MATERIALIZED CTEs,
    ``__spark_entry__._trustrank_q_sql``) hash-matches.

    Recurrence (all integer ops; S = seed set)::

        r⁰(v)   = (SCALE div |S|) · [v ∈ S]
        rᵏ⁺¹(v) = [v ∈ S] · (SCALE·15) div (100·|S|)
                  + Σ_{u→v} (rᵏ(u)·w(u,v)·85) div (100·W(u))

    Dangling mass leaks downward through the floors (ranks only ever
    shrink relative to the ideal).
    int64 headroom: ranks ≤ SCALE, so edge weights are bounded at
    ~10⁸ — GUARDED: an over-bound weight raises ValueError with a
    rescale hint. Seeds not present in the edge set still rank (they
    hold teleport mass); parallel edges are collapsed by summing.

    Scale shape: edge table with (w, wsum) persisted once; each
    iteration shuffles only the (node, trust_q) table; the seed set
    arrives as a broadcast membership join.
    """
    spark = edges.sparkSession
    w = F.col(weight).cast("bigint") if weight else F.lit(1).cast("bigint")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    ws = e.groupBy("src").agg(F.sum("w").cast("bigint").alias("wsum"))
    e = e.join(ws, "src").persist()
    s = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .unionAll(s.select("node"))
        .distinct()
        .persist()
    )
    n_s = s.count()
    if n_s == 0:
        e.unpersist()
        nodes.unpersist()
        raise ValueError("trustrank_q needs a non-empty seed set")
    # headroom guard: per-edge contribution is trust_q·w·85 with
    # trust_q ≤ SCALE, so a single collapsed edge weight above
    # 2⁶³/(85·SCALE) (~1.08e8) fails the job under ANSI mode (or
    # silently wraps and corrupts the ranking without it). One cheap
    # max() on the persisted edge table gives a clear error instead.
    w_limit = (2**63) // (85 * PAGERANK_SCALE)
    max_w = e.agg(F.max("w")).first()[0]
    if max_w is not None and max_w > w_limit:
        e.unpersist()
        nodes.unpersist()
        raise ValueError(
            f"trustrank_q int64 headroom: max collapsed edge weight {max_w} "
            f"exceeds {w_limit} at SCALE={PAGERANK_SCALE}; pre-scale the "
            f"weight column down (e.g. w div {-(-max_w // w_limit)})"
        )
    flagged = nodes.join(
        F.broadcast(s.withColumn("_seed", F.lit(1))), "node", "left"
    ).select("node", F.coalesce(F.col("_seed"), F.lit(0)).alias("_seed"))
    flagged = flagged.persist()
    flagged.count()
    ranks = flagged.select(
        "node",
        (F.col("_seed") * F.lit(PAGERANK_SCALE // n_s)).cast("bigint").alias("trust_q"),
    )
    base_q = (PAGERANK_SCALE * 15) // (100 * n_s)
    for it in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("(trust_q * w * 85) div (100 * wsum)").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").cast("bigint").alias("acc"))
        )
        ranks = flagged.join(
            contribs.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (F.col("_seed") * F.lit(base_q) + F.coalesce(F.col("acc"), F.lit(0)))
            .cast("bigint")
            .alias("trust_q"),
        )
        if (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    flagged.unpersist()
    return ranks


RA_SCALE = 10**6  # resource-allocation quantization (1/deg → SCALE DIV deg)


def link_prediction(
    mentions: DataFrame,
    k: int = 10,
    cooc: DataFrame | None = None,
    max_hub_deg: int | None = None,
) -> DataFrame:
    """(uri, cand_uri, n_common, ra_q, rank) — top-``k`` missing-edge
    candidates per entity over the co-occurrence graph, the classic
    KG-completion / "entities that should probably be linked" scoring
    pass. Candidates are NON-adjacent pairs sharing ≥ 1 common
    neighbor; scores are common-neighbor count (Newman'01) and the
    resource-allocation index (Zhou et al. '09) in exact integer form:
    ra_q = Σ_z (10⁶ DIV deg(z)) over common neighbors z — floor
    division of exact ints in both engines, so the driver oracle
    hash-matches (no float 1/deg). Ranked (ra_q DESC, n_common DESC,
    cand_uri ASC); RA's down-weighting of hub intermediaries is what
    makes it beat raw CN on web-shaped graphs. Beyond the reference
    (COVERAGE.md).

    Scale shape: one wedge self-join through the common neighbor z —
    a (z, u)×(z, v) wedge enumeration — with
    deg(z) attached BEFORE the fanout so the score is a map-side
    column, then a partial/final (u, v) aggregate, an anti-join that
    drops existing edges, and a per-uri top-k window carrying only
    id/score columns. The wedge fanout at a hub z is deg(z)²: pass
    ``max_hub_deg`` at crawl scale to skip ultra-hubs as
    *intermediaries* (standard practice, and principled here: a hub's
    RA contribution is ≤ 10⁶/deg — the pairs it witnesses are exactly
    the ones RA already discounts to noise). Default None = exact
    (oracle mode).

    int64 headroom: ra_q ≤ n_common·10⁶ and n_common ≤ max degree, so
    the sum wraps only past ~9.2×10¹² common neighbors — unreachable.
    """
    from pyspark.sql import Window as W

    e = (cooc if cooc is not None else entity_cooccurrence(mentions)).select("uri_a", "uri_b")
    e = e.localCheckpoint(eager=False)  # wedge sides + degree + anti-join
    sym = e.select(F.col("uri_a").alias("z"), F.col("uri_b").alias("n")).unionAll(
        e.select(F.col("uri_b").alias("z"), F.col("uri_a").alias("n"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).cast("bigint").alias("_deg"))
    if max_hub_deg is not None:
        deg = deg.where(F.col("_deg") <= max_hub_deg)
    symd = sym.join(deg, "z")  # deg rides along; hub filter applied pre-fanout
    wedges = (
        symd.select("z", F.col("n").alias("u"), "_deg")
        .join(sym.select("z", F.col("n").alias("v")), "z")
        .where(F.col("u") < F.col("v"))
    )
    scores = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.expr(f"CAST({RA_SCALE} AS BIGINT) DIV _deg")).cast("bigint").alias("ra_q"),
    )
    # keep only MISSING edges: (u, v) is already in uri_a < uri_b order
    missing = scores.join(
        e, (F.col("u") == F.col("uri_a")) & (F.col("v") == F.col("uri_b")), "left_anti"
    )
    both = missing.select(
        F.col("u").alias("uri"), F.col("v").alias("cand_uri"), "n_common", "ra_q"
    ).unionByName(
        missing.select(
            F.col("v").alias("uri"), F.col("u").alias("cand_uri"), "n_common", "ra_q"
        )
    )
    w = W.partitionBy("uri").orderBy(
        F.col("ra_q").desc(), F.col("n_common").desc(), F.col("cand_uri").asc()
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("uri", "cand_uri", "n_common", "ra_q", F.col("rank").cast("int"))
    )


def nerd_stats(mentions: DataFrame) -> DataFrame:
    """Per-(surface_form, uri) link stats with per-URI totals, ordered —
    the raw P(uri|sf) statistics of examples/nerd-stats/nerd_stats.pig
    (SURVEY.md §2.3): pair count, total anchors per surface form, and
    the conditional-probability numerator/denominator columns."""
    pairs = pair_counts(mentions)
    sf_tot = annotated_sf_counts(mentions).withColumnRenamed("annotated_cnt", "sf_total")
    return (
        pairs.join(sf_tot, "surface_form")
        .select("surface_form", "uri", "cnt", "sf_total")
        .orderBy(F.desc("cnt"), "surface_form", "uri")
    )
