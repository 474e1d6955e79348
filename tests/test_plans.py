"""Physical-plan shape assertions (SURVEY.md §4): the optimizations we
rely on at 100 TB must actually appear in the plans — broadcast hash
joins for dimension enrichment, partial/final HashAggregate pairs for
counts, column pruning down to the parse's input, filter pushdown into
the parquet scan, and no Python eval in the post-extraction path."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from pignlproc_spark import synth
from pignlproc_spark.operators import stats
from pignlproc_spark.operators.canonicalize import apply_redirects


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def mentions(spark):
    rows = [("u%d" % i, "ctx", "sf%d" % (i % 5), "uri%d" % (i % 7)) for i in range(100)]
    return spark.createDataFrame(rows, "url string, context string, surface_form string, uri string")


def test_count_agg_is_partial_final(mentions):
    plan = plan_of(stats.pair_counts(mentions))
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "hashpartitioning" in plan


def test_redirect_join_is_broadcast(spark, mentions):
    red = spark.createDataFrame([("uri1", "uri9")], "src_uri string, dst_uri string")
    plan = plan_of(apply_redirects(mentions, red, "uri"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_disambiguate_dict_joins_broadcast(spark, mentions):
    # both candidate-dictionary joins must broadcast: the corpus-sized
    # mention/token sides never shuffle for dictionary enrichment; the
    # only sort-merge allowed is the (uri, token) evidence join
    from pignlproc_spark.operators import linking

    pairs = mentions.groupBy("surface_form", "uri").agg(F.count(F.lit(1)).alias("cnt"))
    toks = spark.createDataFrame([("uri1", "ctx", 3)], "uri string, token string, cnt long")
    plan = plan_of(linking.disambiguate(mentions, pairs, toks))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in plan  # evidence agg combines map-side


def test_scan_prunes_columns(spark, synth_dir):
    from pignlproc_spark.functions.extract import parse_pages

    pages = spark.read.parquet(str(synth_dir / "pages.parquet"))
    out = parse_pages(pages.drop("text")).select("url", "text")
    plan = plan_of(out)
    # the scan must read only what feeds the projection + UDF
    assert "ReadSchema" in plan
    scan_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" in scan_line and "url" in scan_line
    assert "warc_ts" not in scan_line and "lang" not in scan_line


def test_filter_pushdown(spark, synth_dir):
    pages = spark.read.parquet(str(synth_dir / "pages.parquet"))
    q = pages.where(F.col("lang") == "en").select("url")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_post_extraction_path_is_jvm_only(mentions):
    # stats over mentions: no Python eval operators anywhere
    for df in (stats.pair_counts(mentions), stats.uri_counts(mentions), stats.token_counts(mentions)):
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_salted_agg_two_phase(mentions):
    plan = plan_of(stats.aggregate_text_salted(mentions, "uri", "context", salt_buckets=8))
    # two shuffles: (key, salt) then key
    assert plan.count("hashpartitioning") >= 2


def test_bucketed_join_has_no_exchange(spark, mentions):
    from pignlproc_spark import tables

    uris = mentions.select("uri", "surface_form")
    cnts = mentions.groupBy("uri").count()
    tables.write_bucketed(uris, "t_bucket_a", "uri", num_buckets=4)
    tables.write_bucketed(cnts, "t_bucket_b", "uri", num_buckets=4)
    a = spark.table("t_bucket_a")
    b = spark.table("t_bucket_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(a.join(b, "uri"))
        # co-located buckets: sort-merge join with NO shuffle exchange
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_whole_stage_codegen_spans(spark, synth_dir):
    # AQE hides WSCG subtrees until execution — toggle it off just to
    # assert the underlying stages compile to whole-stage codegen
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = synth.side_table(spark, "/root/testdata/sf0.001", "surface_forms")
        plan = plan_of(li.groupBy("uri").agg(F.sum("anchor_count")), mode="codegen")
        assert "WholeStageCodegen subtrees" in plan
        assert "Found 0 WholeStageCodegen" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_strip_spans_anti_join_is_broadcast(spark):
    from pignlproc_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "tok%d " % (i % 3) * 20) for i in range(20)], "doc_id long, text string"
    )
    p = plan_of(dedup.strip_contaminated_spans(docs, docs.limit(2), n=5))
    # the LeftAnti itself must be the broadcast join — any shuffled
    # variant (sort-merge OR shuffled-hash) is the fact-side regression
    assert "BroadcastHashJoin LeftAnti" in p
    assert "SortMergeJoin LeftAnti" not in p and "ShuffledHashJoin LeftAnti" not in p


def test_window_operators_tokenize_once(spark):
    # the tokens_once generator boundary (dedup.tokens_once): without
    # it, project collapse inlines the regexp tokenizer into the
    # window_expr transform lambda and the text re-tokenizes once PER
    # WINDOW ELEMENT (measured 15x on minhash signatures at sf0.1).
    # Pin: no optimized-plan node may hold a window-construction
    # transform AND the tokenizer in the same expression (the detector
    # fires exactly 1 on the pre-fix construction, 0 on the fixed one),
    # and the per-branch tokenize count stays bounded (per-row cost,
    # one per consumer branch of the token table — never per element).
    from pignlproc_spark.operators import dedup, textstats

    docs = spark.createDataFrame([(1, "a b c a b d e")], "doc_id long, text string")
    for n_branches, build in (
        (1, lambda: dedup.minhash_signatures(docs)),
        (2, lambda: dedup.contamination_spans(docs, docs.limit(1), n=3)),
        (3, lambda: textstats.repetition_signals(docs)),
        (3, lambda: textstats.novelty_score(docs)),
        (4, lambda: textstats.bigram_surprisal(docs)),
        (3, lambda: textstats.collocations(docs)),
    ):
        # both the transform(sequence/transform(slice match and the
        # regexp_extract_all ceilings read Spark's plan rendering, which
        # is version-specific (written against 4.1): a Spark upgrade that
        # renders these expressions differently must re-derive them
        plan = build()._jdf.queryExecution().optimizedPlan().toString()
        inlined = [
            line
            for line in plan.split("\n")
            if ("transform(sequence" in line or "transform(slice" in line)
            and "regexp_extract_all" in line
        ]
        assert not inlined, inlined
        assert plan.count("regexp_extract_all") <= n_branches, plan
    # the shingle array is a generator-bounded attribute too: the filter
    # Spark infers from explode(shingles) must not re-inline the lambda
    plan = dedup.minhash_signatures(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("transform(sequence") == 1, plan


def test_repetition_signals_partial_final(spark):
    from pignlproc_spark.operators import textstats

    docs = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    p = plan_of(textstats.repetition_signals(docs))
    # per-(doc, gram) count then per-doc rollup: two partial/final
    # HashAggregate pairs with map-side combine absorbing the fanout
    assert p.count("HashAggregate") >= 4
    assert "partial_count" in p or "partial_sum" in p


def test_pagerank_mass_conserved_and_shares_cached(spark):
    # rank mass is conserved exactly (no dangling nodes by
    # construction), and the iteration plan reads the share table from
    # cache: build one iteration manually the way entity_pagerank does
    # and assert the persisted side appears as InMemoryRelation
    from pignlproc_spark.operators import stats as S

    m = spark.createDataFrame(
        [("p%d" % (i // 3), "e%d" % (i % 9)) for i in range(60)], "url string, uri string"
    )
    ranks = S.entity_pagerank(m, iterations=2)
    assert abs(sum(r.rank for r in ranks.collect()) - 1.0) < 1e-9

    cooc = S.entity_cooccurrence(m)
    edges = cooc.select(F.col("uri_a").alias("src"), F.col("uri_b").alias("dst"), F.col("cnt").alias("w"))
    shares = edges.repartition(4, "src").persist()
    shares.count()
    try:
        joined = shares.join(
            spark.createDataFrame([("e1", 0.5)], "src string, rank double"), "src"
        ).groupBy("dst").agg(F.sum(F.col("w") * F.col("rank")).alias("contrib"))
        assert "InMemoryTableScan" in plan_of(joined) or "InMemoryRelation" in plan_of(joined)
    finally:
        shares.unpersist()


def test_contamination_probe_is_broadcast_and_jvm_only(spark):
    # decontaminating 100 TB against a benchmark set must be a
    # broadcast probe (corpus never shuffles for the join) with no
    # Python eval anywhere
    from pignlproc_spark.operators import dedup

    corpus = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    ev = spark.createDataFrame([(2, "a b c d e f g h")], "doc_id long, text string")
    plan = plan_of(dedup.contamination_spans(corpus, ev, n=8), mode="simple")
    # the h-probe against the eval grams is the one broadcast join
    assert plan.count("BroadcastHashJoin") == 1
    assert "BroadcastHashJoin [h#" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_near_duplicates_reuses_exchanges_and_caches_nothing(spark, monkeypatch):
    # near_duplicates is one action: both self-join sides read one
    # shuffle each (ReusedExchange in the final plan), and no cache
    # outlives the call (the returned localCheckpoint is not a cache
    # manager entry)
    from pignlproc_spark.operators import dedup

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta v%d" % (i % 3)) for i in range(20)]
    rows += [(100 + i, "word%d other%d thing%d more%d" % (i, i, i, i)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spark.catalog.clearCache()  # so the check below sees only this call
    checkpointed = []
    real = type(docs).localCheckpoint

    def recording(self, *a, **k):
        checkpointed.append(self)
        return real(self, *a, **k)

    monkeypatch.setattr(type(docs), "localCheckpoint", recording)
    out = dedup.near_duplicates(docs)
    monkeypatch.undo()
    assert out.count() == 20 * 19 // 2  # the 20 alpha docs pair up
    assert len(checkpointed) == 1
    final = checkpointed[0]._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final[:3000]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pack_sequences_single_shuffle(spark):
    # one exchange on the shard key feeds the window cumsum; only the
    # (shard, id, count) triple ever shuffles, never text
    from pignlproc_spark.operators import textstats

    df = spark.createDataFrame([(i, "some text here") for i in range(10)], "doc_id long, text string")
    plan = plan_of(textstats.pack_sequences(df), mode="simple")
    assert plan.count("Exchange") == 1
    # the piece count is projected BELOW the exchange (text never shuffles)
    import re

    ex = re.search(r"Exchange hashpartitioning\(shard", plan)
    assert ex is not None
    assert "Window" in plan[: ex.start()]  # window consumes the one shuffle


def test_rarity_score_one_scan_no_join(spark):
    # doc_freq rides a window over the token partitioning: ONE scan of
    # the corpus, no df-rollup-and-rejoin (which would tokenize twice)
    from pignlproc_spark.operators import textstats

    df = spark.createDataFrame([(i, "w%d common" % (i % 4)) for i in range(10)], "doc_id long, text string")
    plan = plan_of(textstats.rarity_score(df), mode="simple")
    assert plan.count("Scan ") == 1
    assert "Join" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grouping_sets_single_expand(spark):
    # rollup/cube/grouping-sets must each be ONE Expand pass over one
    # scan — not a union of per-set aggregations
    rows = [(i, "t%d" % (i % 2), i * 10) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, k string, v long")
    gs = df.groupingSets([["k"], []], "k").agg(F.sum("v").alias("s"))
    plan = plan_of(gs, mode="simple")
    assert plan.count("Expand") == 1
    # ONE scan total ("LocalTableScan" contains "Scan", so any extra
    # parquet/local scan pushes this count past 1)
    assert plan.count("Scan") == 1
    assert "Union" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    # the storage layout contract at 100 TB: a filter on the partition
    # column must become a PartitionFilter (directory pruning), not a
    # post-scan predicate over every file
    df = spark.createDataFrame(
        [(i, "lang%d" % (i % 4), "t") for i in range(40)], "id long, lang string, text string"
    )
    path = str(tmp_path / "part_tbl")
    df.write.partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).where(F.col("lang") == "lang1")
    plan = plan_of(back)
    assert "PartitionFilters" in plan and "lang1" in plan
    assert back.count() == 10


def test_runtime_bloom_filter_injects_for_selective_dim(spark, tmp_path):
    # the 100 TB mechanism behind "filter the fact scan by the dim
    # BEFORE the shuffle": a selective (filtered) build side injects a
    # runtime bloom filter (might_contain) into the fact side's scan
    # stage, row-filtering ahead of the exchange
    fact_p, dim_p = str(tmp_path / "bf_fact"), str(tmp_path / "bf_dim")
    spark.range(0, 200000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    ).write.parquet(fact_p)
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
    ).where(F.col("id") % 97 == 0).write.parquet(dim_p)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try:
        j = spark.read.parquet(fact_p).join(
            spark.read.parquet(dim_p).where(F.col("attr") > 0), "k"
        )
        p = plan_of(j)
        assert "might_contain" in p.lower()
        assert j.count() == 2000  # 10 surviving keys (k=0 fails attr>0) x 200 fact rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")


def test_warc_gz_listing_prunes_content(spark, tmp_path):
    # the .warc.gz reader's binaryFile listing must NOT read file bytes
    # into the scan — decompression happens inside each task; at CC
    # scale (60k+ ~1 GB files) an unpruned content column would move
    # the whole crawl through the listing exchange
    import gzip

    from pignlproc_spark.sources import warc as W

    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 10\r\n\r\n"
        b"HTTP/1.1 2\r\n\r\n"
    )
    p = tmp_path / "t.warc.gz"
    p.write_bytes(gzip.compress(rec))
    plan = plan_of(W.read_warc_gz(spark, str(p)), mode="simple")
    scan = next(line for line in plan.splitlines() if "FileScan binaryFile" in line)
    assert "ReadSchema: struct<path:string>" in scan  # content pruned


def test_pii_scrub_is_single_jvm_projection(spark):
    """CCPii scrub must stay one codegen'd projection over the scan —
    no Python eval, no shuffle, no extra scan per category."""
    from pignlproc_spark.operators import textstats

    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = plan_of(textstats.pii_scrub(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # pure per-row transform: zero shuffle


def test_classifier_round_broadcasts_weights_and_reuses_doc_layout(spark):
    """CCLogReg training round: the (dim+1)-row weight table must
    BROADCAST onto the corpus-sized features (never shuffle the
    corpus for the model), and the per-doc dot groupBy must reuse the
    features' doc_id hash layout — no new corpus Exchange per round.
    Gradient sums stay partial/final. No Python eval anywhere."""
    from pignlproc_spark.operators import classifier as C

    rows = [(i, f"w{i % 3} w{i % 5} text", i % 2) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = C.train_hashed_logreg(df, dim=8, rounds=1)
    plan = plan_of(model.weights)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # scoring plan shows the broadcast-join shape (training rounds are
    # localCheckpointed away; score_docs rebuilds the same join)
    scored = plan_of(C.score_docs(df, model))
    assert "BroadcastHashJoin" in scored
    assert "SortMergeJoin" not in scored
    assert "partial_sum" in scored  # per-doc dot combines map-side
    # the training round proper (persisted doc_id-partitioned features
    # + broadcast weights, exactly as train_hashed_logreg builds it)
    # must add NO corpus Exchange: the cache carries the hash layout
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    feats = C.doc_features(df, 8).repartition(n, "doc_id").persist()
    feats.count()
    w = spark.range(-1, 8).select(
        F.col("id").cast("bigint").alias("bucket"), F.lit(0).cast("bigint").alias("w_q")
    )
    dot = (
        feats.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("w_q")).alias("dot_q"))
    )
    rp = plan_of(dot, mode="simple")
    head = rp.split("InMemoryRelation")[0]  # below the cache = build lineage
    assert "InMemoryTableScan" in rp
    assert "Exchange" not in head.replace("BroadcastExchange", "")
    feats.unpersist()


def test_robots_filter_crawl_side_is_broadcast_probe(spark):
    """The rules reach the crawl as a broadcast; the crawl itself never
    sort-shuffles beyond the verdict aggregate's own exchange."""
    from pignlproc_spark.functions.urls import parse_robots, robots_filter

    rules = parse_robots(
        spark.createDataFrame(
            [("h.example", "User-agent: *\nDisallow: /x\n")], "host string, body string"
        )
    )
    pages = spark.createDataFrame([("https://h.example/x",)], "url string")
    plan = robots_filter(pages, rules)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # rules side broadcast, never SMJ
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_hits_half_step_shuffles_scores_not_graph(spark):
    """One HITS half-step (the unit every iteration repeats; the full
    hits_q output hides behind its localCheckpoint): the join against
    the persisted edge table must read the cache (InMemoryTableScan —
    the graph is never re-shuffled per iteration), the normalization
    max must arrive as a 1-row broadcast (BroadcastNestedLoopJoin on
    a singleton, never a CartesianProduct over data), all JVM-side."""
    from pignlproc_spark.operators import stats

    raw = spark.createDataFrame(
        [("s%d" % (i % 7), "d%d" % (i % 5), 1) for i in range(50)],
        "src string, dst string, w int",
    )
    e = raw.groupBy("src", "dst").agg(F.sum("w").cast("bigint").alias("w")).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    h = nodes.select("node", F.lit(stats.HITS_SCALE).cast("bigint").alias("hub_q"))
    e.count(), nodes.count()  # materialize the caches
    plan = plan_of(stats._hits_half(e, nodes, h, "src", "dst", "hub_q", "auth_q"))
    e.unpersist(), nodes.unpersist()
    assert "InMemoryTableScan" in plan  # persisted edges + nodes reused
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row max attach
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_read_counts_one_dir_is_a_plain_scan(spark, tmp_path):
    """One live count directory holds one row per key (append_delta's
    contract; a base comes from a groupBy), so it reads as a projection
    over the scan. Two live directories still merge through an
    aggregation."""
    from pignlproc_spark.streaming import counts

    store = str(tmp_path / "store")
    delta = spark.createDataFrame([("a", 2), ("b", 1)], "k string, cnt long")
    counts.append_delta(delta, store, 0)
    one = plan_of(counts.read_counts(spark, store, ["k"]))
    assert "Aggregate" not in one and "Exchange" not in one
    counts.append_delta(delta, store, 1)
    two = plan_of(counts.read_counts(spark, store, ["k"]))
    assert "HashAggregate" in two and "Exchange" in two


def test_read_counts_builds_without_a_job(spark, tmp_path):
    """The manifest carries the written schema, so building a
    read_counts DataFrame launches no Spark job; a manifest without it
    (the format before the schema was recorded) infers the schema with
    a job."""
    import json

    from pignlproc_spark.streaming import counts

    sc = spark.sparkContext
    store = tmp_path / "store"
    counts.append_delta(spark.createDataFrame([("a", 2)], "k string, cnt long"), str(store), 0)

    def jobs_to_build(group):
        sc.setJobGroup(group, group)
        try:
            counts.read_counts(spark, str(store), ["k"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_to_build("read-counts-manifest-schema") == 0
    man = store / counts.MANIFEST
    m = json.loads(man.read_text())
    del m["schema"]
    man.write_text(json.dumps(m))
    assert jobs_to_build("read-counts-inferred-schema") >= 1
