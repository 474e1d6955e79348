"""Streaming ingestion parity: the availableNow micro-batch drain over
the synthetic corpus must produce the same mention multiset as the
batch pipeline (same frozen pure functions under both engines)."""

import shutil

import pytest
from pyspark.sql import functions as F

from pignlproc_spark import synth
from pignlproc_spark.streaming import ingest


@pytest.fixture(scope="module")
def staged_pages(spark, synth_dir, tmp_path_factory):
    """Split the sf0.001 pages into several files so the file stream
    has multiple arrivals."""
    root = tmp_path_factory.mktemp("stream_in")
    pages = spark.read.parquet(str(synth_dir / "pages.parquet"))
    pages.repartition(5).write.mode("overwrite").parquet(str(root / "pages"))
    return str(root / "pages")


def test_incremental_matches_batch(spark, sf_dir, synth_dir, staged_pages, tmp_path):
    out_dir = str(tmp_path / "mentions_out")
    ckpt = str(tmp_path / "ckpt")
    red = spark.read.parquet(str(synth_dir / "redirects.parquet"))
    q = ingest.run_incremental(spark, staged_pages, out_dir, ckpt, redirects=red)
    q.awaitTermination(120)

    got = (
        spark.read.parquet(out_dir)
        .groupBy("url", "context", "surface_form", "uri")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    golden = synth.side_table(spark, sf_dir, "golden_mentions")
    cols = ["url", "context", "surface_form", "uri", "cnt"]
    assert got.select(*cols).exceptAll(golden.select(*cols)).count() == 0
    assert golden.select(*cols).exceptAll(got.select(*cols)).count() == 0

    # restart with same checkpoint: no new files -> no duplicate output
    n1 = spark.read.parquet(out_dir).count()
    q2 = ingest.run_incremental(spark, staged_pages, out_dir, ckpt, redirects=red)
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == n1
    shutil.rmtree(out_dir)


def test_incremental_stats_merge_on_read(spark, sf_dir, synth_dir, staged_pages, tmp_path):
    from pignlproc_spark.streaming import counts

    out_dir = str(tmp_path / "facts")
    stats_root = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    red = spark.read.parquet(str(synth_dir / "redirects.parquet"))
    q = ingest.run_incremental(spark, staged_pages, out_dir, ckpt, redirects=red, stats_root=stats_root)
    q.awaitTermination(120)

    def assert_fresh():
        pc = counts.read_counts(spark, f"{stats_root}/pair_counts", ["surface_form", "uri"])
        golden = synth.side_table(spark, sf_dir, "golden_pair_counts")
        cols = ["surface_form", "uri", "cnt"]
        assert pc.select(*cols).exceptAll(golden.select(*cols)).count() == 0
        assert golden.select(*cols).exceptAll(pc.select(*cols)).count() == 0
        uc = counts.read_counts(spark, f"{stats_root}/uri_counts", ["uri"])
        gu = synth.side_table(spark, sf_dir, "golden_uri_counts")
        assert uc.exceptAll(gu.select("uri", "cnt")).count() == 0
        assert gu.select("uri", "cnt").exceptAll(uc).count() == 0

    # merge-on-read over per-batch deltas == batch-recomputed counts
    assert_fresh()
    n_deltas = len(counts._read_manifest(f"{stats_root}/pair_counts")["live"])
    assert n_deltas >= 2  # several micro-batches actually happened

    # compaction folds deltas into one base; counts unchanged
    assert counts.compact(spark, f"{stats_root}/pair_counts", ["surface_form", "uri"])
    assert counts.compact(spark, f"{stats_root}/uri_counts", ["uri"])
    assert len(counts._read_manifest(f"{stats_root}/pair_counts")["live"]) == 1
    assert_fresh()

    # replay of a batch ALREADY FOLDED by compaction must be a no-op
    # (the folded_through high-water mark): counts stay exact
    some_batch = spark.read.parquet(f"{out_dir}/batch=0")
    b0_delta = some_batch.groupBy("surface_form", "uri").agg(F.count(F.lit(1)).alias("cnt"))
    counts.append_delta(b0_delta, f"{stats_root}/pair_counts", batch_id=0)
    assert_fresh()

    # replay of a NEW (still-live) batch overwrites its own delta —
    # appended twice, counted once
    counts.append_delta(b0_delta, f"{stats_root}/pair_counts", batch_id=999)
    counts.append_delta(b0_delta, f"{stats_root}/pair_counts", batch_id=999)
    pc = counts.read_counts(spark, f"{stats_root}/pair_counts", ["surface_form", "uri"])
    golden = synth.side_table(spark, sf_dir, "golden_pair_counts")
    merged = pc.join(golden.select("surface_form", "uri", F.col("cnt").alias("g")), ["surface_form", "uri"])
    b0 = some_batch.groupBy("surface_form", "uri").agg(F.count(F.lit(1)).alias("b0"))
    chk = merged.join(b0, ["surface_form", "uri"], "left").fillna(0, subset=["b0"])
    assert chk.where(F.col("cnt") != F.col("g") + F.col("b0")).count() == 0


def test_incremental_link_decisions(spark, synth_dir, tmp_path):
    """Per-batch disambiguation against merged-to-date stats: a single
    availableNow batch must equal the batch operator exactly; a
    multi-batch drain produces prefix-stats decisions per batch."""
    from pignlproc_spark.operators import linking, stats
    from pignlproc_spark.streaming import counts

    pages = spark.read.parquet(str(synth_dir / "pages.parquet"))
    red = spark.read.parquet(str(synth_dir / "redirects.parquet"))

    # single batch: one input file -> one micro-batch
    one = tmp_path / "one"
    pages.coalesce(1).write.parquet(str(one / "pages"))
    out1 = str(tmp_path / "out1")
    q = ingest.run_incremental(
        spark, str(one / "pages"), out1, str(tmp_path / "ck1"),
        redirects=red, stats_root=str(tmp_path / "st1"), link_decisions=True,
    )
    q.awaitTermination(180)
    got = spark.read.parquet(f"{out1}_decisions/batch=0")
    m = spark.read.parquet(f"{out1}/batch=0")
    want = linking.disambiguate(m, stats.pair_counts(m), stats.token_counts(m), k=1)
    cols = ["url", "surface_form", "mention_id", "uri", "evidence", "overlap_cnt", "prior_cnt", "rank"]
    assert got.select(*cols).exceptAll(want.select(*cols)).count() == 0
    assert want.select(*cols).exceptAll(got.select(*cols)).count() == 0

    # multi batch: decisions per batch, all rank-1, cumulative stats grow
    multi = tmp_path / "multi"
    pages.repartition(12).write.parquet(str(multi / "pages"))  # 4 files/trigger -> 3 batches
    out2 = str(tmp_path / "out2")
    q2 = ingest.run_incremental(
        spark, str(multi / "pages"), out2, str(tmp_path / "ck2"),
        redirects=red, stats_root=str(tmp_path / "st2"),
        link_decisions=True, compact_every=2,
    )
    q2.awaitTermination(180)
    import os

    batches = [d for d in os.listdir(f"{out2}_decisions") if d.startswith("batch=")]
    assert len(batches) >= 2
    dec = spark.read.parquet(f"{out2}_decisions")
    assert dec.where(F.col("rank") != 1).count() == 0
    # merged pair counts over all batches equal the batch-global counts
    pc = counts.read_counts(spark, str(tmp_path / "st2" / "pair_counts"), ["surface_form", "uri"])
    all_m = spark.read.parquet(f"{out2}/batch=*")
    want_pc = stats.pair_counts(all_m)
    assert pc.exceptAll(want_pc).count() == 0 and want_pc.exceptAll(pc).count() == 0


def test_incremental_batch_job_budget(spark, synth_dir, tmp_path):
    """One micro-batch of the incremental linker (stats maintained with
    compact_every=1, link decisions written) stays within 30 Spark jobs
    in the query's job group (its runId): a one-delta fold rewrites
    nothing, and the count reads neither re-aggregate one directory nor
    infer its schema."""
    pages = spark.read.parquet(str(synth_dir / "pages.parquet"))
    red = spark.read.parquet(str(synth_dir / "redirects.parquet"))
    pages.coalesce(1).write.parquet(str(tmp_path / "pages"))
    q = ingest.run_incremental(
        spark, str(tmp_path / "pages"), str(tmp_path / "out"), str(tmp_path / "ck"),
        redirects=red, stats_root=str(tmp_path / "stats"), compact_every=1, link_decisions=True,
    )
    q.awaitTermination(180)
    assert q.exception() is None
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    assert 0 < n_jobs <= 30, n_jobs


def test_maintain_stats_auto_compaction(spark, tmp_path):
    from pignlproc_spark.streaming import counts

    root = str(tmp_path / "stats")
    m1 = spark.createDataFrame(
        [("u1", "sf_a", "U1", "river words"), ("u2", "sf_a", "U2", "engine words")],
        "url string, surface_form string, uri string, context string",
    )
    m2 = spark.createDataFrame(
        [("u3", "sf_a", "U1", "river again")], "url string, surface_form string, uri string, context string"
    )
    counts.maintain_mention_stats(m1, root, batch_id=0, compact_every=2)
    counts.maintain_mention_stats(m2, root, batch_id=1, compact_every=2)
    # second batch triggered the fold: one live base, counts merged
    man = counts._read_manifest(f"{root}/pair_counts")
    assert len(man["live"]) == 1 and man["live"][0].startswith("base-")
    assert man["folded_through"] == 1
    pc = {(r.surface_form, r.uri): r.cnt for r in counts.read_counts(spark, f"{root}/pair_counts", ["surface_form", "uri"]).collect()}
    assert pc == {("sf_a", "U1"): 2, ("sf_a", "U2"): 1}
    # replay of folded batch 1 is a no-op
    counts.maintain_mention_stats(m2, root, batch_id=1, compact_every=2)
    pc2 = {(r.surface_form, r.uri): r.cnt for r in counts.read_counts(spark, f"{root}/pair_counts", ["surface_form", "uri"]).collect()}
    assert pc2 == pc

    # ONE new delta after a fold must NOT re-trigger compaction (the
    # base doesn't count toward min_deltas — else every batch would
    # rewrite the whole table)
    counts.maintain_mention_stats(m2, root, batch_id=2, compact_every=2)
    man2 = counts._read_manifest(f"{root}/pair_counts")
    assert sorted(man2["live"]) == ["base-00000000", "delta-00000002"]


def test_maintain_stats_first_batch_crash_replay(spark, tmp_path, monkeypatch):
    """A crash mid-first-batch — even with compact_every=1, which folds
    the batch's own delta before the later tables append — must replay
    cleanly, not trip the legacy-store guard and brick the stream."""
    from pignlproc_spark.streaming import counts

    root = str(tmp_path / "stats")
    m = spark.createDataFrame(
        [("u1", "sf_a", "U1", "river words")],
        "url string, surface_form string, uri string, context string",
    )
    import pytest as pt

    real_append = counts.append_delta
    calls = {"n": 0}

    def crashy(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:  # token_counts (1st) landed + compacted; die before pair
            raise RuntimeError("simulated crash mid-batch")
        return real_append(*a, **k)

    monkeypatch.setattr(counts, "append_delta", crashy)
    with pt.raises(RuntimeError, match="simulated crash"):
        counts.maintain_mention_stats(m, root, batch_id=0, compact_every=1)
    monkeypatch.setattr(counts, "append_delta", real_append)
    # foreachBatch retry: same batch id, fresh attempt — must succeed
    counts.maintain_mention_stats(m, root, batch_id=0, compact_every=1)
    pc = {(r.surface_form, r.uri): r.cnt for r in counts.read_counts(
        spark, f"{root}/pair_counts", ["surface_form", "uri"]).collect()}
    assert pc == {("sf_a", "U1"): 1}
    uc = {r.uri: r.cnt for r in counts.read_counts(spark, f"{root}/uri_counts", ["uri"]).collect()}
    assert uc == {"U1": 1}

    # a TRULY legacy root (pair history, no token manifest) still raises
    legacy = str(tmp_path / "legacy")
    real_append(spark.createDataFrame([("sf", "U", 1)], "surface_form string, uri string, cnt long"),
                f"{legacy}/pair_counts", 0)
    with pt.raises(ValueError, match="token_counts manifest"):
        counts.maintain_mention_stats(m, legacy, batch_id=1, compact_every=0)


def _counts_of(spark, store, keys):
    from pignlproc_spark.streaming import counts

    return {tuple(r)[:-1]: r.cnt for r in counts.read_counts(spark, store, keys).collect()}


def test_compact_promotes_single_delta(spark, tmp_path):
    """A fold over ONE live delta writes no base: the delta already is
    the exact table, so compact() only advances folded_through and
    returns False. The next fold merges the promoted delta like a base,
    and replaying either batch never counts it twice."""
    import os

    from pignlproc_spark.streaming import counts

    store = str(tmp_path / "store")
    d0 = spark.createDataFrame([("a", 2), ("b", 1)], "k string, cnt long")
    d1 = spark.createDataFrame([("a", 1), ("c", 5)], "k string, cnt long")
    counts.append_delta(d0, store, 0)
    assert counts.compact(spark, store, ["k"], min_deltas=1) is False
    man = counts._read_manifest(store)
    assert man["live"] == ["delta-00000000"] and man["folded_through"] == 0
    assert not [d for d in os.listdir(store) if d.startswith("base-")]
    # a second fold has nothing left to fold
    assert counts.compact(spark, store, ["k"], min_deltas=1) is False
    assert _counts_of(spark, store, ["k"]) == {("a",): 2, ("b",): 1}

    counts.append_delta(d0, store, 0)  # replay after the promotion
    assert _counts_of(spark, store, ["k"]) == {("a",): 2, ("b",): 1}

    counts.append_delta(d1, store, 1)
    assert counts.compact(spark, store, ["k"], min_deltas=1) is True
    man = counts._read_manifest(store)
    assert man["live"] == ["base-00000000"] and man["folded_through"] == 1
    assert sorted(d for d in os.listdir(store) if not d.startswith("_")) == ["base-00000000"]
    for bid, d in ((0, d0), (1, d1)):  # replay after the fold
        counts.append_delta(d, store, bid)
    assert _counts_of(spark, store, ["k"]) == {("a",): 3, ("b",): 1, ("c",): 5}


def test_maintain_stats_compact_every_one(spark, tmp_path):
    """compact_every=1 (the benchmark's setting): the first batch's
    fold promotes its delta in every table; the second batch folds
    both directories into base-00000000; replaying batch 0 after
    either step counts it once."""
    from pignlproc_spark.streaming import counts

    root = str(tmp_path / "stats")
    schema = "url string, surface_form string, uri string, context string"
    m0 = spark.createDataFrame([("u1", "sf_a", "U1", "river words"), ("u2", "sf_a", "U2", "engine")], schema)
    m1 = spark.createDataFrame([("u3", "sf_a", "U1", "river again")], schema)
    pair = f"{root}/pair_counts"
    keys = ["surface_form", "uri"]

    counts.maintain_mention_stats(m0, root, batch_id=0, compact_every=1)
    for t in ("token_counts", "pair_counts", "uri_counts", "sf_counts"):
        man = counts._read_manifest(f"{root}/{t}")
        assert man["live"] == ["delta-00000000"] and man["folded_through"] == 0, t
        assert man["next_base"] == 0, t
    counts.maintain_mention_stats(m0, root, batch_id=0, compact_every=1)
    assert _counts_of(spark, pair, keys) == {("sf_a", "U1"): 1, ("sf_a", "U2"): 1}

    counts.maintain_mention_stats(m1, root, batch_id=1, compact_every=1)
    man = counts._read_manifest(pair)
    assert man["live"] == ["base-00000000"] and man["folded_through"] == 1
    counts.maintain_mention_stats(m0, root, batch_id=0, compact_every=1)
    want = {("sf_a", "U1"): 2, ("sf_a", "U2"): 1}
    assert _counts_of(spark, pair, keys) == want
    assert _counts_of(spark, f"{root}/uri_counts", ["uri"]) == {("U1",): 2, ("U2",): 1}


def test_read_counts_manifest_without_schema(spark, tmp_path):
    """A manifest written before the schema was recorded (no "schema"
    key) still reads exactly, by inferring the schema, over one live
    directory and over two."""
    import json
    from pathlib import Path

    from pignlproc_spark.streaming import counts

    store = str(tmp_path / "store")
    man = Path(store) / counts.MANIFEST

    def drop_schema():
        m = json.loads(man.read_text())
        del m["schema"]
        man.write_text(json.dumps(m))

    counts.append_delta(spark.createDataFrame([("a", 0, 2)], "k string, h int, cnt long"), store, 0)
    drop_schema()
    got = counts.read_counts(spark, store, ["k", "h"])
    assert [(f.name, f.dataType.simpleString()) for f in got.schema.fields] == [
        ("k", "string"), ("h", "int"), ("cnt", "bigint")
    ]
    assert _counts_of(spark, store, ["k", "h"]) == {("a", 0): 2}
    counts.append_delta(spark.createDataFrame([("a", 0, 1), ("b", 1, 4)], "k string, h int, cnt long"), store, 1)
    drop_schema()
    assert _counts_of(spark, store, ["k", "h"]) == {("a", 0): 3, ("b", 1): 4}


def test_empty_store_reads_the_populated_schema(spark, tmp_path):
    """A store with no manifest reads as 0 rows with the schema a
    populated store reads with, so a cold-start read unions by name
    with a warm one: (keys... string, cnt bigint) for the count store,
    (src_host, dst_host, n_links) for the link graph built on it."""
    from pignlproc_spark.streaming import counts, linkgraph

    stores = [
        ("pair", lambda d: counts.read_counts(spark, d, ["surface_form", "uri"]),
         ["surface_form", "uri", "cnt"], ("sf_a", "U1", 2)),
        ("graph", lambda d: linkgraph.read_edges(spark, d),
         ["src_host", "dst_host", "n_links"], ("a.example", "b.example", 3)),
    ]
    for name, read, cols, row in stores:
        empty = read(str(tmp_path / f"{name}_none"))
        assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == [
            (cols[0], "string"), (cols[1], "string"), (cols[2], "bigint")
        ], name
        assert empty.count() == 0, name
        delta = spark.createDataFrame([row], f"{cols[0]} string, {cols[1]} string, cnt long")
        counts.append_delta(delta, str(tmp_path / name), 0)
        warm = read(str(tmp_path / name))
        assert [(f.name, f.dataType) for f in empty.schema.fields] == [
            (f.name, f.dataType) for f in warm.schema.fields
        ], name
        assert [tuple(r) for r in empty.unionByName(warm).collect()] == [row], name


def test_windowed_counts_stream(spark, staged_pages, tmp_path):
    stream = ingest.mention_stream(ingest.read_page_stream(spark, staged_pages))
    counts = ingest.windowed_uri_counts(stream, window="30 minutes", watermark="1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("wuc")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    df = spark.sql("select * from wuc")
    assert df.count() > 0
    assert set(df.columns) == {"window_start", "uri", "cnt"}
    assert df.agg(F.min("cnt")).collect()[0][0] >= 1


def test_incremental_near_dup(spark, tmp_path):
    """Streaming near-dup: union of per-batch pairs == batch
    near_duplicates on the whole corpus; a replayed micro-batch leaves
    state and pair set unchanged."""
    from pignlproc_spark.operators import dedup
    from pignlproc_spark.streaming import neardup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "text", "lang", "source", "n_chars").collect()
    half = len(rows) // 2
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(str(in_dir / "a"))
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(str(in_dir / "b"))

    root = str(tmp_path / "nd")
    q = neardup.run_incremental_near_dup(
        spark, str(in_dir) + "/*", root, str(tmp_path / "ck"),
        min_jaccard_pct=60, max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = {(r.id_a, r.id_b) for r in neardup.read_pairs(spark, root).collect()}
    want = {(r.id_a, r.id_b) for r in dedup.near_duplicates(docs, min_jaccard_pct=60).collect()}
    assert got == want and len(want) > 0

    # replay the LAST micro-batch (foreachBatch retry semantics):
    # identical pair set, no duplicated store rows
    m = neardup._read_manifest(f"{root}/signatures")
    last_batch = max(int(d.split("-")[1]) for d in m["live"])
    # reconstruct that batch's docs from the store (file->batch order
    # is a streaming implementation detail)
    last_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{root}/signatures/delta-{last_batch:08d}")
        .select("doc_id")
        .distinct()
        .collect()
    }
    replay_docs = spark.createDataFrame([r for r in rows if r.doc_id in last_ids], schema)
    n_sig_before = neardup._read_facts(spark, f"{root}/signatures", neardup.SIGS_SCHEMA).count()
    neardup.process_batch(replay_docs, root, last_batch, min_jaccard_pct=60)
    got2 = {(r.id_a, r.id_b) for r in neardup.read_pairs(spark, root).collect()}
    assert got2 == want
    assert neardup._read_facts(spark, f"{root}/signatures", neardup.SIGS_SCHEMA).count() == n_sig_before

    # upstream RE-DELIVERY (same docs under a NEW batch id — not a
    # Spark replay): already-seen docs must not duplicate store rows
    # or re-emit their pairs
    neardup.process_batch(replay_docs, root, last_batch + 1, min_jaccard_pct=60)
    got3 = {(r.id_a, r.id_b) for r in neardup.read_pairs(spark, root).collect()}
    assert got3 == want
    assert neardup._read_facts(spark, f"{root}/signatures", neardup.SIGS_SCHEMA).count() == n_sig_before

    # config pinning: restarting with different bands must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        neardup.process_batch(replay_docs, root, last_batch + 2, bands=8)


def test_near_dup_custom_id_col_and_threshold_pin(spark, tmp_path):
    """process_batch works with a non-default id column (store schema
    stays doc_id), and a restart at a different Jaccard threshold is
    refused instead of mixing thresholds in read_pairs."""
    import pytest as pt

    from pignlproc_spark.streaming import neardup

    root = str(tmp_path / "nd")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here now ok")],
        "page_id long, text string",
    )
    neardup.process_batch(docs, root, 0, id_col="page_id", min_jaccard_pct=60)
    pairs = neardup.read_pairs(spark, root).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    sigs = neardup._read_facts(spark, f"{root}/signatures", neardup.SIGS_SCHEMA)
    assert sigs.columns[0] == "doc_id" and sigs.where("doc_id IS NULL").count() == 0
    with pt.raises(ValueError, match="min_jaccard_pct"):
        neardup.process_batch(docs, root, 1, id_col="page_id", min_jaccard_pct=80)


def test_incremental_near_dup_crash_window(spark, tmp_path, monkeypatch):
    """Crash AFTER the pair publish but BEFORE the store appends: the
    replayed batch must converge to the same final state as a clean
    run (pairs overwritten identically, store appended exactly once)."""
    from pignlproc_spark.streaming import neardup

    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "unrelated words entirely here now")], schema
    )
    b1 = spark.createDataFrame([(3, "alpha beta gamma delta epsilon zeta")], schema)
    root = str(tmp_path / "nd")
    neardup.process_batch(b0, root, 0, text_col="text", min_jaccard_pct=60)

    # crash: batch 1 dies after writing pairs, before any store append
    calls = {"n": 0}
    real_append = neardup._append_facts

    def dying_append(*a, **k):
        calls["n"] += 1
        raise RuntimeError("simulated crash before store append")

    monkeypatch.setattr(neardup, "_append_facts", dying_append)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        neardup.process_batch(b1, root, 1, min_jaccard_pct=60)
    assert calls["n"] == 1  # died on the first append
    monkeypatch.setattr(neardup, "_append_facts", real_append)

    # replay of batch 1 (foreachBatch retry) completes the batch
    neardup.process_batch(b1, root, 1, min_jaccard_pct=60)
    pairs = {(r.id_a, r.id_b) for r in neardup.read_pairs(spark, root).collect()}
    assert pairs == {(1, 3)}
    sigs = neardup._read_facts(spark, f"{root}/signatures", neardup.SIGS_SCHEMA)
    assert sigs.select("doc_id").distinct().count() == 3  # docs 1, 2, 3
    assert sigs.count() == sigs.distinct().count()  # appended exactly once each


def test_warc_stream_ingest_exactly_once(spark, synth_dir, tmp_path):
    """Raw .warc.gz archives landing in a drop directory stream into
    canonical pages with exactly-once per archive: an availableNow
    drain over file 1, then a RESTART after file 2 lands, must emit
    each record once and match the batch reader row-for-row."""
    import shutil

    from pignlproc_spark.sources.warc import read_warc_gz
    from pignlproc_spark.streaming.ingest import read_warc_stream

    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "pages_out")
    ckpt = str(tmp_path / "ckpt")
    src = sorted((synth_dir / "warc").glob("*.warc.gz"))
    assert len(src) == 2

    def drain():
        q = (
            read_warc_stream(spark, str(drop), max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    shutil.copy(src[0], drop / src[0].name)
    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    shutil.copy(src[1], drop / src[1].name)
    drain()  # restart from the same checkpoint: file 1 must NOT replay
    got = spark.read.parquet(out)
    batch = read_warc_gz(spark, str(synth_dir / "warc"))
    assert got.count() == batch.count()  # each record exactly once
    # row-identical to the batch reader (url + payload md5 multiset)
    from pyspark.sql import functions as F

    key = lambda d: d.select("url", F.md5("html" if "html" in d.columns else "payload").alias("m"))  # noqa: E731
    assert key(got).exceptAll(key(batch)).count() == 0
    assert key(batch).exceptAll(key(got)).count() == 0


def test_streaming_link_graph_matches_batch(spark, tmp_path):
    """Edge SUM deltas drained through a real file stream must merge
    to the IDENTICAL link graph as the batch scan over the union —
    and a graph scorer run on the maintained table must equal the
    same scorer on batch edges (the composability the store exists
    for). Replay and compaction are no-ops."""
    from __spark_entry__ import LINK_WRAP_POST, LINK_WRAP_PRE
    from pignlproc_spark.functions.urls import host_link_edges
    from pignlproc_spark.operators import stats
    from pignlproc_spark.streaming import counts, linkgraph

    src = str(tmp_path / "lg_in")
    pages = spark.range(0, 400).select(
        F.concat(
            F.lit("https://cc"), (F.col("id") % 7).cast("string"),
            F.lit(".example/p/"), F.lpad(F.col("id").cast("string"), 7, "0"),
        ).alias("url")
    ).select(
        "url",
        F.concat(
            F.lit(LINK_WRAP_PRE),
            F.regexp_extract("url", r"://([^/]+)/", 1),
            F.lit(LINK_WRAP_POST),
        ).alias("html"),
    )
    pages.repartition(4).write.mode("overwrite").parquet(src)

    graph_dir = str(tmp_path / "lg_edges")
    q = (
        spark.readStream.schema("url string, html string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            linkgraph.foreach_batch_hook(graph_dir, compact_every=2)
        )
        .option("checkpointLocation", str(tmp_path / "lg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = sorted(tuple(r) for r in host_link_edges(pages).collect())
    got_edges = linkgraph.read_edges(spark, graph_dir)
    assert sorted(tuple(r) for r in got_edges.collect()) == want

    # a scorer on the maintained table == the scorer on batch edges
    batch_hits = sorted(
        tuple(r)
        for r in stats.hits_q(
            host_link_edges(pages), src="src_host", dst="dst_host",
            weight="n_links", iterations=2,
        ).collect()
    )
    stream_hits = sorted(
        tuple(r)
        for r in stats.hits_q(
            got_edges, src="src_host", dst="dst_host",
            weight="n_links", iterations=2,
        ).collect()
    )
    assert stream_hits == batch_hits

    # replaying a batch id the stream already folded is a no-op (the
    # manifest high-water mark — SUM deltas have NO value-level
    # idempotence, so this is the contract that matters); an explicit
    # compact afterwards changes nothing a reader can observe
    linkgraph.append_batch(pages.limit(50), 0, graph_dir)
    counts.compact(spark, graph_dir, ["src_host", "dst_host"], min_deltas=1)
    assert sorted(tuple(r) for r in linkgraph.read_edges(spark, graph_dir).collect()) == want
