"""Incremental near-duplicate detection over streaming document
arrival.

Batch MinHash dedup (operators/dedup.py) is O(corpus) per run; when
documents arrive continuously the right cost per micro-batch is
O(batch × matching buckets): hash ONLY the new documents, probe their
signatures against the cumulatively-maintained signature store, verify
candidates with exact Jaccard against the stored token sets, and emit
each near-dup pair exactly once — at the micro-batch where its later
document arrives.

Store layout under ``root`` (same manifest commit protocol as
streaming/counts.py — an Iceberg-append stand-in; dirs become visible
only via the atomically-swapped manifest, delta names embed the batch
id so replays overwrite instead of duplicating):

- ``signatures/delta-<batch>``: (doc_id, band, sig) — facts, no merge
  needed on read (union of live dirs).
- ``token_sets/delta-<batch>``: (doc_id, tok ARRAY<STRING>) — the
  verify-side profiles (documents' raw text is NOT retained).
- ``pairs/batch=<batch>``: (id_a, id_b, inter_cnt, union_cnt) —
  verified near-dup pairs first visible in that batch.

Equivalence contract (tested): after draining any batch split of a
corpus, the union of emitted pairs equals batch
``dedup.near_duplicates`` on the whole corpus at the same threshold —
a pair sharing an LSH bucket is detected when its later member
arrives, independent of how the stream was batched.

Crash/replay: a retried micro-batch recomputes against history that
EXCLUDES its own partially-committed deltas (live dirs minus this
batch's), rewrites its pair output (overwrite), and re-appends its
deltas idempotently — the store never double-counts and the pair set
is stable under replay.

Scale notes: the probe join keys on (band, sig) — the same tiny-key
shuffle profile as batch LSH; the signature store grows as
O(docs × bands) rows and at cluster scale becomes a bucketed Iceberg
table so the probe is a bucket-pruned join, and token_sets a
sorted-on-doc_id table for the verify lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pignlproc_spark.operators import dedup
from pignlproc_spark.streaming.counts import _read_manifest, append_delta

SIGS_SCHEMA = "doc_id long, band int, sig string"
TOKS_SCHEMA = "doc_id long, tok array<string>"

# fact appends reuse the counts-module commit protocol verbatim
# (write delta dir → manifest append → atomic swap); its
# folded_through guard is inert here because this store never compacts.
# Its rows are facts, not one row per key: _read_facts reads them with
# its own schema, never through counts.read_counts
_append_facts = append_delta


def _check_meta(root: str, bands: int, min_jaccard_pct: int) -> None:
    """Pin the store's LSH config: probing 8-band signatures against
    4-band history silently halves recall, and a threshold change
    mid-stream makes read_pairs a mishmash that equals batch
    near_duplicates at NO single threshold — refuse both."""
    import json
    import os
    from pathlib import Path

    p = Path(root) / "_meta.json"
    if p.exists():
        meta = json.loads(p.read_text())
        if meta["bands"] != bands:
            raise ValueError(
                f"near-dup store {root} was built with bands={meta['bands']}; "
                f"restarting with bands={bands} would silently degrade "
                "probe recall against history — rebuild the store or "
                "keep the original setting"
            )
        # stores written before the threshold pin lack the key; accept
        # them (can't know their history) but never a known mismatch
        stored_pct = meta.get("min_jaccard_pct")
        if stored_pct is not None and stored_pct != min_jaccard_pct:
            raise ValueError(
                f"near-dup store {root} was built at "
                f"min_jaccard_pct={stored_pct}; restarting at "
                f"{min_jaccard_pct} would mix thresholds in read_pairs "
                "— rebuild the store or keep the original setting"
            )
        return
    # a store with signature history but no meta predates the pin (or
    # lost its sidecar) — adopting the caller's bands here would be the
    # exact silent degradation this guard exists to prevent
    if _read_manifest(f"{root}/signatures")["live"]:
        raise ValueError(
            f"near-dup store {root} has signature history but no _meta.json — "
            "cannot confirm its bands config; restore the sidecar or rebuild"
        )
    Path(root).mkdir(parents=True, exist_ok=True)
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps({"bands": bands, "min_jaccard_pct": min_jaccard_pct}))
    os.replace(tmp, p)  # atomic: a crash mid-write must not brick the stream


def _read_facts(
    spark: SparkSession, facts_dir: str, schema: str, exclude_batch: int | None = None
) -> DataFrame:
    """Union of live fact dirs, optionally excluding one batch's delta
    (a replayed batch must not see its own partially-committed rows)."""
    m = _read_manifest(facts_dir)
    live = [
        d
        for d in m["live"]
        if exclude_batch is None or d != f"delta-{exclude_batch:08d}"
    ]
    if not live:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*[f"{facts_dir}/{d}" for d in live])


def process_batch(
    batch_docs: DataFrame,
    root: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = dedup.DEFAULT_BANDS,
    min_jaccard_pct: int = 80,
) -> None:
    """One micro-batch: probe, verify, publish (call from foreachBatch)."""
    from pyspark.storagelevel import StorageLevel

    spark = batch_docs.sparkSession
    _check_meta(root, bands, min_jaccard_pct)
    sigs_hist = _read_facts(spark, f"{root}/signatures", SIGS_SCHEMA, exclude_batch=batch_id)
    toks_hist = _read_facts(spark, f"{root}/token_sets", TOKS_SCHEMA, exclude_batch=batch_id)
    # upstream RE-DELIVERY guard (distinct from Spark's own replay,
    # which exclude_batch handles): a doc_id already in history must
    # not re-enter — it would duplicate store rows and re-emit its
    # pairs. token_sets covers every ingested doc (signatures miss
    # sub-shingle docs), so it is the authoritative seen-set.
    batch_docs = (
        batch_docs.join(toks_hist.select(F.col("doc_id").alias(id_col)), id_col, "left_anti")
        .dropDuplicates([id_col])
        .persist(StorageLevel.MEMORY_AND_DISK)  # the history anti-join runs once,
        # not once per derived frame (sigs + toks both materialize it)
    )
    sigs_new = (
        dedup.minhash_signatures(batch_docs, id_col, text_col, bands)
        .withColumnRenamed(id_col, "doc_id")  # store schema is doc_id regardless of caller's id
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    toks_new = (
        dedup._token_sets(batch_docs, id_col, text_col)
        .withColumnRenamed(id_col, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:

        # candidates: new×history plus new×new, normalized (id_a < id_b),
        # each unordered pair surfaces exactly once — here, now
        probe = sigs_new.alias("n").join(
            sigs_hist.alias("h"),
            (F.col("n.band") == F.col("h.band")) & (F.col("n.sig") == F.col("h.sig")),
        )
        cand_hist = probe.select(
            F.least(F.col("n.doc_id"), F.col("h.doc_id")).alias("id_a"),
            F.greatest(F.col("n.doc_id"), F.col("h.doc_id")).alias("id_b"),
        ).where(F.col("id_a") != F.col("id_b"))
        # new×new candidates and the exact-Jaccard verify are the BATCH
        # operators called through their injection points (sigs=/pairs=/
        # toks=) — the tested streaming==batch equivalence contract
        # depends on one code path, not a hand-kept copy
        cand_new = dedup.lsh_candidate_pairs(batch_docs, sigs=sigs_new)
        cands = cand_hist.union(cand_new).distinct()
        verified = dedup.jaccard_pairs(
            batch_docs,
            min_jaccard_pct=min_jaccard_pct,
            pairs=cands,
            toks=toks_hist.union(toks_new),
        )
        # pairs first (overwrite = replay-safe), then the store appends —
        # a crash at any point replays into the identical final state
        verified.write.mode("overwrite").parquet(f"{root}/pairs/batch={batch_id}")
        _append_facts(sigs_new, f"{root}/signatures", batch_id)
        _append_facts(toks_new, f"{root}/token_sets", batch_id)
    finally:
        sigs_new.unpersist()
        toks_new.unpersist()
        batch_docs.unpersist()


def read_pairs(spark: SparkSession, root: str) -> DataFrame:
    """All verified near-dup pairs emitted so far."""
    import os

    if not os.path.isdir(f"{root}/pairs"):
        return spark.createDataFrame([], "id_a long, id_b long, inter_cnt long, union_cnt long")
    return spark.read.parquet(f"{root}/pairs").select("id_a", "id_b", "inter_cnt", "union_cnt")


def run_incremental_near_dup(
    spark: SparkSession,
    input_dir: str,
    root: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, lang string, source string, n_chars long",
    available_now: bool = True,
    max_files_per_trigger: int = 4,
    bands: int = dedup.DEFAULT_BANDS,
    min_jaccard_pct: int = 80,
):
    """foreachBatch driver: file-arrival document stream → incremental
    near-dup maintenance. Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int):
        process_batch(batch_df, root, batch_id, bands=bands, min_jaccard_pct=min_jaccard_pct)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
