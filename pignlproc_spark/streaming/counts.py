"""Incrementally-maintained count tables (merge-on-read + compaction).

The batch pipeline recomputes pairCounts/uriCounts from scratch; with
streaming ingestion (ingest.run_incremental) the mention *facts* grow
continuously and a full recompute per refresh is O(corpus). This
module keeps the count tables fresh at O(batch):

- every micro-batch appends a tiny pre-aggregated **delta** (the
  partial counts of just that batch — the map-side-combine output,
  materialized);
- readers **merge on read**: union the live base+delta parquet dirs
  and sum — exactly Iceberg/Delta merge-on-read semantics over an
  algebraic aggregate (COUNT partials sum associatively, SURVEY.md
  §2.2 P8);
- **compaction** folds all live deltas into a new base when the delta
  count grows, bounding read amplification.

Commit protocol (local-parquet stand-in for an Iceberg snapshot):
``_manifest.json`` lists the live directories and is swapped with an
atomic ``os.replace``; a delta/base dir becomes visible only via the
manifest, and delta dir names embed the micro-batch id so a replayed
batch overwrites its own delta instead of double-counting (same
idempotence contract as ingest.run_incremental's per-batch output
dirs). On a real cluster the same shape is one Iceberg ``MERGE INTO``
(or an append to a partial-counts table + scheduled rewrite_data_files
compaction); the manifest here plays the catalog's snapshot pointer.

Every live directory holds one row per key (a base is written from a
``groupBy``; a delta must arrive aggregated), so a store with ONE live
directory already is the exact table: reading it is a plain scan, and
folding it rewrites nothing — compaction only advances the manifest's
``folded_through`` mark, and the promoted delta serves as the base.
The manifest also carries the Spark schema of what was written, so a
read never launches a schema-inference job (manifests written before
the schema was recorded still infer it).

Scale notes: a delta holds at most the batch's *distinct* keys —
hub-entity skew is absorbed before the write by the partial
aggregation. Merge-on-read cost is (#live dirs × their distinct
keys); compaction keeps #live dirs bounded. The counts table itself
is the small side at every scale (distinct (sf, uri) pairs, not
mention occurrences).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"


def _read_manifest(counts_dir: str) -> dict:
    p = Path(counts_dir) / MANIFEST
    if not p.exists():
        return {"live": [], "next_base": 0, "folded_through": -1}
    m = json.loads(p.read_text())
    m.setdefault("folded_through", -1)
    return m


def _write_manifest(counts_dir: str, manifest: dict) -> None:
    p = Path(counts_dir) / MANIFEST
    tmp = p.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(manifest, sort_keys=True))
    os.replace(tmp, p)  # atomic snapshot swap


def append_delta(partial_counts: DataFrame, counts_dir: str, batch_id: int) -> None:
    """Publish one micro-batch's partial counts.

    ``partial_counts`` must already be aggregated to (keys..., cnt):
    ONE row per key. A store with a single live directory is read
    without re-aggregation, so a delta with duplicate keys would be
    read back with them. The manifest records the delta's schema so
    readers skip schema inference.

    Idempotent per ``batch_id`` — including across compaction: a
    replayed micro-batch rewrites ``delta-<id>`` while the delta is
    still unfolded, and is a NO-OP once compaction folded that batch
    (the manifest's ``folded_through`` high-water mark records the
    largest batch id any fold absorbed; without it a
    crash-between-sink-and-checkpoint replay after compact() would
    re-insert an already-counted batch forever).
    """
    m = _read_manifest(counts_dir)
    name = f"delta-{batch_id:08d}"
    if batch_id <= m["folded_through"]:
        return  # already folded — replay must not re-add
    partial_counts.write.mode("overwrite").parquet(f"{counts_dir}/{name}")
    m = _read_manifest(counts_dir)
    m["schema"] = partial_counts.schema.json()
    if name not in m["live"]:
        m["live"].append(name)
    _write_manifest(counts_dir, m)


def read_counts(spark: SparkSession, counts_dir: str, keys: list[str]) -> DataFrame:
    """Merge-on-read: the current exact table (keys..., cnt).

    Deltas hold algebraic count partials, so live directories merge by
    summing ``cnt`` per key. One live directory is already one row per
    key and is read as stored; only two or more are merged through an
    aggregation. An empty store (no live directory) reads as 0 rows of
    (keys... string, cnt bigint), the schema a populated store of
    string keys has.
    """
    m = _read_manifest(counts_dir)
    if not m["live"]:
        fields = ", ".join(f"{k} string" for k in keys)
        return spark.createDataFrame([], f"{fields}, cnt long")
    reader = spark.read
    if "schema" in m:
        reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
    df = reader.parquet(*[f"{counts_dir}/{d}" for d in m["live"]])
    if len(m["live"]) == 1:
        return df.select(*keys, F.col("cnt").cast("long").alias("cnt"))
    return df.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("cnt"))


def compact(spark: SparkSession, counts_dir: str, keys: list[str], min_deltas: int = 2) -> bool:
    """Fold live dirs into one base by summing their counts per key, once
    at least ``min_deltas`` unfolded deltas are live. Returns True if it
    wrote a new base.

    New base is written first, then the manifest swap publishes it,
    then the consumed dirs are removed — a reader holding the *old*
    manifest across the removal would race; single-writer + read-
    after-manifest is the supported protocol (an Iceberg catalog gives
    real snapshot isolation for the cluster version of this).

    A live set of ONE delta is already the exact table: the fold only
    advances ``folded_through`` to its batch (one manifest swap) and
    the delta stays live as the base. A replay of that batch is then a
    no-op, as after any fold, and the next fold merges the promoted
    delta like any base.
    """
    m = _read_manifest(counts_dir)
    # threshold counts only deltas not yet folded: the base (or a
    # promoted delta) always stays live, so counting it would
    # re-trigger compaction on every append after the first fold
    # (O(table) write amplification per micro-batch)
    batches = [int(d.split("-")[1]) for d in m["live"] if d.startswith("delta-")]
    unfolded = [b for b in batches if b > m["folded_through"]]
    if len(unfolded) < min_deltas:
        return False
    folded = max([m["folded_through"], *unfolded])
    if m["live"] == [f"delta-{folded:08d}"]:  # one delta: already the exact table
        _write_manifest(counts_dir, {**m, "folded_through": folded})
        return False
    merged = read_counts(spark, counts_dir, keys)
    base = f"base-{m['next_base']:08d}"
    merged.write.mode("overwrite").parquet(f"{counts_dir}/{base}")
    _write_manifest(
        counts_dir,
        {
            "live": [base],
            "next_base": m["next_base"] + 1,
            "folded_through": folded,
            "schema": merged.schema.json(),
        },
    )
    for d in m["live"]:
        shutil.rmtree(f"{counts_dir}/{d}", ignore_errors=True)
    return True


def maintain_mention_stats(
    batch_mentions: DataFrame,
    stats_root: str,
    batch_id: int,
    compact_every: int = 0,
    lang: str = "en",
    analysis: str = "word",
) -> None:
    """Per-micro-batch hook: publish pairCounts/uriCounts/sf annotated-
    count deltas for one batch of mention facts (call from
    foreachBatch alongside the fact append).

    ``compact_every > 0`` bounds read amplification inline: once a
    table accumulates that many live dirs they are folded into a new
    base right here (single-writer, so compacting inside the batch
    hook is race-free). ``lang``/``analysis`` parameterize the token
    profile exactly like the batch ``stats.token_counts`` build."""
    from pignlproc_spark.operators import stats

    # guard against a stats root written before token profiles were
    # maintained: resuming on it would produce truncated profiles and
    # silently prior-biased link decisions. token_counts is appended
    # FIRST below, so on any root this code version ever touched the
    # pair table cannot have history while token_counts lacks a
    # manifest — pair history without one is therefore truly legacy,
    # and a crash anywhere inside a batch (including a compact_every=1
    # fold of the first batch's own delta) replays cleanly.
    if not (Path(stats_root) / "token_counts" / MANIFEST).exists():
        pm = _read_manifest(f"{stats_root}/pair_counts")
        if pm["folded_through"] >= 0 or pm["live"]:
            raise ValueError(
                f"{stats_root} has count history but no token_counts manifest — it "
                "predates token-profile maintenance; backfill token_counts from the "
                "fact table or start a fresh stats root"
            )

    spark = batch_mentions.sparkSession
    tables = {
        # per-entity token profile — keeps the incremental linker's
        # evidence term fresh (same frozen tokenizer as the batch
        # build). MUST stay first: the legacy guard above relies on
        # token_counts having a manifest before pair_counts has history
        "token_counts": (stats.token_counts(batch_mentions, lang=lang, analysis=analysis), ["uri", "token"]),
        "pair_counts": (stats.pair_counts(batch_mentions), ["surface_form", "uri"]),
        "uri_counts": (stats.uri_counts(batch_mentions), ["uri"]),
        "sf_counts": (
            stats.annotated_sf_counts(batch_mentions).withColumnRenamed("annotated_cnt", "cnt"),
            ["surface_form"],
        ),
    }
    for name, (delta, keys) in tables.items():
        append_delta(delta, f"{stats_root}/{name}", batch_id)
        if compact_every:
            compact(spark, f"{stats_root}/{name}", keys, min_deltas=compact_every)
