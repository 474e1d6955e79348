"""Frozen (subj, pred, obj) triple embedding + skew-aware materialize.

SURVEY.md §2.3 "Triple materialization note": the reference's outputs
are count tables; this module embeds them as triples with a weight
column. The embedding is FROZEN (synth.py computes goldens with the
identical shape — changing one requires changing both + regenerating
goldens):

    (surface_form, "kg:linksTo",        uri,       pair_cnt)
    (uri,          "kg:uriCount",       str(cnt),  cnt)
    (surface_form, "kg:annotatedCount", str(cnt),  cnt)
    (surface_form, "kg:totalCount",     str(cnt),  cnt)   # -1 sentinel kept
    (url,          "kg:mentions",       uri,       cnt)

Materialization (BASELINE.json:6 "final (subj, pred, obj) triple
materialization into salted, skew-aware partitioned Iceberg graph
tables"): an AQE rebalance on hashed subject, which splits hub
subjects across files and coalesces small partitions; partitioned by
``pred`` (5 coarse buckets → partition pruning for per-relation
readers); Parquet locally, Iceberg via tables.write_table's config
gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pignlproc_spark import tables

TRIPLE_COLS = ["subj", "pred", "obj", "weight"]


def _t(df: DataFrame, subj, pred: str, obj, weight) -> DataFrame:
    return df.select(
        subj.cast("string").alias("subj"),
        F.lit(pred).alias("pred"),
        obj.cast("string").alias("obj"),
        weight.cast("long").alias("weight"),
    )


def build_triples(
    pair_counts: DataFrame,
    uri_counts: DataFrame,
    sf_total_counts: DataFrame,
    mention_counts: DataFrame,
) -> DataFrame:
    """Union the frozen five-relation embedding (SURVEY.md §2.3)."""
    c = F.col
    parts = [
        _t(pair_counts, c("surface_form"), "kg:linksTo", c("uri"), c("cnt")),
        _t(uri_counts, c("uri"), "kg:uriCount", c("cnt"), c("cnt")),
        _t(sf_total_counts, c("surface_form"), "kg:annotatedCount", c("annotated_cnt"), c("annotated_cnt")),
        _t(sf_total_counts, c("surface_form"), "kg:totalCount", c("total_cnt"), c("total_cnt")),
        _t(mention_counts, c("url"), "kg:mentions", c("uri"), c("cnt")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)  # P16: bag union, no dedup
    return out


def merge_snapshot(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> DataFrame:
    """Latest-wins CDC merge of a change log into a snapshot — the
    incremental-maintenance half of KG construction (a nightly dump
    re-extract or a crawl delta lands as upserts/deletes against the
    standing graph; re-running the whole pipeline is the 100-TB
    anti-pattern this replaces). Output schema = ``base`` schema.

    Contract: ``base`` rows are implicit ``version 0`` upserts;
    ``changes`` carries the key columns, the full payload, a BIGINT
    ``version_col`` (> 0, and unique per key — the upstream log's
    ordering guarantee, not re-checked here), and ``op_col`` ∈
    {'U','D'}. Per key the highest version wins; a winning 'D' drops
    the key from the snapshot.

    Scale shape: one hash shuffle on ``keys`` (the rank window) and
    nothing else — no driver materialization, no join back to the
    base. At production scale the standing snapshot is stored
    hash-partitioned on the same keys (write_graph), so AQE keeps the
    exchange one-sided: only the (small) change log moves. The window
    per key holds exactly the change fan-in for that key — bounded by
    the log, never by the corpus.
    """
    payload = [c for c in base.columns if c not in keys]
    from pyspark.sql import Window as W

    b = base.select(
        *keys, *payload, F.lit(0).cast("bigint").alias(version_col), F.lit("U").alias(op_col)
    )
    ch = changes.select(
        *keys, *payload, F.col(version_col).cast("bigint").alias(version_col), F.col(op_col)
    )
    w = W.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        b.unionByName(ch)
        .withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col(op_col) == "U"))
        .select(*base.columns)
    )


def mention_counts(mentions: DataFrame) -> DataFrame:
    """(url, uri, cnt) — document-mentions-entity edges."""
    return mentions.groupBy("url", "uri").agg(F.count(F.lit(1)).alias("cnt"))


def write_graph(triples: DataFrame, name: str = "graph/triples", root: str | None = None) -> str:
    """AQE-rebalanced hashed-subject placement + pred-partitioned write.

    ``REBALANCE(subj)`` hashes rows on the subject, then adaptive
    execution sizes the write from the shuffle statistics: small
    partitions coalesce to ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    and a partition above it (a hub subject with 10^5+ inlinks) splits
    into advisory-sized pieces, so a hub cannot pin one file and a small
    graph does not scatter into many. A few thousand triples land as
    one file per ``pred``."""
    placed = triples.hint("rebalance", "subj")
    return tables.write_table(placed, name, partition_by=["pred"], root=root)
