"""Streaming link-graph maintenance — the host-level edge table kept
current as crawl batches land, over the counts.py merge-on-read
machinery.

Each micro-batch of crawled pages contributes its (src_host,
dst_host, n_links) partial counts as a SUM delta (CCLink v1 scan +
resolution, functions/urls.host_link_edges); the merged table IS the
batch link graph of everything ingested so far, because edge counts
are algebraic. Downstream graph scorers — PageRank/TrustRank/HITS,
components, frontier gap — then run on demand against the maintained
edge table instead of re-scanning the whole crawl: the scan cost is
paid once per page at ingest, the graph refresh costs only the graph.

Replay safety = the manifest's ``folded_through`` high-water mark
(SUM deltas, the same contract as the mention count tables).
Per-batch state: the batch's host-pair partials only — edges, never
pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pignlproc_spark.functions.urls import host_link_edges
from pignlproc_spark.streaming import counts

_KEYS = ["src_host", "dst_host"]


def append_batch(batch_df: DataFrame, batch_id: int, graph_dir: str) -> None:
    """Scan one micro-batch of (url, html) pages and publish its edge
    delta. Idempotent per ``batch_id`` (manifest contract)."""
    edges = host_link_edges(batch_df)
    counts.append_delta(edges.withColumnRenamed("n_links", "cnt"), graph_dir, batch_id)


def read_edges(spark: SparkSession, graph_dir: str) -> DataFrame:
    """(src_host, dst_host, n_links) — the link graph of everything
    ingested so far; identical to batch ``host_link_edges`` over the
    union of the batches (asserted in tests/test_streaming.py)."""
    merged = counts.read_counts(spark, graph_dir, _KEYS)
    return merged.withColumnRenamed("cnt", "n_links")


def foreach_batch_hook(graph_dir: str, compact_every: int | None = None):
    """A ``writeStream.foreachBatch`` callable maintaining the graph;
    optional compaction every N batches (SUM fold — observably a
    no-op for readers, bounds the live-dir count)."""

    def hook(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, batch_id, graph_dir)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            counts.compact(batch_df.sparkSession, graph_dir, _KEYS)

    return hook
