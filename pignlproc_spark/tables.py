"""Storage abstraction: named tables on Parquet locally, Iceberg on clusters.

SURVEY.md §1.3/§7.1: BASELINE.json mandates Iceberg graph tables, but
this sandbox ships no Iceberg runtime jar and has no network, so the
writer is an abstraction: Parquet directories under a root locally,
``writeTo(...)`` against a configured Iceberg catalog when
``spark.pignlproc.catalog`` is set (see README for the spark-submit
--packages line). The catalog branch is pinned by contract tests
(``tests/test_tables_catalog.py``): the exact DataFrameWriterV2 call
sequence is asserted against a recording double, and the read branch
executes for real against a V2-created ``spark_catalog`` table.

Skew-aware layout (BASELINE.json:6 "salted, skew-aware partitioned")
is the caller's placement before :func:`write_table`: the graph write
(operators/triples.py) rebalances on hashed subject, and AQE splits a
Zipfian hub subject (a country page with 10^5+ inlinks) so it cannot
pin a single output file at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_ROOT = os.environ.get("PIGNLPROC_WAREHOUSE", "/root/repo/.warehouse")
CATALOG_CONF = "spark.pignlproc.catalog"  # e.g. "iceberg_cat" on a real cluster


def _catalog(spark: SparkSession) -> str | None:
    return spark.conf.get(CATALOG_CONF, None)


def read_path_or_table(spark: SparkSession, ref: str) -> DataFrame:
    """Job-argument dispatch shared by the spark-submit entrypoints:
    anything with a path separator is a Parquet path, otherwise a
    catalog table name."""
    return spark.read.parquet(ref) if "/" in ref else spark.read.table(ref)


def table_path(name: str, root: str | None = None) -> str:
    return os.path.join(root or DEFAULT_ROOT, name)


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    root: str | None = None,
) -> str:
    """Write a named table; returns its path/identifier.

    Local: Parquet directory. Cluster (``spark.pignlproc.catalog``
    set): Iceberg ``createOrReplace``/``append`` with identical
    partitioning — same logical layout either way.
    """
    spark = df.sparkSession
    cat = _catalog(spark)
    if cat:  # pragma: no cover - needs an Iceberg-enabled cluster
        ident = f"{cat}.{name}"
        writer = df.writeTo(ident)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return ident
    path = table_path(name, root)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> str:
    """Bucketed managed table (SURVEY.md §4 / P20): co-locates rows by
    ``hash(bucket_col) % num_buckets`` at WRITE time so later equi-joins
    and aggregations on that key run with NO exchange — the shuffle is
    paid once when the table lands, not per query. Use for the big
    fact tables that get joined repeatedly on the same key (mentions
    by uri, triples by subj). With an Iceberg catalog the same layout
    is ``bucket(N, col)`` partition transforms."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)
    return table_name


def write_range_sorted(
    df: DataFrame,
    name: str,
    sort_cols: list[str],
    num_files: int | None = None,
    root: str | None = None,
) -> str:
    """Range-partitioned, sorted write — the data-skipping layout:
    ``repartitionByRange`` + ``sortWithinPartitions`` lands files whose
    key ranges are pairwise DISJOINT, so parquet footer min/max stats
    let a later filtered scan skip whole files and row groups. At
    100 TB this is the poor-man's clustered index: a point or range
    lookup on the sort key touches O(matching files), not the corpus.
    (Iceberg's ``sortedBy`` table order is this same layout declared in
    the catalog; the parquet path produces it directly.)

    The range boundaries come from Spark's reservoir sampling of the
    sort key; a skewed key still lands contiguously (ties go to one
    partition), which preserves disjointness — the property the skip
    relies on.
    """
    n = num_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    out = df.repartitionByRange(n, *[F.col(c) for c in sort_cols]).sortWithinPartitions(
        *[F.col(c) for c in sort_cols]
    )
    path = table_path(name, root)
    out.write.mode("overwrite").parquet(path)
    return path


def write_tsv(df: DataFrame, path: str, header: bool = False) -> str:
    """TSV sink — parity with the reference's ``STORE ... USING
    PigStorage('\\t')`` (SURVEY.md §2.2 P2): tab-separated, one
    directory per relation; values containing tabs/newlines are
    quoted (read back with :func:`read_tsv`; newline-carrying values
    need its ``multiline=True``). Product output should use
    :func:`write_table` (columnar); this exists for fixture/interop
    parity with downstream consumers of the reference's TSVs."""
    (
        df.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", str(header).lower())
        .option("escape", "\\")
        .option("emptyValue", "")
        .csv(path)
    )
    return path


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_key: str = "doc_id",
) -> dict:
    """JSONL training-data export: the hand-off format every LLM data
    pipeline ends in. Rows land as JSON Lines under ``shard=K/``
    directories with DETERMINISTIC membership — shard = frozen md5
    bucket of ``shard_key`` (``textstats.hash_bucket`` spec), so a
    re-export after a retry places every row in the same shard and
    downstream loaders can address shards stably.

    A ``_MANIFEST.json`` records per shard: row count, byte size of the
    serialized lines, and an order-independent content checksum (sum of
    the first-8-hex-chars of each line's md5, as int — pure aggregation,
    no per-shard sort or collect; computed from a READ-BACK of the
    written files, one cheap aggregation pass over the export, so the
    manifest always describes what is on disk even when the upstream
    plan is nondeterministic; driver holds only n_shards rows).
    :func:`verify_jsonl_shards`
    recomputes all three from a read-back and raises on mismatch —
    the integrity check for resumable multi-job exports.

    The checksum is defined over ``to_json(struct(columns sorted by
    name))`` — the same canonical serialization the verifier uses, so
    verification is representation-stable (JSON null-field dropping and
    key order cancel out).
    """
    import json as _json
    import os

    from pignlproc_spark.operators.textstats import hash_bucket

    cols = sorted(df.columns)
    jdf = df.withColumn("shard", hash_bucket(F.col(shard_key), n_shards))
    jdf.repartition(n_shards, F.col("shard")).write.partitionBy("shard").mode(
        "overwrite"
    ).json(path)
    # the manifest must describe the FILES, so it is computed from a
    # read-back of the written path (exactly what the verifier reads)
    # — re-running the upstream lineage would record different data if
    # any upstream stage is nondeterministic (sample(), changed source)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    manifest = _jsonl_manifest(read_jsonl_shards(df.sparkSession, path, ddl), cols)
    payload = {
        "n_shards": n_shards,
        "shard_key": shard_key,
        "columns": cols,
        "shards": manifest,
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        _json.dump(payload, f, sort_keys=True, indent=1)
    return payload


def _jsonl_manifest(jdf: DataFrame, cols: list[str]) -> dict:
    """{shard: {rows, bytes, checksum}} from a DataFrame carrying a
    ``shard`` column — one aggregation pass, n_shards result rows."""
    line = F.to_json(F.struct(*[F.col(c) for c in cols]))
    agg = (
        jdf.select(F.col("shard"), line.alias("line"))
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("rows"),
            F.sum(F.length("line")).cast("bigint").alias("bytes"),
            F.sum(F.conv(F.substring(F.md5(F.col("line").cast("binary")), 1, 8), 16, 10).cast("bigint"))
            .cast("bigint")
            .alias("checksum"),
        )
    )
    return {
        str(r["shard"]): {"rows": r["rows"], "bytes": r["bytes"], "checksum": r["checksum"]}
        for r in agg.collect()
    }


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """(good, bad) — EXTERNAL-JSONL ingestion with corrupt-line
    quarantine: third-party corpora arrive as JSON Lines of unknown
    hygiene, and a malformed line must become an auditable row, never
    a dropped record or a failed job. ``good`` carries ``schema``;
    ``bad`` is (line STRING) of the raw malformed lines.

    Spark quirk (documented since 2.3): a query referencing ONLY the
    internal corrupt-record column of a JSON scan is disallowed, so the
    parsed frame is cached before the two filters split it — one scan,
    both halves served from the cache. At cluster scale prefer landing
    the parsed frame once and splitting from storage; the semantics
    here are identical.
    """
    raw = (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("line")
    )
    return good, bad


def read_jsonl_shards(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read back a :func:`write_jsonl_shards` export; the ``shard``
    partition directory key is recovered as a column."""
    return spark.read.schema(schema + ", shard int").json(path)


def verify_jsonl_shards(spark: SparkSession, path: str, schema: str) -> dict:
    """Re-derive the manifest from the files and compare; returns the
    manifest on success, raises ValueError naming the first bad shard
    otherwise. The loader-side half of the export integrity contract."""
    import json as _json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as f:
        expected = _json.load(f)
    got = _jsonl_manifest(read_jsonl_shards(spark, path, schema), expected["columns"])
    for shard, want in expected["shards"].items():
        have = got.get(shard)
        if have != want:
            raise ValueError(f"shard {shard} mismatch: manifest {want}, files {have}")
    extra = set(got) - set(expected["shards"])
    if extra:
        raise ValueError(f"shards on disk but not in manifest: {sorted(extra)}")
    return expected


def read_tsv(
    spark: SparkSession, path: str, schema: str, header: bool = False, multiline: bool = False
) -> DataFrame:
    """TSV source — parity with the reference's ``LOAD ... USING
    PigStorage('\\t') AS (schema)`` (SURVEY.md §2.2 P1) and the
    inverse of :func:`write_tsv` (same sep/escape/emptyValue options).
    ``schema`` is the usual DDL string (PigStorage's AS clause); typed
    columns are cast on read like Pig's typed LOAD.

    Embedded newlines: the writer QUOTES values containing them, and a
    quoted newline only parses back with ``multiline=True`` — which
    makes each file a single task (the scan stops being
    line-splittable), so leave it False unless values really carry
    newlines. Plain tabs-in-values round-trip fine either way (real
    PigStorage simply corrupts on embedded newlines; this is the one
    deliberate divergence).

    Empty strings: the writer emits them as unquoted empty fields
    (PigStorage byte-format parity), and Spark's CSV reader maps an
    unquoted empty field to NULL — so ``''`` collapses to NULL on the
    round trip, exactly as a PigStorage TSV read does in Pig
    (null and empty are indistinguishable in the bytes)."""
    return (
        spark.read.option("sep", "\t")
        .option("header", str(header).lower())
        .option("escape", "\\")
        .option("emptyValue", "")
        .option("multiLine", str(multiline).lower())
        .schema(schema)
        .csv(path)
    )


def read_table(spark: SparkSession, name: str, root: str | None = None) -> DataFrame:
    cat = _catalog(spark)
    if cat:  # pragma: no cover
        return spark.read.table(f"{cat}.{name}")
    return spark.read.parquet(table_path(name, root))
