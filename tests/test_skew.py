"""AQE skew handling demonstration (SURVEY.md §4, BASELINE.json:6
"AQE skew-join handling for hub entities"): a Zipfian fact joined to a
non-broadcastable dimension must trigger adaptive skew-join splitting
— asserted on the executed plan, not just config."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def skew_conf(spark):
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
    }
    # force SMJ + make the skew detector fire at toy scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_graph_write_splits_hub_subject(spark, tmp_path):
    """The graph write's rebalance EVIDENCED on a hub: one subject owns
    80% of a 200k-row graph (a country page at web scale). Hash
    placement alone would put all of the hub's rows in one file; AQE
    splits the hub's partition at the advisory size, so the hub lands
    in several files and no file holds more than half of its rows."""
    from pignlproc_spark.operators import triples

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        n = 200_000
        graph = spark.range(n).select(
            F.when(F.col("id") % 5 < 4, F.lit("uri:hub"))
            .otherwise(F.concat(F.lit("uri:"), (F.col("id") % 5_000).cast("string")))
            .alias("subj"),
            F.lit("kg:linksTo").alias("pred"),
            F.col("id").cast("string").alias("obj"),
            F.col("id").alias("weight"),
        )
        path = triples.write_graph(graph, name="hub_graph", root=str(tmp_path))
    finally:
        spark.conf.set(key, saved)
    back = spark.read.parquet(path)
    assert back.count() == n
    per_file = [
        r["cnt"]
        for r in back.where(F.col("subj") == "uri:hub")
        .groupBy(F.input_file_name())
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    hub_rows = 4 * n // 5
    assert sum(per_file) == hub_rows
    assert len(per_file) >= 2
    assert max(per_file) <= hub_rows // 2


def test_aqe_splits_skewed_hub_join(spark, skew_conf):
    # Zipfian fact: ~85% of rows hit one hub key (a country-page URI)
    fact = spark.range(120_000).select(
        F.when(F.col("id") % 7 < 6, F.lit("uri:hub")).otherwise(F.concat(F.lit("uri:"), F.col("id"))).alias("uri"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    dim = spark.range(30_000).select(
        F.when(F.col("id") == 0, F.lit("uri:hub")).otherwise(F.concat(F.lit("uri:"), F.col("id"))).alias("uri"),
        F.sha2(F.col("id").cast("string"), 512).alias("attrs"),
    )
    joined = fact.join(dim, "uri")
    # the action must run on THIS DataFrame's own QueryExecution —
    # count() plans a separate aggregate query and would leave the
    # inspected plan unexecuted/unadapted
    assert len(joined.collect()) > 0
    executed = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in executed, executed[:2000]
    assert "AQEShuffleRead" in executed
