"""Experiment: alternative exact-verify shapes for tf_cosine_pairs'
max_df branch at sf0.1 (realvocab corpus). Compares:
  A. current: candidate pairs -> join back full exploded postings
  B. map-carry: candidate pairs -> two joins against per-doc
     map<tok,tf> -> map_zip_with dot (interpreted HOF per pair)
All variants must produce the identical survivor set. Working tool,
not part of the driver contract.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pignlproc_spark import synth
from pignlproc_spark.operators import dedup
from pignlproc_spark.plans import pipeline
from pignlproc_spark.session import DEFAULT_CPUS, get_session


def main():
    sf_dir = "/root/testdata/sf0.1"
    synth.generate(synth.sf_of_dir(sf_dir))
    spark = get_session(app_name="tfcos-exp")
    spark.range(10000).repartition(DEFAULT_CPUS).select(F.sum("id")).collect()
    import tempfile

    pages_dir = tempfile.mkdtemp(prefix="tfcos_exp_")
    res = pipeline.run_synth(spark, sf_dir)
    res.parsed.where(F.col("redirect").isNull()).select(
        F.xxhash64("url").alias("doc_id"), "text"
    ).write.mode("overwrite").parquet(pages_dir)
    res.unpersist()
    pages = spark.read.parquet(pages_dir)
    max_df, pct = 200, 50

    def t(name, fn):
        t0 = time.time()
        n = fn()
        print(f"{name:45s} {time.time() - t0:6.2f}s  rows={n}", flush=True)

    for rep in range(2):
        t(f"A current tf_cosine_pairs rep{rep}",
          lambda: dedup.tf_cosine_pairs(pages, min_cos_pct=pct, max_df=max_df).count())

    # B: map-carry verify
    def variant_b():
        tf = (
            pages.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                         F.explode(dedup._tokens(F.col("text"))).alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .localCheckpoint(eager=False)
        )
        norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("norm2"))
        maps = tf.groupBy("doc_id").agg(
            F.map_from_entries(F.collect_list(F.struct("tok", "tf"))).alias("m")
        )
        rare = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("_df")).where(F.col("_df") <= max_df)
        ta = tf.select(F.col("doc_id").alias("id_a"), "tok")
        tb = tf.select(F.col("doc_id").alias("id_b"), "tok")
        cands = (
            ta.join(rare.select("tok"), "tok")
            .join(tb.join(rare.select("tok"), "tok"), "tok")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        with_maps = (
            cands.join(maps.select(F.col("doc_id").alias("id_a"), F.col("m").alias("ma")), "id_a")
            .join(maps.select(F.col("doc_id").alias("id_b"), F.col("m").alias("mb")), "id_b")
        )
        dots = with_maps.select(
            "id_a", "id_b",
            F.aggregate(
                F.map_values(F.map_zip_with("ma", "mb", lambda k, x, y: F.coalesce(x, F.lit(0)) * F.coalesce(y, F.lit(0)))),
                F.lit(0).cast("bigint"), lambda acc, v: acc + v,
            ).alias("dot"),
        )
        na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("norm_a"))
        nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("norm_b"))
        return (
            dots.join(na, "id_a").join(nb, "id_b")
            .where((F.col("dot") > 0)
                   & (F.lit(10000) * F.col("dot") * F.col("dot") >= F.lit(pct * pct) * F.col("norm_a") * F.col("norm_b")))
            .select("id_a", "id_b", "dot", "norm_a", "norm_b")
        )

    for rep in range(2):
        t(f"B map-carry verify rep{rep}", lambda: variant_b().count())

    a = dedup.tf_cosine_pairs(pages, min_cos_pct=pct, max_df=max_df).select("id_a", "id_b", "dot")
    b = variant_b().select("id_a", "id_b", "dot")
    print("A minus B:", a.exceptAll(b).count(), " B minus A:", b.exceptAll(a).count())
    spark.stop()


if __name__ == "__main__":
    main()
