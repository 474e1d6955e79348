"""Stage-level profiler for the two heaviest bench queries
(docs_tf_cosine_realvocab, dedup_near_duplicates): times each internal
stage separately so optimization targets are measured, not guessed.
Not part of the driver contract — a working tool.

Usage: python tools/profile_hot.py [tfcos|neardup] ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

from pignlproc_spark import synth
from pignlproc_spark.operators import dedup
from pignlproc_spark.session import DEFAULT_CPUS, get_session


def t(name, fn):
    t0 = time.time()
    n = fn()
    print(f"{name:40s} {time.time() - t0:7.2f} s   rows={n}", flush=True)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    which = set(sys.argv[1:]) or {"tfcos", "neardup"}
    synth.generate(synth.sf_of_dir(sf_dir))
    spark = get_session(app_name="profile-hot", cpus=cpus)
    spark.range(10000).repartition(cpus).select(F.sum("id")).collect()

    if "tfcos" in which:
        from pignlproc_spark.plans import pipeline

        pages_dir = tempfile.mkdtemp(prefix="prof_pages_")
        res = pipeline.run_synth(spark, sf_dir)
        res.parsed.where(F.col("redirect").isNull()).select(
            F.xxhash64("url").alias("doc_id"), "text"
        ).write.mode("overwrite").parquet(pages_dir)
        res.unpersist()
        pages = spark.read.parquet(pages_dir)
        max_df = 200

        tf = (
            pages.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                         F.explode(dedup._tokens(F.col("text"))).alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .localCheckpoint(eager=False)
        )
        t("tf build (checkpoint materialize)", lambda: tf.count())
        dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("_df")).localCheckpoint(eager=False)
        t("df table", lambda: dfs.count())
        print("  common tokens (df>200):", dfs.where(F.col("_df") > max_df).count())
        print("  tf rows on common toks:",
              tf.join(dfs.where(F.col("_df") > max_df).select("tok"), "tok").count())
        ta = tf.select(F.col("doc_id").alias("id_a"), "tok", F.col("tf").alias("tf_a"))
        tb = tf.select(F.col("doc_id").alias("id_b"), "tok", F.col("tf").alias("tf_b"))
        rare = dfs.where(F.col("_df") <= max_df).select("tok")
        ca = ta.join(rare, "tok")
        cb = tb.join(rare, "tok")
        cands = ca.join(cb, "tok").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
        cands = cands.localCheckpoint(eager=False)
        t("candidate pairs (distinct)", lambda: cands.count())
        t(
            "join-back full-vector dot (current)",
            lambda: cands.join(ta, "id_a")
            .join(tb, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
            .count(),
        )
        dots_rare = (
            ca.join(cb, "tok")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("_dr"))
            .localCheckpoint(eager=False)
        )
        t("dots_rare (agg instead of distinct)", lambda: dots_rare.count())
        common = dfs.where(F.col("_df") > max_df).select("tok")
        tac = ta.join(F.broadcast(common), "tok")
        tbc = tb.join(F.broadcast(common), "tok")
        t(
            "dots_common (join-back common only)",
            lambda: dots_rare.select("id_a", "id_b")
            .join(tac, "id_a")
            .join(tbc, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("_dc"))
            .count(),
        )
        t("end-to-end current tf_cosine_pairs",
          lambda: dedup.tf_cosine_pairs(pages, min_cos_pct=50, max_df=200).count())

    if "neardup" in which:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus * 2)
        docs = docs.localCheckpoint(eager=True)
        t("minhash signatures", lambda: dedup.minhash_signatures(docs).count())
        sigs = dedup.minhash_signatures(docs).persist()
        sigs.count()
        t("lsh candidate pairs", lambda: dedup.lsh_candidate_pairs(docs, sigs=sigs).count())
        cands = dedup.lsh_candidate_pairs(docs, sigs=sigs).localCheckpoint(eager=True)
        sigs.unpersist()
        toks = dedup._token_sets(docs).localCheckpoint(eager=True)
        t("token sets", lambda: toks.count())
        t("jaccard verify", lambda: dedup.jaccard_pairs(docs, pairs=cands, toks=toks).count())
        t("end-to-end current near_duplicates",
          lambda: dedup.near_duplicates(docs, min_jaccard_pct=50).count())

    spark.stop()


if __name__ == "__main__":
    main()
