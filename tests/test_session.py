"""Session defaults: resources derived from the host, and a generated-
code cache that holds a whole pass, so a warm rerun of the batch jobs
compiles (almost) nothing."""

import os

from pyspark.sql import functions as F

from jobs.build_kg import main as build_kg
from pignlproc_spark import session, tables
from pignlproc_spark.operators import dedup, textstats


def _build_then_curate(spark, sf_dir, out):
    """build_kg over the sf0.001 synth corpus, then the curation core
    (quality filter → near-dup dedup → keep decision → packing) over
    the documents table: about 101 + 116 generated classes, more than
    Spark's default cache of 100 entries."""
    assert build_kg(["--synth-sf", "0.001", "--out", str(out / "kg")]) == 0
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    quality = textstats.corpus_filter(docs).select("doc_id", F.col("keep").alias("quality_keep"))
    neardup = dedup.dedup_keep_decision(docs, dedup.near_duplicates(docs))
    verdict = quality.join(neardup.select("doc_id", F.col("keep").alias("neardup_keep")), "doc_id").select(
        "doc_id", (F.col("quality_keep") * F.col("neardup_keep")).cast("int").alias("keep")
    )
    vpath = tables.write_table(verdict, "curation/verdict", root=str(out))
    keepers = spark.read.parquet(vpath).where("keep = 1")
    tables.write_table(textstats.pack_sequences(docs.join(keepers, "doc_id", "left_semi")), "curation/packing", root=str(out))
    spark.catalog.clearCache()


def test_warm_rerun_reuses_generated_code(spark, sf_dir, tmp_path):
    # with a cache smaller than the pass's working set (Spark's default
    # of 100) the LRU evicts every class before its reuse and the warm
    # run recompiles them all; sized above it, only plans that adaptive
    # execution re-plans differently between runs compile again
    # (measured 8–30, of which build_kg 4)
    _build_then_curate(spark, sf_dir, tmp_path / "cold")
    before = session.codegen_compiles(spark)
    _build_then_curate(spark, sf_dir, tmp_path / "warm")
    warm = session.codegen_compiles(spark) - before
    assert warm <= 50, f"warm rerun compiled {warm} classes"


def test_defaults_follow_host_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_cpus() == 3

    real_gib = session.mem_total_kb() * session.HEAP_FRACTION / 2**20
    assert session.default_driver_mem() == f"{max(1, int(real_gib))}g"
    monkeypatch.setattr(session, "mem_total_kb", lambda: 16_479_424)  # 16 GB host
    assert session.default_driver_mem() == "6g"
    monkeypatch.setattr(session, "mem_total_kb", lambda: 2_000_000)
    assert session.default_driver_mem() == "1g"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_cpus() == 7
    assert session.default_driver_mem() == "3g"
