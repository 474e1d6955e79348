"""The benchmark workloads: what one pass runs, and its output check.

Every pass reads only the generated inputs and writes under its own
fresh output directory.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import sys
from pathlib import Path

import pandas as pd

from perfbench import checks

REPO = Path(__file__).resolve().parent.parent
COMPACT_EVERY = 1  # every micro-batch folds its deltas into a new base


class Workload:
    """``run_pass`` returns (items, details); ``check`` returns problems.

    ``KgBuild`` and ``CorpusCurate`` are the two halves of the
    ``kg_build_curate`` workload; ``WORKLOADS`` lists what ``run.py``
    runs."""

    name = ""
    needs_oracle = False  # the curation oracle verdict is among the inputs

    def __init__(self, spark, inputs: Path, work: Path):
        self.spark = spark
        self.inputs = inputs
        self.sf_dir = next(inputs.glob("sf*"))
        self.work = work
        self.n = 0

    def out_dir(self) -> Path:
        self.n += 1
        d = self.work / f"{self.name}-{self.n}"
        shutil.rmtree(d, ignore_errors=True)
        return d

    def golden(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(self.sf_dir / f"{name}.parquet")


class KgBuild(Workload):
    """``jobs/build_kg.py`` over the pages: parse → mentions → stats →
    triples, writing the graph and the four stats tables."""

    name = "kg_build"

    def run_pass(self):
        if str(REPO / "jobs") not in sys.path:
            sys.path.insert(0, str(REPO / "jobs"))
        import build_kg

        out = self.out_dir()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            build_kg.main([
                "--pages", str(self.sf_dir / "pages.parquet"),
                "--redirects", str(self.sf_dir / "redirects.parquet"),
                "--out", str(out),
            ])
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        self.last = out
        return report["triples"], {}

    def check(self) -> list[str]:
        triples = pd.read_parquet(self.last / "graph" / "triples")
        tokens = pd.read_parquet(self.last / "stats" / "token_counts")
        return checks.same_rows(
            "triples", triples, self.golden("golden_triples"), ["subj", "pred", "obj", "weight"]
        ) + checks.same_rows(
            "token_counts", tokens, self.golden("golden_token_counts"), ["uri", "token", "cnt"]
        )


class KgIncremental(Workload):
    """``streaming.ingest.run_incremental`` draining the staged page
    shards (availableNow, 4 files per trigger) with incremental stats,
    compaction and per-batch link decisions, then one merge-on-read
    query over the maintained count tables."""

    name = "kg_incremental"

    def run_pass(self):
        from pignlproc_spark.streaming import counts, ingest

        out = self.out_dir()
        q = ingest.run_incremental(
            self.spark,
            str(self.inputs / "shards"),
            str(out / "facts"),
            str(out / "checkpoint"),
            redirects=self.spark.read.parquet(str(self.sf_dir / "redirects.parquet")),
            stats_root=str(out / "stats"),
            compact_every=COMPACT_EVERY,
            link_decisions=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        batches = [p for p in progress if p["numInputRows"] > 0]
        self.pair = counts.read_counts(self.spark, str(out / "stats" / "pair_counts"), ["surface_form", "uri"]).toPandas()
        self.uris = counts.read_counts(self.spark, str(out / "stats" / "uri_counts"), ["uri"]).toPandas()
        self.last = out
        pages = json.loads((self.inputs / "sizes.json").read_text())["pages"]
        return pages, {"batches": [p["durationMs"] for p in batches]}

    def decisions(self) -> pd.DataFrame:
        return pd.read_parquet(f"{self.last}/facts_decisions", columns=["mention_id", "uri", "rank", "surface_form"])

    def check(self) -> list[str]:
        facts = pd.read_parquet(self.last / "facts", columns=["url", "context", "surface_form"])
        return (
            checks.same_rows("pair_counts", self.pair, self.golden("golden_pair_counts"), ["surface_form", "uri", "cnt"])
            + checks.same_rows("uri_counts", self.uris, self.golden("golden_uri_counts"), ["uri", "cnt"])
            + checks.one_decision_per_mention(self.decisions(), facts.drop_duplicates())
        )


class CorpusCurate(Workload):
    """``jobs/curate_corpus.py`` core: corpus_filter → near_duplicates →
    dedup_keep_decision → pack_sequences over the surviving docs."""

    name = "corpus_curate"

    def run_pass(self):
        from pyspark.sql import functions as F

        from pignlproc_spark import tables
        from pignlproc_spark.operators import dedup, textstats

        out = self.out_dir()
        docs = self.spark.read.parquet(str(self.inputs / "documents.parquet"))
        quality = textstats.corpus_filter(docs).select("doc_id", F.col("keep").alias("quality_keep"))
        pairs = dedup.near_duplicates(docs)
        neardup = dedup.dedup_keep_decision(docs, pairs).select("doc_id", F.col("keep").alias("neardup_keep"))
        verdict = quality.join(neardup, "doc_id").select(
            "doc_id", "quality_keep", "neardup_keep",
            (F.col("quality_keep") * F.col("neardup_keep")).cast("int").alias("keep"),
        )
        vpath = tables.write_table(verdict, "curation/verdict", root=str(out))
        keepers = self.spark.read.parquet(vpath).where("keep = 1")
        packing = textstats.pack_sequences(docs.join(keepers, "doc_id", "left_semi"))
        tables.write_table(packing, "curation/packing", root=str(out))
        self.last = out
        return json.loads((self.inputs / "sizes.json").read_text())["docs"], {}

    def check(self) -> list[str]:
        verdict = pd.read_parquet(self.last / "curation" / "verdict")
        oracle = pd.read_parquet(self.inputs / "curation_oracle.parquet")
        cols = ["doc_id", "quality_keep", "neardup_keep", "keep"]
        problems = checks.same_rows("curation verdict", verdict, oracle, cols)
        packed = pd.read_parquet(self.last / "curation" / "packing", columns=["doc_id"])
        if set(packed["doc_id"]) != set(oracle.loc[oracle["keep"] == 1, "doc_id"]):
            problems.append("packing: packed docs differ from the oracle's keepers")
        return problems


class KgBuildCurate(Workload):
    """The two batch jobs over one corpus, one after the other:
    ``kg_build`` (parse, mentions, stats, triples, table writes), then
    ``corpus_curate`` (quality filter, near-dup dedup, packing). Items
    are input rows: pages plus documents."""

    name = "kg_build_curate"
    needs_oracle = True

    def __init__(self, spark, inputs: Path, work: Path):
        super().__init__(spark, inputs, work)
        self.parts = [KgBuild(spark, inputs, work), CorpusCurate(spark, inputs, work)]

    def run_pass(self):
        self.parts[0].run_pass()
        self.spark.catalog.clearCache()  # each job is its own process in production
        self.parts[1].run_pass()
        sizes = json.loads((self.inputs / "sizes.json").read_text())
        return sizes["pages"] + sizes["docs"], {}

    def check(self) -> list[str]:
        return self.parts[0].check() + self.parts[1].check()


WORKLOADS = {w.name: w for w in (KgBuildCurate, KgIncremental)}
