"""spark-submit entrypoint: training-corpus curation over a documents
table.

The training-data counterpart of jobs/build_kg.py — one composed
pipeline over ``documents(doc_id, text, lang, ...)``:

  1. quality gate      — C4-style length / token-length / language /
                         exact-canonicality (textstats.corpus_filter)
  2. near-dup verdict  — MinHash+LSH candidates → exact-Jaccard verify
                         → transitive clusters → one survivor per
                         cluster (dedup.near_duplicates +
                         dedup_keep_decision)
  3. decontamination   — with --eval-docs: flag docs sharing n-token
                         windows with the eval set and excise the
                         leaked spans (GPT-3-style;
                         dedup.contamination_spans +
                         strip_contaminated_spans)
  4. length gate       — with --min-length-pct Q > 0: drop keepers
                         below the corpus's EXACT Q-th percentile of
                         token count (textstats.quality_gate — the
                         global-statistic-dependent filter)
  4b. DSIR gate        — with --dsir-pct Q > 0: drop keepers below the
                         corpus's EXACT Q-th percentile of per-gram
                         DSIR importance toward --dsir-target-lang
                         (textstats.dsir_logweights + quality_gate's
                         histogram percentile — target-distribution
                         selection, Xie et al. NeurIPS'23)
  5. packing layout    — concat-and-chunk sequence assignment for the
                         surviving docs (textstats.pack_sequences)
  6. training mix      — with --mix "src0=250,src1=0": materialize
                         epochs-per-source copies of the keepers
                         (textstats.mix_corpus; deterministic, no RNG)
                         as a ``mix`` output table
  7. JSONL hand-off    — with --export-jsonl N: the curated corpus as
                         N deterministic shards + verifiable manifest
                         (tables.write_jsonl_shards)
  8. gate distillation — with --train-classifier: CCLogReg v1 linear
                         scorer trained on the composed keep labels
                         (operators/classifier.py), weights as a
                         ``classifier`` table + agreement in the
                         summary — the cheap pre-filter for new crawls

Cluster usage:

    spark-submit --py-files dist/pignlproc_spark.zip \\
      jobs/curate_corpus.py \\
      --docs /data/documents --out /warehouse/curated \\
      [--eval-docs /data/benchmarks --contamination-n 13] \\
      [--min-jaccard-pct 80 --capacity 2048 --shards 64] \\
      [--min-length-pct 10] [--mix "web=250,books=130" --mix-default-pct 100]

Local smoke:

    python jobs/curate_corpus.py \\
      --docs /root/testdata/sf0.001/documents.parquet --out /tmp/curated

Outputs under --out: ``report`` (one row per input doc, every flag),
``curated`` (doc_id, text — decontaminated token stream of the
keepers), ``packing`` (training-sequence layout of the keepers).
Every stage is a plain DataFrame job: at cluster scale the three
writes are the natural checkpoints, and the near-dup stage is the only
corpus×corpus shuffle (the LSH bucket join).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet path or catalog table")
    ap.add_argument("--out", required=True, help="output warehouse root")
    ap.add_argument("--eval-docs", help="benchmark/eval documents to decontaminate against")
    ap.add_argument("--contamination-n", type=int, default=13, help="decontamination window (tokens)")
    ap.add_argument("--min-jaccard-pct", type=int, default=80, help="near-dup verify threshold")
    ap.add_argument("--bands", type=int, default=4, help="LSH bands (1-16)")
    ap.add_argument("--lang", default="en", help="language the quality gate keeps")
    ap.add_argument(
        "--min-keep-tokens", type=int, default=25,
        help="drop excised docs whose surviving token stream falls below this "
             "(the corpus_filter min_tokens recheck after decontamination)",
    )
    ap.add_argument(
        "--min-length-pct", type=int, default=0,
        help="drop keepers below this exact global token-count percentile (0 = off)",
    )
    ap.add_argument(
        "--dsir-pct", type=int, default=0,
        help="drop keepers below this exact global percentile of per-gram DSIR "
             "importance toward --dsir-target-lang (0 = off)",
    )
    ap.add_argument(
        "--dsir-target-lang", default=None,
        help="DSIR target subset language (default: --lang)",
    )
    ap.add_argument("--mix", help="epochs-per-source weights, e.g. 'web=250,books=0' (percent)")
    ap.add_argument("--mix-default-pct", type=int, default=100, help="weight for unlisted sources")
    ap.add_argument("--capacity", type=int, default=2048, help="training-sequence token capacity")
    ap.add_argument("--shards", type=int, default=8, help="packing shards (≈ output files)")
    ap.add_argument(
        "--pii-scrub",
        action="store_true",
        help="redact emails/IPv4/SSN-ids/+international phones (CCPii v1) from the curated text",
    )
    ap.add_argument(
        "--fix-mojibake",
        action="store_true",
        help="CCMoji v1 pre-pass: repair cp1252 encoding damage before any gate "
             "runs (pre-repair artifact count lands in the report as n_mojibake)",
    )
    ap.add_argument(
        "--line-dedup",
        action="store_true",
        help="CCNet-style pre-pass: drop every repeated line except its corpus-first occurrence BEFORE quality/dedup/decontamination",
    )
    ap.add_argument(
        "--export-jsonl", type=int, default=0, metavar="N_SHARDS",
        help="also export the curated corpus as N deterministic JSONL shards "
             "with a verifiable _MANIFEST.json (tables.write_jsonl_shards)",
    )
    ap.add_argument(
        "--train-classifier",
        action="store_true",
        help="distill the composed keep decision into a CCLogReg v1 linear "
             "scorer (weights land as a 'classifier' table; training-set "
             "agreement reported) — the deployable cheap pre-filter for the "
             "next crawl",
    )
    args = ap.parse_args(argv)
    mix_weights = None
    if args.mix:
        mix_weights = {}
        for part in args.mix.split(","):
            part = part.strip()
            if not part:
                continue
            k, sep, v = part.partition("=")
            # isdigit() directly: negatives are rejected anyway, and
            # lstrip('-') let '--5' through to int() as a raw traceback
            if not sep or not k.strip() or not v.strip().isdigit():
                ap.error(f"--mix entry {part!r} must be 'source=NONNEG_PERCENT'")
            mix_weights[k.strip()] = int(v)
        if not mix_weights:
            ap.error("--mix given but no 'source=percent' entries parsed")
    if args.mix_default_pct < 0:
        ap.error("--mix-default-pct must be >= 0")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pignlproc_spark import tables
    from pignlproc_spark.operators import dedup, textstats
    from pignlproc_spark.session import get_session

    spark = SparkSession.getActiveSession() or get_session(app_name="curate-corpus")
    t0 = time.time()

    docs = tables.read_path_or_table(spark, args.docs)
    extra_persists = []
    if args.fix_mojibake:
        from pignlproc_spark.functions.encoding import mojibake_count_col, mojibake_fix_col

        # encoding repair runs FIRST — damaged bytes would otherwise
        # skew line hashes, token stats and every n-gram signal in the
        # stages below; the PRE-repair artifact count rides along into
        # the report. Pure projection, so it fuses into the first scan.
        docs = docs.withColumn(
            "n_mojibake", mojibake_count_col(F.col("text"))
        ).withColumn("text", mojibake_fix_col(F.col("text")))
    else:
        docs = docs.withColumn("n_mojibake", F.lit(0).cast("bigint"))
    if args.line_dedup:
        # boilerplate pre-pass: every later stage (quality signals,
        # near-dup, decontamination, packing) sees the line-deduped
        # text — matching CCNet's order, where line dedup runs first
        # so repeated banners/footers don't dominate n-gram stats
        ld = textstats.line_dedup(docs)
        docs = (
            docs.drop("text")
            .join(ld.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
        )
    # the corpus feeds 4+ downstream consumers — share the scan
    docs = docs.persist()

    # 1. quality / language / exact-canonicality
    quality = textstats.corpus_filter(docs, lang=args.lang).select(
        "doc_id", "ok_len", "ok_token_len", "ok_lang", "is_canonical",
        F.col("keep").alias("quality_keep"),
    )

    # 2. verified near-dup pairs -> transitive clusters -> survivors
    pairs = dedup.near_duplicates(docs, min_jaccard_pct=args.min_jaccard_pct, bands=args.bands)
    neardup = dedup.dedup_keep_decision(docs, pairs).select(
        "doc_id", "component_id", F.col("keep").alias("neardup_keep")
    )

    report = quality.join(neardup, "doc_id").join(
        docs.select("doc_id", "n_mojibake"), "doc_id"
    )

    # 3. decontamination (optional): tokenize + window-hash ONCE — the
    # span table alone feeds the report columns (span lengths = tokens
    # dropped; the spans are disjoint maximal merges), and the
    # expensive excision explode runs ONLY over the contaminated docs
    toks = None
    if args.eval_docs:
        ev = tables.read_path_or_table(spark, args.eval_docs)
        from pignlproc_spark.functions.tokenize import tokens_col

        toks = docs.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            tokens_col(F.col("text"), apply_stoplist=False).alias("_toks"),
        ).localCheckpoint(eager=False)
        spans = dedup.contamination_spans(docs, ev, n=args.contamination_n, toks=toks).persist()
        extra_persists.append(spans)
        span_stats = spans.groupBy("doc_id").agg(
            F.sum("n_windows").cast("bigint").alias("n_hit_windows"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).cast("bigint").alias("n_tokens_dropped"),
        )
        sizes = toks.select("doc_id", F.size("_toks").cast("bigint").alias("_n_toks"))
        report = (
            report.join(span_stats, "doc_id", "left")
            .join(sizes, "doc_id")
            .withColumn("n_hit_windows", F.coalesce("n_hit_windows", F.lit(0)).cast("bigint"))
            .withColumn("n_tokens_dropped", F.coalesce("n_tokens_dropped", F.lit(0)).cast("bigint"))
            .withColumn("contaminated", (F.col("n_hit_windows") > 0).cast("int"))
            .withColumn("n_tokens_kept", (F.col("_n_toks") - F.col("n_tokens_dropped")).cast("bigint"))
            # post-excision quality recheck: a doc gutted below the
            # corpus_filter floor is dropped, not shipped near-empty
            .withColumn(
                "decon_keep",
                (
                    (F.col("n_tokens_dropped") == 0)
                    | (F.col("n_tokens_kept") >= args.min_keep_tokens)
                ).cast("int"),
            )
            .drop("_n_toks")
        )
        # rewrite ONLY the contaminated docs (excision is token-level,
        # so their text becomes the rejoined clean token stream); clean
        # docs keep their original bytes untouched — and the explode
        # only ever sees the (tiny) contaminated slice of the corpus
        toks_cont = toks.join(spans.select("doc_id").distinct(), "doc_id", "left_semi")
        stripped = dedup.strip_contaminated_spans(
            docs, ev, n=args.contamination_n, toks=toks_cont, spans=spans
        )
        curated_text = (
            docs.select("doc_id", "text")
            .join(
                stripped.select("doc_id", F.col("clean_text").alias("_clean")),
                "doc_id",
                "left",
            )
            .select("doc_id", F.coalesce("_clean", F.col("text")).alias("_clean"))
        )
    else:
        # no decontamination — but the report schema must be IDENTICAL
        # in both branches (downstream consumers read one shape):
        # n_tokens_kept = n_tokens, zeros/ones elsewhere. The (doc_id,
        # n_tokens) projection is persisted and shared with the
        # length-gate below, so this costs one tokenize pass total —
        # the same count the gate would have computed anyway.
        from pignlproc_spark.functions.tokenize import tokens_col

        counts_shared = docs.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.size(tokens_col(F.col("text"), apply_stoplist=False)).cast("bigint").alias("n_tokens"),
        ).persist()
        extra_persists.append(counts_shared)
        report = (
            report.join(counts_shared, "doc_id")
            .withColumn("n_hit_windows", F.lit(0).cast("bigint"))
            .withColumn("n_tokens_dropped", F.lit(0).cast("bigint"))
            .withColumn("contaminated", F.lit(0))
            .withColumn("n_tokens_kept", F.col("n_tokens"))
            .withColumn("decon_keep", F.lit(1))
            .drop("n_tokens")
        )
        curated_text = docs.select("doc_id", F.col("text").alias("_clean"))

    # 4. optional global-percentile length gate (exact threshold via
    # the value-histogram two-phase; the corpus never sorts). Shares
    # the decontamination branch's token arrays when they exist (no
    # second tokenize pass); otherwise persists its own tiny
    # (id, n_tokens) projection and releases it with the others
    if args.min_length_pct > 0:
        if toks is not None:
            counts = toks.select(
                "doc_id", F.size("_toks").cast("bigint").alias("n_tokens")
            )
        else:
            # reuse the persisted projection built for the report above
            counts = counts_shared
        gated = textstats.quality_gate(docs, q=args.min_length_pct, counts=counts).select(
            "doc_id", F.lit(1).alias("length_gate_keep")
        )
        report = report.join(gated, "doc_id", "left").withColumn(
            "length_gate_keep", F.coalesce("length_gate_keep", F.lit(0)).cast("int")
        )
    else:
        report = report.withColumn("length_gate_keep", F.lit(1))

    # 4b. optional DSIR target-distribution gate: per-gram importance
    # toward the target-language subset (exact-int floor division of
    # the quantized log-weight sum), thresholded at the exact global
    # percentile by the same histogram machinery as the length gate.
    # Docs with zero grams have no weight row → dsir_keep 0 (they fail
    # quality_keep anyway). The score projection is persisted because
    # quality_gate reads it twice (threshold + fact side) and the
    # underlying gram passes are the job's heaviest optional stage.
    if args.dsir_pct > 0:
        target = docs.where(F.col("lang") == (args.dsir_target_lang or args.lang))
        scores = (
            textstats.dsir_logweights(docs, target)
            .select(
                "doc_id",
                F.floor(F.col("dsir_logw_q") / F.col("n_grams")).cast("bigint").alias("n_tokens"),
            )
            .persist()
        )
        extra_persists.append(scores)
        dsir_gated = textstats.quality_gate(docs, q=args.dsir_pct, counts=scores).select(
            "doc_id", F.lit(1).alias("dsir_keep")
        )
        report = report.join(dsir_gated, "doc_id", "left").withColumn(
            "dsir_keep", F.coalesce("dsir_keep", F.lit(0)).cast("int")
        )
    else:
        report = report.withColumn("dsir_keep", F.lit(1))

    report = report.withColumn(
        "keep",
        (
            F.col("quality_keep") * F.col("neardup_keep") * F.col("decon_keep")
            * F.col("length_gate_keep") * F.col("dsir_keep")
        ).cast("int"),
    )
    report_path = tables.write_table(report, "report", root=args.out)
    report_w = tables.read_path_or_table(spark, report_path)

    # 4. curated corpus + packing layout for the keepers
    keepers = report_w.where(F.col("keep") == 1).select("doc_id")
    curated = keepers.join(curated_text, "doc_id").select(
        "doc_id", F.col("_clean").alias("text")
    )
    # 5. optional PII redaction — LAST text transform before shipping,
    # so placeholders are what lands in packing/mix too. Runs over the
    # keepers only (the dropped docs never pay the regex pass); totals
    # come from one aggregate over the persisted scrub, not a rescan.
    pii_totals = {name: 0 for name, _, _ in textstats.PII_PATTERNS}
    if args.pii_scrub:
        scrubbed = textstats.pii_scrub(curated).persist()
        extra_persists.append(scrubbed)
        row = scrubbed.agg(
            *[F.sum(f"n_{name}").alias(name) for name in pii_totals]
        ).collect()[0]
        pii_totals = {name: int(row[name] or 0) for name in pii_totals}
        curated = scrubbed.select("doc_id", F.col("clean_text").alias("text"))
    curated_path = tables.write_table(curated, "curated", root=args.out)
    curated_w = tables.read_path_or_table(spark, curated_path)
    packing = textstats.pack_sequences(
        curated_w, capacity=args.capacity, shards=args.shards
    )
    packing_path = tables.write_table(packing, "packing", root=args.out)

    # 6. optional training-mix materialization over the keepers
    outputs_extra = {}
    if mix_weights:
        mix = textstats.mix_corpus(
            docs.join(keepers, "doc_id"), mix_weights, default_pct=args.mix_default_pct
        )
        outputs_extra["mix"] = tables.write_table(mix, "mix", root=args.out)

    # 7. optional JSONL hand-off of the curated corpus (deterministic
    # shard membership + per-shard checksums — the loader-facing sink)
    if args.export_jsonl > 0:
        jsonl_path = os.path.join(args.out, "jsonl")
        tables.write_jsonl_shards(curated_w, jsonl_path, n_shards=args.export_jsonl)
        outputs_extra["jsonl"] = jsonl_path

    # 8. optional distillation: train the CCLogReg linear scorer on the
    # CONTENT-derived gate components (quality × decontamination ×
    # length × DSIR), so the NEXT crawl can be pre-filtered for the price of a
    # broadcast join before any heavy stage runs. The near-dup verdict
    # is deliberately excluded from the label: it is not a function of
    # a doc's own content (identical texts get different verdicts), so
    # no per-doc model can — or should — learn it.
    clf_agreement = None
    if args.train_classifier:
        from pignlproc_spark.operators import classifier as _clf

        content_y = (
            F.col("quality_keep") * F.col("decon_keep") * F.col("length_gate_keep")
            * F.col("dsir_keep")
        ).cast("int")
        labeled = docs.select("doc_id", "text").join(
            report_w.select("doc_id", content_y.alias("y")), "doc_id"
        )
        pos = labeled.where(F.col("y") == 1).count()
        model = _clf.train_hashed_logreg(
            labeled,
            dim=256,
            rounds=24,
            eta=8.0,
            # reweighting needs both classes; a homogeneous corpus
            # still trains (bias-only model) without it
            class_balance=0 < pos < labeled.count(),
        )
        outputs_extra["classifier"] = tables.write_table(
            model.weights, "classifier", root=args.out
        )
        clf_agreement = (
            _clf.score_docs(docs, model)
            .join(labeled.select("doc_id", "y"), "doc_id")
            .select(F.avg((F.col("pred") == F.col("y")).cast("int")).alias("a"))
            .collect()[0]["a"]
        )

    n_in = docs.count()
    n_keep = curated_w.count()
    n_mojibake_total = int(report_w.agg(F.sum("n_mojibake")).collect()[0][0] or 0)
    # sequences actually containing pieces: empty docs occupy none, so
    # a shard of only-empty docs contributes 0 (not a phantom seq 0)
    n_seqs = (
        tables.read_path_or_table(spark, packing_path)
        .where(F.col("n_pieces") > 0)
        .groupBy("shard")
        .agg((F.max("seq_end") + 1).alias("m"))
        .agg(F.coalesce(F.sum("m"), F.lit(0)))
        .collect()[0][0]
    )
    docs.unpersist()
    for df_ in extra_persists:
        df_.unpersist()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": n_keep,
                "mojibake_repaired": n_mojibake_total,
                "sequences": int(n_seqs or 0),
                "pii_redactions": pii_totals,
                "classifier_agreement": (
                    round(float(clf_agreement), 4) if clf_agreement is not None else None
                ),
                "wall_s": round(wall, 1),
                "outputs": {"report": report_path, "curated": curated_path,
                            "packing": packing_path, **outputs_extra},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
