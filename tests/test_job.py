"""spark-submit entrypoint smoke: the CLI surface must run the full
pipeline, write every output table, and honor the optional link-
decision / graph-stats / link-prediction flags (reuses the session
fixture — the job picks up the active session exactly as under
spark-submit)."""

from pyspark.sql import functions as F

from jobs.build_kg import main
from jobs.ingest_stream import main as stream_main


def test_build_kg_job_end_to_end(spark, tmp_path):
    out = str(tmp_path / "kg")
    rc = main(
        [
            "--synth-sf",
            "0.001",
            "--out",
            out,
            "--checkpoint",
            str(tmp_path / "ck"),
            "--link-decisions",
            "--graph-stats",
            "--link-prediction",
        ]
    )
    assert rc == 0
    triples = spark.read.parquet(f"{out}/graph/triples")
    assert triples.count() > 0
    assert {d for d in __import__("os").listdir(f"{out}/graph/triples") if d.startswith("pred=")}
    dec = spark.read.parquet(f"{out}/stats/link_decisions")
    assert dec.count() > 0
    assert dec.where(F.col("rank") != 1).count() == 0
    # ambiguity routing is the job default: both routes present, every
    # mention decided exactly once
    assert {r.route for r in dec.select("route").distinct().collect()} == {"prior", "context"}
    assert dec.select("mention_id").distinct().count() == dec.count()
    for t in ("pair_counts", "uri_counts", "sf_total_counts", "token_counts"):
        assert spark.read.parquet(f"{out}/stats/{t}").count() > 0
    # --graph-stats artifacts: co-occurrence pairs + normalized ranks
    cooc = spark.read.parquet(f"{out}/stats/cooccurrence")
    assert cooc.count() > 0 and cooc.where(F.col("uri_a") >= F.col("uri_b")).count() == 0
    pr = spark.read.parquet(f"{out}/stats/pagerank")
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6
    # --link-prediction artifact: top-k missing-edge candidates, ranked
    lp = spark.read.parquet(f"{out}/stats/link_prediction")
    assert lp.count() > 0
    assert set(lp.columns) == {"uri", "cand_uri", "n_common", "ra_q", "rank"}
    assert lp.where((F.col("rank") < 1) | (F.col("rank") > 10)).count() == 0


def test_ingest_stream_job_end_to_end(spark, synth_dir, tmp_path):
    from pignlproc_spark.streaming.counts import read_counts

    in_dir = tmp_path / "arrivals"
    spark.read.parquet(str(synth_dir / "pages.parquet")).repartition(3).write.parquet(
        str(in_dir / "pages")
    )
    out = str(tmp_path / "facts")
    stats = str(tmp_path / "stats")
    rc = stream_main(
        [
            "--pages", str(in_dir / "pages"),
            "--redirects", str(synth_dir / "redirects.parquet"),
            "--out", out,
            "--checkpoint", str(tmp_path / "ck"),
            "--stats", stats,
            "--link-decisions",
            "--compact-every", "2",
        ]
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/batch=*").count() > 0
    assert spark.read.parquet(f"{out}_decisions").where(F.col("rank") != 1).count() == 0
    assert read_counts(spark, f"{stats}/pair_counts", ["surface_form", "uri"]).count() > 0


def test_dedup_stream_job_end_to_end(spark, tmp_path):
    from jobs.dedup_stream import main as dedup_main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir = tmp_path / "docs"
    in_dir.mkdir()
    docs.coalesce(1).write.parquet(str(in_dir / "drop1"))
    rc = dedup_main(
        [
            "--docs",
            str(in_dir) + "/*",
            "--root",
            str(tmp_path / "nd"),
            "--checkpoint",
            str(tmp_path / "ck"),
            "--min-jaccard-pct",
            "60",
        ]
    )
    assert rc == 0
    from pignlproc_spark.streaming import neardup

    pairs = neardup.read_pairs(spark, str(tmp_path / "nd"))
    assert pairs.count() > 0
    assert pairs.where(F.col("id_a") >= F.col("id_b")).count() == 0


# the report table's schema is a STABLE contract: identical columns
# whether or not --eval-docs / --min-length-pct are given (downstream
# consumers read one shape)
REPORT_COLUMNS = {
    "doc_id", "ok_len", "ok_token_len", "ok_lang", "is_canonical",
    "quality_keep", "component_id", "neardup_keep", "n_hit_windows",
    "n_tokens_dropped", "contaminated", "n_tokens_kept", "decon_keep",
    "length_gate_keep", "dsir_keep", "n_mojibake", "keep",
}


def test_curate_corpus_job_end_to_end(spark, tmp_path):
    from jobs.curate_corpus import main as curate_main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_p = str(tmp_path / "corpus.parquet")
    eval_p = str(tmp_path / "eval.parquet")
    docs.where(F.col("doc_id") % 5 != 0).write.parquet(corpus_p)
    docs.where(F.col("doc_id") % 5 == 0).write.parquet(eval_p)
    out = str(tmp_path / "curated")
    rc = curate_main(
        [
            "--docs", corpus_p,
            "--eval-docs", eval_p,
            "--contamination-n", "8",
            "--out", out,
        ]
    )
    assert rc == 0
    report = spark.read.parquet(f"{out}/report")
    n_in = docs.where(F.col("doc_id") % 5 != 0).count()
    assert report.count() == n_in  # one verdict row per input doc
    assert set(report.columns) == REPORT_COLUMNS
    # keep is exactly the conjunction (incl. the post-excision recheck)
    assert report.where(
        (F.col("keep") == 1)
        != (
            (F.col("quality_keep") == 1)
            & (F.col("neardup_keep") == 1)
            & (F.col("decon_keep") == 1)
        )
    ).count() == 0
    # the recheck's exact rule: untouched docs always pass; excised
    # docs pass iff the surviving stream clears the floor (default 25)
    assert report.where(
        (F.col("decon_keep") == 1)
        != ((F.col("n_tokens_dropped") == 0) | (F.col("n_tokens_kept") >= 25))
    ).count() == 0
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.count() == report.where("keep = 1").count()
    # contaminated keepers had their leaked spans cut (token drop recorded)
    contaminated_kept = report.where("keep = 1 AND contaminated = 1")
    if contaminated_kept.count():
        assert contaminated_kept.where(F.col("n_tokens_dropped") > 0).count() > 0
    # clean keepers pass through with their ORIGINAL bytes (casing,
    # punctuation, whitespace untouched) — only excised docs rewrite
    clean_ids = report.where("keep = 1 AND n_tokens_dropped = 0").select("doc_id")
    orig = docs.select("doc_id", F.col("text").alias("orig"))
    mismatched = (
        curated.join(clean_ids, "doc_id").join(orig, "doc_id").where(F.col("text") != F.col("orig"))
    )
    assert mismatched.count() == 0
    packing = spark.read.parquet(f"{out}/packing")
    assert packing.count() == curated.count()
    # packing is gapless concat-and-chunk: within each shard the last
    # sequence index must equal ceil(total pieces / capacity) - 1
    per_shard = (
        packing.where(F.col("n_pieces") > 0)
        .groupBy("shard")
        .agg(
            (F.max("seq_end") + 1).alias("n_seqs"),
            F.ceil(F.sum("n_pieces") / 2048).alias("expect"),
        )
    )
    assert per_shard.where(F.col("n_seqs") != F.col("expect")).count() == 0
    assert per_shard.count() > 0


def test_curate_corpus_job_jsonl_and_classifier(spark, tmp_path, capsys):
    """--export-jsonl writes a verifiable sharded hand-off of exactly
    the curated corpus; --train-classifier distills the keep labels
    into CCLogReg weights and reports agreement."""
    import json as _json

    from jobs.curate_corpus import main as curate_main
    from pignlproc_spark import tables

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus_p = str(tmp_path / "corpus.parquet")
    docs.write.parquet(corpus_p)
    out = str(tmp_path / "curated")
    rc = curate_main(
        ["--docs", corpus_p, "--out", out, "--export-jsonl", "4", "--train-classifier"]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["outputs"]["jsonl"] == f"{out}/jsonl"
    # manifest verifies and covers exactly the curated rows
    man = tables.verify_jsonl_shards(spark, f"{out}/jsonl", "doc_id long, text string")
    curated = spark.read.parquet(f"{out}/curated")
    assert sum(s["rows"] for s in man["shards"].values()) == curated.count()
    back = tables.read_jsonl_shards(spark, f"{out}/jsonl", "doc_id long, text string")
    assert back.select("doc_id", "text").exceptAll(curated).count() == 0
    # distilled scorer: weights table written, agreement is a sane rate
    w = spark.read.parquet(f"{out}/classifier")
    assert w.count() == 257 and set(w.columns) == {"bucket", "w_q"}
    assert 0.5 <= summary["classifier_agreement"] <= 1.0


def test_curate_corpus_job_length_gate_and_mix(spark, tmp_path):
    """--min-length-pct adds the exact-percentile gate to the keep
    conjunction; --mix materializes deterministic epochs-per-source."""
    from jobs.curate_corpus import main as curate_main
    from pignlproc_spark.operators import textstats

    corpus_p = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated_gm")
    rc = curate_main(
        ["--docs", corpus_p, "--out", out, "--min-length-pct", "20",
         "--mix", "src0=200,src1=0", "--mix-default-pct", "100"]
    )
    assert rc == 0
    report = spark.read.parquet(f"{out}/report")
    assert set(report.columns) == REPORT_COLUMNS  # branch-independent shape
    # without --eval-docs: n_tokens_kept = full token count, zero drops
    assert report.where(
        (F.col("n_tokens_dropped") != 0) | (F.col("n_tokens_kept") < 0)
    ).count() == 0
    docs = spark.read.parquet(corpus_p)
    # the gate column equals the operator's verdict exactly
    gate_ids = {r.doc_id for r in textstats.quality_gate(docs, q=20).collect()}
    assert {r.doc_id for r in report.where(F.col("length_gate_keep") == 1).collect()} == gate_ids
    assert report.where(
        (F.col("keep") == 1)
        & ~(
            (F.col("quality_keep") == 1)
            & (F.col("neardup_keep") == 1)
            & (F.col("length_gate_keep") == 1)
        )
    ).count() == 0
    # mix: only keepers appear; src1 weight 0 -> absent; src0 twice
    mix = spark.read.parquet(f"{out}/mix")
    keepers = {r.doc_id for r in report.where(F.col("keep") == 1).collect()}
    assert {r.doc_id for r in mix.collect()} <= keepers
    assert mix.where(F.col("source") == "src1").count() == 0
    src0 = mix.where(F.col("source") == "src0").groupBy("doc_id").count().collect()
    assert src0 and all(r["count"] == 2 for r in src0)


def test_build_kg_job_from_warc(spark, synth_dir, tmp_path):
    """spark-submit surface over a raw .warc.gz crawl: --warc replays
    the archive into canonical pages and the pipeline's triples match
    the plan-derived golden exactly (P=R=1.0) — the full
    crawl-to-graph path in one job invocation."""
    out = str(tmp_path / "kg_warc")
    rc = main(
        [
            "--warc",
            str(synth_dir / "warc"),
            "--redirects",
            str(synth_dir / "redirects.parquet"),
            "--out",
            out,
        ]
    )
    assert rc == 0
    got = spark.read.parquet(f"{out}/graph/triples").select("subj", "pred", "obj", "weight")
    gold = spark.read.parquet(str(synth_dir / "golden_triples.parquet"))
    assert got.count() == gold.count()
    assert got.exceptAll(gold).count() == 0 and gold.exceptAll(got).count() == 0


def test_curate_corpus_job_pii_scrub(spark, tmp_path, capsys):
    """--pii-scrub redacts CCPii v1 categories from the SHIPPED text
    (curated table) and reports per-category totals; without the flag
    text passes through untouched (zero totals)."""
    import json as _json

    from jobs.curate_corpus import main as curate_main

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant PII on every doc so keepers necessarily carry some
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" mail me: u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org from 10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
        ),
    )
    corpus_p = str(tmp_path / "pii_corpus.parquet")
    planted.write.parquet(corpus_p)
    out = str(tmp_path / "curated_pii")
    rc = curate_main(["--docs", corpus_p, "--out", out, "--pii-scrub"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_keep = summary["docs_kept"]
    assert n_keep > 0
    # every keeper had exactly one planted email + one planted ip
    assert summary["pii_redactions"]["emails"] >= n_keep
    assert summary["pii_redactions"]["ips"] >= n_keep
    curated = spark.read.parquet(f"{out}/curated")
    assert curated.where(F.col("text").rlike("@ex\\.org")).count() == 0
    assert curated.where(~F.col("text").contains("<EMAIL>")).count() == 0
    assert curated.where(~F.col("text").contains("<IP>")).count() == 0


def test_ingest_stream_job_from_warc(spark, synth_dir, tmp_path):
    """--source warc: the incremental KG job runs straight off raw
    .warc.gz crawl archives — mentions from the drained stream must
    equal the batch fused path over the same archives, and the
    incremental stats must be live."""
    import shutil

    from pignlproc_spark.sources.warc import warc_gz_to_pages
    from pignlproc_spark.streaming.counts import read_counts
    from pignlproc_spark.streaming.ingest import mention_stream

    drop = tmp_path / "crawl"
    drop.mkdir()
    for p in (synth_dir / "warc").glob("*.warc.gz"):
        shutil.copy(p, drop / p.name)
    out = str(tmp_path / "facts")
    stats = str(tmp_path / "stats")
    rc = stream_main(
        [
            "--pages", str(drop),
            "--source", "warc",
            "--redirects", str(synth_dir / "redirects.parquet"),
            "--out", out,
            "--checkpoint", str(tmp_path / "ck"),
            "--stats", stats,
        ]
    )
    assert rc == 0
    got = spark.read.parquet(f"{out}/batch=*")
    # batch twin over the same archives (same fused extraction, then
    # the same redirect resolution the job applied)
    from pignlproc_spark.operators.canonicalize import apply_redirects

    want = apply_redirects(
        mention_stream(warc_gz_to_pages(spark, str(synth_dir / "warc"))),
        spark.read.parquet(str(synth_dir / "redirects.parquet")),
        "uri",
    )
    assert got.count() == want.count() > 0
    key = ["url", "ctx_idx", "begin", "end", "uri"]
    assert got.select(key).exceptAll(want.select(key)).count() == 0
    assert read_counts(spark, f"{stats}/pair_counts", ["surface_form", "uri"]).count() > 0


def test_curate_corpus_job_line_dedup(spark, tmp_path):
    """--line-dedup strips corpus-repeated lines before every other
    stage: a boilerplate line planted on every doc survives in exactly
    one kept document's text."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit("\ncookie banner accept all"))
    )
    corpus_p = str(tmp_path / "ld_corpus.parquet")
    planted.write.parquet(corpus_p)
    out = str(tmp_path / "curated_ld")
    from jobs.curate_corpus import main as curate_main

    rc = curate_main(["--docs", corpus_p, "--out", out, "--line-dedup"])
    assert rc == 0
    curated = spark.read.parquet(f"{out}/curated")
    n_with_banner = curated.where(F.col("text").contains("cookie banner accept all")).count()
    assert n_with_banner <= 1  # at most the corpus-first doc (it may have been dropped by other gates)
    # and no kept text carries the banner twice
    assert curated.where(
        F.size(F.split(F.col("text"), "cookie banner accept all")) > 2
    ).count() == 0
    report = spark.read.parquet(f"{out}/report")
    assert set(report.columns) == REPORT_COLUMNS  # schema contract holds


def test_curate_corpus_job_dsir_gate(spark, tmp_path):
    """--dsir-pct adds the DSIR target-distribution gate to the keep
    conjunction: the verdict equals composing the operators directly,
    and kept docs skew toward the target language."""
    from jobs.curate_corpus import main as curate_main
    from pignlproc_spark.operators import textstats

    corpus_p = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated_dsir")
    rc = curate_main(["--docs", corpus_p, "--out", out, "--dsir-pct", "30"])
    assert rc == 0
    report = spark.read.parquet(f"{out}/report")
    assert set(report.columns) == REPORT_COLUMNS  # branch-independent shape
    docs = spark.read.parquet(corpus_p)
    scores = textstats.dsir_logweights(docs, docs.where(F.col("lang") == "en")).select(
        "doc_id",
        F.floor(F.col("dsir_logw_q") / F.col("n_grams")).cast("bigint").alias("n_tokens"),
    )
    want = {r.doc_id for r in textstats.quality_gate(docs, q=30, counts=scores).collect()}
    got = {r.doc_id for r in report.where(F.col("dsir_keep") == 1).collect()}
    assert got == want
    # the gate participates in the keep conjunction
    assert report.where((F.col("keep") == 1) & (F.col("dsir_keep") == 0)).count() == 0
    # selection property: the survivors' en-fraction is >= the corpus's
    en = docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("is_en"))
    base = en.agg(F.avg("is_en")).collect()[0][0]
    kept = (
        report.where(F.col("dsir_keep") == 1)
        .join(en, "doc_id")
        .agg(F.avg("is_en"))
        .collect()[0][0]
    )
    assert kept >= base


def test_curate_corpus_job_fix_mojibake(spark, tmp_path):
    """--fix-mojibake repairs encoding damage before any gate runs:
    per-doc artifact counts land in the report, and the curated text
    is the REPAIRED text."""
    from jobs.curate_corpus import main as curate_main
    from pignlproc_spark.functions.encoding import (
        MOJIBAKE_TABLE,
        mojibake_count_col,
        mojibake_fix_col,
    )

    damaged_e = {c: d for d, c in MOJIBAKE_TABLE}["é"]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corrupted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.replace(F.col("text"), F.lit("e"), F.lit(damaged_e))
        ).otherwise(F.col("text")),
    )
    src = str(tmp_path / "damaged_docs")
    corrupted.write.parquet(src)
    out = str(tmp_path / "curated_moji")
    rc = curate_main(["--docs", src, "--out", out, "--fix-mojibake"])
    assert rc == 0
    report = spark.read.parquet(f"{out}/report")
    assert set(report.columns) == REPORT_COLUMNS
    # per-doc counts == the operator applied to the damaged input
    want = {
        r.doc_id: r.n
        for r in corrupted.select(
            "doc_id", mojibake_count_col(F.col("text")).alias("n")
        ).collect()
    }
    got = {r.doc_id: r.n_mojibake for r in report.collect()}
    assert got == want
    assert sum(got.values()) > 0  # the damage was actually planted
    # curated text is the repaired text, byte-for-byte
    fixed = {
        r.doc_id: r.t
        for r in corrupted.select(
            "doc_id", mojibake_fix_col(F.col("text")).alias("t")
        ).collect()
    }
    curated = spark.read.parquet(f"{out}/curated")
    for r in curated.collect():
        assert r.text == fixed[r.doc_id]
    # without the flag the report column exists and is all-zero
    out2 = str(tmp_path / "curated_no_moji")
    assert curate_main(["--docs", src, "--out", out2]) == 0
    rep2 = spark.read.parquet(f"{out2}/report")
    assert set(rep2.columns) == REPORT_COLUMNS
    assert rep2.where(F.col("n_mojibake") != 0).count() == 0


def test_ingest_crawl_job_end_to_end(spark, tmp_path):
    """WARC → documents: response/type gating, host+prefix blocklist,
    latest-capture URL dedup, CCHtml extraction, CCMoji repair."""
    import gzip

    from jobs.ingest_crawl import main as crawl_main
    from pignlproc_spark.functions.encoding import MOJIBAKE_TABLE
    from tests.test_sources import _warc_record

    def resp(url, date, body_html, ctype=b"text/html; charset=utf-8", status=b"200 OK"):
        body = b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ctype + b"\r\n\r\n" + body_html
        return gzip.compress(_warc_record("response", url, date, body), mtime=0)

    damaged_e = {c: d for d, c in MOJIBAKE_TABLE}["é"].encode("utf-8")
    members = [
        # same canonical URL fetched twice — the later capture must win
        resp("https://a.example/x", "2024-01-01T00:00:00Z", b"<p>old capture</p>"),
        resp("https://a.example/x/", "2024-03-01T00:00:00Z", b"<p>new capture</p>"),
        # blocked host / blocked prefix / non-200 / non-html: all dropped
        resp("https://bad.example/y", "2024-01-01T00:00:00Z", b"<p>banned</p>"),
        resp("https://a.example/ads/1", "2024-01-01T00:00:00Z", b"<p>ad</p>"),
        resp("https://a.example/gone", "2024-01-01T00:00:00Z", b"nope", status=b"404 NF"),
        resp("https://a.example/img", "2024-01-01T00:00:00Z", b"\x89PNG", ctype=b"image/png"),
        # mojibake body + full HTML gauntlet
        resp(
            "https://a.example/moji", "2024-01-01T00:00:00Z",
            b"<html><script>var x=1<2;</script><h1>caf" + damaged_e + b"</h1><p>&amp; more</p></html>",
        ),
    ]
    arc = tmp_path / "crawl"
    arc.mkdir()
    (arc / "seg.warc.gz").write_bytes(b"".join(members))
    hosts = tmp_path / "hosts.txt"
    hosts.write_text("BAD.example\n\n")  # case-folded, blank lines ignored
    out = str(tmp_path / "docs")
    rc = crawl_main([
        "--warc", str(arc / "*.warc.gz"), "--out", out,
        "--block-hosts", str(hosts), "--block-prefix", "https://a.example/ads",
        "--fix-mojibake", "--source-label", "cc-test",
    ])
    assert rc == 0
    docs = {r.url: r for r in spark.read.parquet(out).collect()}
    assert set(docs) == {"https://a.example/x/", "https://a.example/moji"}
    assert docs["https://a.example/x/"].text == "new capture"  # latest capture won
    moji = docs["https://a.example/moji"]
    assert moji.text == "café\n& more"  # script gone, entity decoded, repair applied
    assert moji.n_mojibake == 1
    assert moji.source == "cc-test" and moji.lang == "en"
    assert moji.n_chars == len(moji.text)
    # doc_id is the canonical-url hash: stable across re-ingestion
    rc2 = crawl_main(["--warc", str(arc / "*.warc.gz"), "--out", str(tmp_path / "d2"), "--no-funnel"])
    assert rc2 == 0
    again = {r.url: r.doc_id for r in spark.read.parquet(str(tmp_path / "d2")).collect()}
    assert again["https://a.example/moji"] == moji.doc_id


def test_ingest_crawl_job_metadata_and_noindex(spark, tmp_path, capsys):
    """CCMeta columns ride along on every document; --respect-noindex
    drops robots-meta noindex pages and reports the count."""
    import gzip
    import json as _json

    from jobs.ingest_crawl import main as crawl_main
    from tests.test_sources import _warc_record

    def resp(url, date, body_html):
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
            + body_html
        )
        return gzip.compress(_warc_record("response", url, date, body), mtime=0)

    members = [
        resp(
            "https://m.example/keep", "2024-01-01T00:00:00Z",
            b'<html><head><title> Keep \t me </title>'
            b'<link href="https://m.example/k" rel="canonical"></head>'
            b"<body><p>body text</p></body></html>",
        ),
        resp(
            "https://m.example/hidden", "2024-01-01T00:00:00Z",
            b'<html><head><meta content="noindex, nofollow" name="robots">'
            b"</head><body><p>secret</p></body></html>",
        ),
        resp("https://m.example/bare", "2024-01-01T00:00:00Z", b"<p>no head</p>"),
    ]
    arc = tmp_path / "crawl"
    arc.mkdir()
    (arc / "seg.warc.gz").write_bytes(b"".join(members))
    out = str(tmp_path / "docs")
    rc = crawl_main(
        ["--warc", str(arc / "*.warc.gz"), "--out", out, "--respect-noindex", "--no-funnel"]
    )
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["noindexed"] == 1 and summary["documents"] == 2
    docs = {r.url: r for r in spark.read.parquet(out).collect()}
    assert set(docs) == {"https://m.example/keep", "https://m.example/bare"}
    kept = docs["https://m.example/keep"]
    assert kept.title == "Keep me" and kept.canonical == "https://m.example/k"
    bare = docs["https://m.example/bare"]
    assert bare.title is None and bare.canonical is None
    # without the flag the noindex page is kept, metadata still present
    rc2 = crawl_main(
        ["--warc", str(arc / "*.warc.gz"), "--out", str(tmp_path / "d2"), "--no-funnel"]
    )
    assert rc2 == 0
    d2 = {r.url: r for r in spark.read.parquet(str(tmp_path / "d2")).collect()}
    assert "https://m.example/hidden" in d2 and d2["https://m.example/hidden"].title is None


def test_ingest_crawl_job_history_dedup(spark, tmp_path):
    """--history drops pages whose extracted text was already ingested
    (re-crawl across snapshots) and reports the count."""
    import gzip
    import json as _json

    from jobs.ingest_crawl import main as crawl_main
    from tests.test_sources import _warc_record

    def resp(url, date, body_html):
        body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body_html
        return gzip.compress(_warc_record("response", url, date, body), mtime=0)

    arc1, arc2 = tmp_path / "c1", tmp_path / "c2"
    arc1.mkdir(), arc2.mkdir()
    (arc1 / "s.warc.gz").write_bytes(
        resp("https://h.example/a", "2024-01-01T00:00:00Z", b"<p>alpha</p>")
        + resp("https://h.example/b", "2024-01-01T00:00:00Z", b"<p>beta</p>")
    )
    # second crawl: /a unchanged (content seen), /c new
    (arc2 / "s.warc.gz").write_bytes(
        resp("https://h.example/a", "2024-06-01T00:00:00Z", b"<p>alpha</p>")
        + resp("https://h.example/c", "2024-06-01T00:00:00Z", b"<p>gamma</p>")
    )
    snap1 = str(tmp_path / "snap1")
    assert crawl_main(["--warc", str(arc1 / "*.warc.gz"), "--out", snap1, "--no-funnel"]) == 0
    snap2 = str(tmp_path / "snap2")
    rc = crawl_main(
        ["--warc", str(arc2 / "*.warc.gz"), "--out", snap2, "--no-funnel", "--history", snap1]
    )
    assert rc == 0
    urls = {r.url for r in spark.read.parquet(snap2).collect()}
    assert urls == {"https://h.example/c"}  # /a's bytes were already in snap1


def test_ingest_crawl_job_robots(spark, tmp_path):
    """--robots drops pages a 'User-agent: *' Disallow covers, honoring
    the longest-match Allow override."""
    import gzip

    from jobs.ingest_crawl import main as crawl_main
    from tests.test_sources import _warc_record

    def resp(url, body_html):
        body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body_html
        return gzip.compress(_warc_record("response", url, "2024-01-01T00:00:00Z", body), mtime=0)

    arc = tmp_path / "crawl"
    arc.mkdir()
    (arc / "s.warc.gz").write_bytes(
        resp("https://h.example/private/x", b"<p>secret</p>")
        + resp("https://h.example/private/ok/y", b"<p>public exception</p>")
        + resp("https://h.example/open/z", b"<p>open</p>")
    )
    robots = str(tmp_path / "robots")
    spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n")],
        "host string, body string",
    ).write.parquet(robots)
    out = str(tmp_path / "docs")
    rc = crawl_main(
        ["--warc", str(arc / "*.warc.gz"), "--out", out, "--robots", robots, "--no-funnel"]
    )
    assert rc == 0
    urls = {r.url for r in spark.read.parquet(out).collect()}
    assert urls == {"https://h.example/private/ok/y", "https://h.example/open/z"}


def test_ingest_crawl_job_template_quota(spark, tmp_path):
    """--max-per-template caps a crawler-trap template while flat
    pages survive; deterministic keepers (url ascending)."""
    import gzip

    from jobs.ingest_crawl import main as crawl_main
    from tests.test_sources import _warc_record

    def resp(url, body_html):
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body_html
        )
        return gzip.compress(
            _warc_record("response", url, "2024-01-01T00:00:00Z", body), mtime=0
        )

    members = [resp(f"https://t.example/cal/2024-{m:02d}", b"<p>cal</p>") for m in range(1, 8)]
    members += [resp("https://t.example/about", b"<p>about</p>")]
    arc = tmp_path / "crawl"
    arc.mkdir()
    (arc / "seg.warc.gz").write_bytes(b"".join(members))
    out = str(tmp_path / "docs")
    rc = crawl_main(
        ["--warc", str(arc / "*.warc.gz"), "--out", out,
         "--max-per-template", "2", "--no-funnel"]
    )
    assert rc == 0
    urls = sorted(r.url for r in spark.read.parquet(out).collect())
    assert urls == [
        "https://t.example/about",
        "https://t.example/cal/2024-01",
        "https://t.example/cal/2024-02",
    ]


def test_crawl_graph_job_end_to_end(spark, tmp_path, capsys):
    """Drop-dir pages → maintained edge store → ranked hosts; the
    job's HITS output must equal hits_q on batch edges, and a second
    drain with the same checkpoint must be a no-op."""
    import json as _json

    from __spark_entry__ import LINK_WRAP_POST, LINK_WRAP_PRE
    from jobs.crawl_graph import main as graph_main
    from pignlproc_spark.functions.urls import host_link_edges
    from pignlproc_spark.operators import stats

    pages = spark.range(0, 300).select(
        F.concat(
            F.lit("https://cc"), (F.col("id") % 5).cast("string"),
            F.lit(".example/p/"), F.lpad(F.col("id").cast("string"), 7, "0"),
        ).alias("url")
    ).select(
        "url",
        F.concat(
            F.lit(LINK_WRAP_PRE),
            F.regexp_extract("url", r"://([^/]+)/", 1),
            F.lit(LINK_WRAP_POST),
        ).alias("html"),
    )
    drop = tmp_path / "pages_drop"
    pages.repartition(3).write.parquet(str(drop))
    out = str(tmp_path / "scores")
    rc = graph_main([
        "--pages", str(drop), "--root", str(tmp_path / "lg"),
        "--checkpoint", str(tmp_path / "ck"), "--out", out,
        "--scorer", "hits", "--iterations", "2",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["hosts_ranked"] > 0 and summary["edges"] > 0
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        tuple(r)
        for r in stats.hits_q(
            host_link_edges(pages), src="src_host", dst="dst_host",
            weight="n_links", iterations=2,
        ).select(F.col("node").alias("host"), "hub_q", "auth_q").collect()
    )
    assert got == want

    # re-drain with the same checkpoint: no new files, scores identical
    rc2 = graph_main([
        "--pages", str(drop), "--root", str(tmp_path / "lg"),
        "--checkpoint", str(tmp_path / "ck"), "--out", str(tmp_path / "s2"),
        "--scorer", "trustrank", "--iterations", "2",
    ])
    assert rc2 == 0
    tr = spark.read.parquet(str(tmp_path / "s2"))
    assert tr.count() == len(want) and tr.where(F.col("score") < 0).count() == 0


def test_dedup_media_job_end_to_end(spark, synth_dir, tmp_path, capsys):
    """media table with planted cross-format twins -> survivor table:
    twins collapse to the min-url original, non-image rows untouched."""
    import json

    from jobs import dedup_media

    out = str(tmp_path / "media_out")
    pairs_out = str(tmp_path / "media_pairs")
    rc = dedup_media.main(
        ["--media", str(synth_dir / "media.parquet"), "--out", out,
         "--pairs-out", pairs_out, "--max-hamming", "3"]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    media = spark.read.parquet(str(synth_dir / "media.parquet"))
    survivors = spark.read.parquet(out)
    urls_in = {r.url for r in media.select("url").collect()}
    urls_out = {r.url for r in survivors.select("url").collect()}
    # every planted twin/near copy is a non-minimal cluster member and
    # must be dropped; their originals must survive
    twins = {u for u in urls_in if u.endswith("/twin") or u.endswith("/near")}
    assert twins and twins.isdisjoint(urls_out)
    assert {u.rsplit("/", 1)[0] for u in twins} <= urls_out
    # non-image rows pass through untouched
    others = {r.url for r in media.where("kind != 'image'").select("url").collect()}
    assert others <= urls_out
    assert report["n_in"] == len(urls_in) and report["n_out"] == len(urls_out)
    assert report["n_dropped"] == len(urls_in) - len(urls_out) >= len(twins)
    # pair table written and consistent with the dhash operator
    pairs = spark.read.parquet(pairs_out)
    assert pairs.count() == report["n_pairs"] > 0


def test_ingest_crawl_job_media_leg(spark, tmp_path, capsys):
    """--media-out: the same mixed crawl's image/audio/video responses
    come out as a media table — canonical-URL re-fetch dedup sharing
    the text path's keeper rule, then CCDHash perceptual dedup of the
    images — with per-stage lineage counts in the job manifest, while
    the documents leg is unaffected."""
    import gzip
    import json as _json

    import numpy as np

    from jobs.ingest_crawl import main as crawl_main
    from pignlproc_spark.operators import multimodal
    from tests.test_sources import _warc_record

    def resp(url, date, body, ctype):
        head = b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n\r\n"
        return gzip.compress(_warc_record("response", url, date, head + body), mtime=0)

    # alternating-stripe patterns with distinct dhashes (monotone
    # gradients all hash to 0x0 and would merge into one component):
    # hamming(a, c) = 16 and hamming(a, 255-c) = 8, both > max radius
    px_a = np.tile(((np.arange(8) % 2) * 200).astype(np.uint8)[None, :, None], (6, 1, 3))
    px_c = np.tile(((np.arange(8) // 2 % 2) * 180 + 20).astype(np.uint8)[None, :, None], (6, 1, 3))
    bmp_a = multimodal.encode_bmp(px_a)
    bmp_c1 = multimodal.encode_bmp(px_c)
    bmp_c2 = multimodal.encode_bmp(255 - px_c)
    members = [
        resp("https://t.example/page", "2024-01-01T00:00:00Z",
             b"<p>some text</p>", b"text/html; charset=utf-8"),
        # identical pixels under two DIFFERENT urls: a perceptual pair,
        # one survivor (the min url, the connected-components keeper)
        resp("https://m.example/a", "2024-01-01T00:00:00Z", bmp_a, b"image/bmp"),
        resp("https://m.example/b", "2024-01-01T00:00:00Z", bmp_a, b"image/bmp"),
        # same CANONICAL url fetched twice: re-fetch dedup, later wins
        resp("https://m.example/c", "2024-01-01T00:00:00Z", bmp_c1, b"image/bmp"),
        resp("https://m.example/c", "2024-06-01T00:00:00Z", bmp_c2, b"image/bmp"),
        # audio + video: pass through perceptual dedup untouched
        resp("https://m.example/w", "2024-01-01T00:00:00Z", b"RIFFjunkWAVEnoise", b"audio/wav"),
        resp("https://m.example/v", "2024-01-01T00:00:00Z", b"\x00mp4opaque", b"video/mp4"),
        # blocklisted host: its media must not leak into the media leg
        resp("https://spam.example/x", "2024-01-01T00:00:00Z", bmp_a, b"image/bmp"),
    ]
    arc = tmp_path / "crawl"
    arc.mkdir()
    (arc / "seg.warc.gz").write_bytes(b"".join(members))
    hosts = tmp_path / "hosts.txt"
    hosts.write_text("spam.example\n")
    out = str(tmp_path / "docs")
    media_out = str(tmp_path / "media")
    rc = crawl_main([
        "--warc", str(arc / "*.warc.gz"), "--out", out, "--media-out", media_out,
        "--block-hosts", str(hosts),
    ])
    assert rc == 0
    docs = spark.read.parquet(out).collect()
    assert [r.url for r in docs] == ["https://t.example/page"]
    media = {r.url: r for r in spark.read.parquet(media_out).collect()}
    assert set(media) == {
        "https://m.example/a",  # perceptual survivor of the a/b pair
        "https://m.example/c",
        "https://m.example/w",
        "https://m.example/v",
    }
    # re-fetch dedup kept the LATER capture of /c
    assert bytes(media["https://m.example/c"].payload) == bmp_c2
    assert media["https://m.example/w"].kind == "audio"
    assert media["https://m.example/v"].kind == "video"
    manifest = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["media_unique_urls"] == 5
    assert manifest["media_perceptual_pairs"] == 1
    assert manifest["media_perceptual_dropped"] == 1
    assert manifest["documents"] == 1
