"""spark-submit entrypoint: full KG construction over a pages table.

Cluster usage (BASELINE.json:6 "ships via spark-submit --py-files"):

    python tools/package.py   # -> dist/pignlproc_spark.zip
    spark-submit \\
      --py-files dist/pignlproc_spark.zip \\
      [--packages <iceberg runtime> --conf spark.sql.catalog.kg=... \\
       --conf spark.pignlproc.catalog=kg] \\
      jobs/build_kg.py \\
      --pages /data/pages_parquet_or_table \\
      --redirects /data/redirects \\
      --out warehouse_root_or_catalog_prefix \\
      --checkpoint /data/ckpt

Local smoke: python jobs/build_kg.py --synth-sf 0.01 --out /tmp/kg_out

The session is created by spark-submit on a cluster (this script only
fills missing confs via get_session when run standalone). Stage
checkpointing + lineage make the job resumable after driver loss:
re-submit with the same --checkpoint and completed stages are skipped
(fingerprint embeds the input identity passed via --snapshot-id).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow running from a checkout without installation (spark-submit
# --py-files puts the package on the path on a cluster)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet path or catalog table")
    ap.add_argument(
        "--warc",
        help="replay canonical pages straight from .warc.gz archive(s) "
        "(per-record gzip members, the Common Crawl layout) at this "
        "path/glob instead of --pages",
    )
    ap.add_argument("--redirects", help="redirects dimension parquet path/table")
    ap.add_argument("--synth-sf", type=float, help="use the synthetic corpus at this scale factor instead")
    ap.add_argument("--out", required=True, help="output warehouse root (or catalog prefix)")
    ap.add_argument("--checkpoint", help="checkpoint root for resumable stages")
    ap.add_argument("--snapshot-id", default="", help="input snapshot/commit id for the resume fingerprint")
    ap.add_argument("--write-tsv", action="store_true", help="also emit reference-style TSV count tables")
    ap.add_argument(
        "--link-decisions",
        action="store_true",
        help="also run Spotlight-style disambiguation and write the top-1 link decision per mention",
    )
    ap.add_argument(
        "--route-ambiguity",
        type=int,
        default=980,
        metavar="MILLE",
        help="link decisions: surfaces whose top candidate owns >= MILLE/1000 of the "
        "anchor mass take the prior-only fast path (no tokenization/evidence join/"
        "top-1 aggregate — the per-mention term that dominates at web scale); "
        "contested surfaces run the full context model. 1001+ disables routing "
        "(every mention through the full model). Measured accuracy-neutral at the "
        "980 default on the synthetic corpus",
    )
    ap.add_argument(
        "--graph-stats",
        action="store_true",
        help="also emit entity co-occurrence and PageRank-salience tables",
    )
    ap.add_argument(
        "--link-prediction",
        action="store_true",
        help="also emit top-k missing-edge candidates (resource-allocation index) "
        "over the co-occurrence graph",
    )
    ap.add_argument(
        "--max-hub-deg",
        type=int,
        default=10_000,
        help="link prediction: skip co-occurrence hubs above this degree as wedge "
        "intermediaries (the deg(z)^2 fanout guard — at web scale a 1e5-degree hub "
        "otherwise enumerates 1e10 wedges whose RA weight is <= 10/hub anyway). "
        "Dropped pairs are exactly those witnessed ONLY by hubs. 0 = exact/unbounded "
        "(oracle mode; safe at moderate scale only)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pignlproc_spark import tables
    from pignlproc_spark.checkpoint import CheckpointManager
    from pignlproc_spark.operators import triples as T
    from pignlproc_spark.plans import pipeline
    from pignlproc_spark.session import codegen_compiles, get_session

    spark = SparkSession.getActiveSession() or get_session(app_name="build-kg")
    ckpt = CheckpointManager(args.checkpoint) if args.checkpoint else None

    t0, compiles0 = time.time(), codegen_compiles(spark)
    if args.synth_sf is not None:
        res = pipeline.run_synth(spark, f"sf{args.synth_sf}", ckpt=ckpt)
    else:
        if not (args.pages or args.warc) or not args.redirects:
            ap.error("--pages (or --warc) and --redirects required without --synth-sf")
        if args.warc:
            from pignlproc_spark.sources.warc import warc_gz_to_pages

            pages, src = warc_gz_to_pages(spark, args.warc), args.warc
        else:
            pages, src = tables.read_path_or_table(spark, args.pages), args.pages
        red = tables.read_path_or_table(spark, args.redirects)
        res = pipeline.run(
            spark, pages, red, ckpt=ckpt, source_id=f"{src}@{args.snapshot_id}"
        )

    graph_path = T.write_graph(res.triples, name="graph/triples", root=args.out)
    # count the WRITTEN table, never re-execute the five-way triple
    # union: local parquet reads back by path; a catalog identifier
    # (Iceberg gate) or relative path reads back via spark.table /
    # a relative parquet read before falling back
    try:
        n = (
            spark.read.parquet(graph_path).count()
            if "/" in graph_path or graph_path.startswith(".")
            else spark.table(graph_path).count()
        )
    except Exception:
        n = res.triples.count()
    outputs = {"triples": graph_path}
    if args.link_decisions:
        from pignlproc_spark.operators import linking

        if args.route_ambiguity <= 1000:
            decisions = linking.disambiguate_routed(
                res.mentions,
                res.pair_counts,
                res.token_counts,
                k=1,
                top_share_threshold_mille=args.route_ambiguity,
            )
        else:
            decisions = linking.disambiguate(res.mentions, res.pair_counts, res.token_counts, k=1)
        outputs["link_decisions"] = tables.write_table(decisions, "stats/link_decisions", root=args.out)
    if args.graph_stats or args.link_prediction:
        from pignlproc_spark.operators import stats as S

        # persist: the quadratic co-occurrence self-join feeds the table
        # write, (twice, internally) the PageRank build, and the
        # link-prediction wedge enumeration
        cooc = S.entity_cooccurrence(res.mentions, max_entities_per_page=512).persist()
        if args.graph_stats:
            outputs["cooccurrence"] = tables.write_table(cooc, "stats/cooccurrence", root=args.out)
            pr = S.entity_pagerank(res.mentions, cooc=cooc)
            outputs["pagerank"] = tables.write_table(pr, "stats/pagerank", root=args.out)
        if args.link_prediction:
            lp = S.link_prediction(
                res.mentions,
                cooc=cooc,
                max_hub_deg=args.max_hub_deg if args.max_hub_deg > 0 else None,
            )
            outputs["link_prediction"] = tables.write_table(lp, "stats/link_prediction", root=args.out)
        cooc.unpersist()
    for name, df in (
        ("pair_counts", res.pair_counts),
        ("uri_counts", res.uri_counts),
        ("sf_total_counts", res.sf_total_counts),
        ("token_counts", res.token_counts),
    ):
        outputs[name] = tables.write_table(df, f"stats/{name}", root=args.out)
        if args.write_tsv:
            tables.write_tsv(df, f"{args.out}/tsv/{name}")

    wall = time.time() - t0
    report = {
        "triples": n,
        "wall_s": round(wall, 1),
        "triples_per_sec": round(n / wall, 1),
        # generated classes compiled during this run: near zero when the
        # same session already ran these plans (codegen cache hits)
        "codegen_compiles": codegen_compiles(spark) - compiles0,
        "outputs": outputs,
    }
    print(json.dumps(report))
    res.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
