"""Per-layer instrumentation for traced passes and the per-layer metrics.

A traced pass runs the same workload code with the public functions of
each layer wrapped (from here, never in the program): each wrapper
opens a span and forces the layer's output at its boundary with
persist + count, so the layer's work lands inside its own span.

The layer each span name belongs to is the part before the first dot.
"""

from __future__ import annotations

import json
import statistics
from contextlib import contextmanager
from pathlib import Path


from perfbench import checks, trace

LAYERS = ["extract", "mentions", "stats", "triples", "tables", "linking", "ingest", "counts", "dedup", "textstats"]
ROUTE_MILLE = 980  # linking.disambiguate_routed's default prior-only threshold


def dir_bytes(path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


@contextmanager
def instrumented(tracer: trace.Tracer):
    """Wrap the layer entry points for the duration of one pass."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter
    from pyspark.storagelevel import StorageLevel

    from pignlproc_spark import tables
    from pignlproc_spark.operators import dedup, linking, stats, textstats, triples
    from pignlproc_spark.plans import pipeline
    from pignlproc_spark.streaming import counts

    held = []  # boundary caches, released when the pass ends

    def force(df):
        df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        tracer.count("rows", df.count())
        return df

    def forced(name, fn):
        def wrapper(*a, **k):
            with tracer.span(name):
                return force(fn(*a, **k))
        return wrapper

    def mentions_from_fused(fn):
        def wrapper(articles, redirects):
            with tracer.span("extract"):
                articles.count()  # fills pipeline.run's persisted parse
            with tracer.span("mentions"):
                return force(fn(articles, redirects))
        return wrapper

    def written(name, fn):
        def wrapper(*a, **k):
            if tracer.current() == "triples.write":  # write_graph's own table write
                return fn(*a, **k)
            with tracer.span(name):
                path = fn(*a, **k)
                tracer.count("bytes", dir_bytes(path))
                return path
        return wrapper

    def append_delta(fn):
        def wrapper(partial_counts, counts_dir, batch_id):
            with tracer.span("counts.append"):
                fn(partial_counts, counts_dir, batch_id)
                tracer.count("bytes", dir_bytes(f"{counts_dir}/delta-{batch_id:08d}"))
                live = len(counts._read_manifest(counts_dir)["live"])
                tracer.max("live_dirs", live)
        return wrapper

    def compact(fn):
        def wrapper(spark, counts_dir, *a, **k):
            with tracer.span("counts.compact"):
                done = fn(spark, counts_dir, *a, **k)
                if done:
                    tracer.count("compactions", 1)
                    base = counts._read_manifest(counts_dir)["live"][0]
                    tracer.count("bytes", dir_bytes(f"{counts_dir}/{base}"))
                return done
        return wrapper

    def jaccard_pairs(fn):
        def wrapper(*a, **k):
            if k.get("pairs") is not None:  # near_duplicates' cached LSH candidates
                tracer.count("candidates", k["pairs"].count())
            return fn(*a, **k)
        return wrapper

    def near_duplicates(fn):
        def wrapper(*a, **k):
            with tracer.span("dedup.candidates"):
                out = fn(*a, **k)
                tracer.count("verified", out.count())
                return out
        return wrapper

    def foreach_batch(fn):
        def wrapper(self, func):
            def traced_batch(df, batch_id):
                with tracer.span("ingest.batch"):
                    with tracer.span("extract"):
                        df = force(df)
                    func(df, batch_id)
            return fn(self, traced_batch)
        return wrapper

    patches = [
        (pipeline, "mentions_from_fused", mentions_from_fused),
        (stats, "pair_counts", lambda f: forced("stats.pair_counts", f)),
        (stats, "uri_counts", lambda f: forced("stats.uri_counts", f)),
        (stats, "sf_total_counts", lambda f: forced("stats.sf_counts", f)),
        (stats, "annotated_sf_counts", lambda f: forced("stats.sf_counts", f)),
        (stats, "token_counts", lambda f: forced("stats.token_counts", f)),
        (triples, "build_triples", lambda f: forced("triples.build", f)),
        (triples, "write_graph", lambda f: written("triples.write", f)),
        (tables, "write_table", lambda f: written("tables.write", f)),
        (linking, "disambiguate", lambda f: forced("linking.decide", f)),
        (linking, "disambiguate_routed", lambda f: forced("linking.decide", f)),
        (counts, "append_delta", append_delta),
        (counts, "compact", compact),
        (counts, "read_counts", lambda f: forced("counts.read", f)),
        (dedup, "near_duplicates", near_duplicates),
        (dedup, "jaccard_pairs", jaccard_pairs),
        (dedup, "dedup_keep_decision", lambda f: forced("dedup.components", f)),
        (textstats, "corpus_filter", lambda f: forced("textstats.filter", f)),
        (textstats, "pack_sequences", lambda f: forced("textstats.pack", f)),
        (DataStreamWriter, "foreachBatch", foreach_batch),
    ]
    originals = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for (obj, attr, wrap), (_, _, orig) in zip(patches, originals):
            setattr(obj, attr, wrap(orig))
        yield
    finally:
        for obj, attr, orig in originals:
            setattr(obj, attr, orig)
        for df in held:
            df.unpersist()


def output_metrics(wl) -> dict:
    """Layer figures read from a finished pass's outputs."""
    if wl.name != "kg_incremental":
        return {}
    stats_root = wl.last / "stats"
    live = sum(
        dir_bytes(stats_root / t / d)
        for t in ("token_counts", "pair_counts", "uri_counts", "sf_counts")
        for d in json.loads((stats_root / t / "_manifest.json").read_text())["live"]
    )
    dec = wl.decisions()
    dec = dec[dec["rank"] == 1]
    per_sf = wl.pair.groupby("surface_form")["cnt"].agg(["size", "max", "sum"])
    per_sf["dominant"] = per_sf["max"] * 1000 // per_sf["sum"] >= ROUTE_MILLE
    joined = dec.merge(per_sf, left_on="surface_form", right_index=True)
    n_gold, n_hit = checks.link_accuracy(dec, wl.golden("golden_mentions"))
    return {
        "live_bytes": live,
        "candidates_per_mention": float(joined["size"].mean()),
        "prior_route_share": float(joined["dominant"].mean()),
        "top1_accuracy": n_hit / n_gold,
    }


def layer_metrics(tracer, engine: dict, walls, traced_walls, outputs: list[dict], batches: list[dict], pages: int) -> dict:
    """The per-layer metric set, every name present on every workload
    (0 where the workload does not run the layer). Busy times are
    shares of the traced pass wall time (self time ÷ pass time);
    ``trace.pass_s`` converts them back to seconds."""
    iters = sorted({s.iteration for s in tracer.spans})
    roots = {s.iteration: s for s in tracer.spans if s.parent is None}
    per_iter = []
    for i in iters:
        st = trace.self_time_by_name(tracer.spans, i)
        wall = roots[i].end - roots[i].start
        per_iter.append({name: t / wall for name, t in st.items()})

    def share(*names):
        return statistics.median(sum(it.get(n, 0.0) for n in names) for it in per_iter)

    c = trace.counts_by_name(tracer.spans)
    per_pass = lambda name, key: c.get(name, {}).get(key, 0) / len(iters)  # noqa: E731
    out_med = lambda key: statistics.median(o.get(key, 0.0) for o in outputs) if outputs else 0.0  # noqa: E731
    m: dict[str, tuple[float, str]] = {}
    m["extract.busy_share"] = (share("extract"), "frac")
    m["extract.pages"] = (pages if any(s.name == "extract" for s in tracer.spans) else 0, "count")
    m["mentions.busy_share"] = (share("mentions"), "frac")
    m["mentions.rows"] = (per_pass("mentions", "rows") or per_pass("extract", "rows"), "count")
    for t in ("pair_counts", "uri_counts", "sf_counts", "token_counts"):
        m[f"stats.{t}_share"] = (share(f"stats.{t}"), "frac")
    m["stats.rows"] = (sum(per_pass(f"stats.{t}", "rows") for t in ("pair_counts", "uri_counts", "sf_counts", "token_counts")), "count")
    m["triples.build_share"] = (share("triples.build"), "frac")
    m["triples.write_share"] = (share("triples.write"), "frac")
    m["triples.bytes_written"] = (per_pass("triples.write", "bytes"), "bytes")
    m["tables.write_share"] = (share("tables.write"), "frac")
    m["tables.bytes_written"] = (per_pass("tables.write", "bytes"), "bytes")
    m["linking.decide_share"] = (share("linking.decide"), "frac")
    m["linking.prior_route_share"] = (out_med("prior_route_share"), "frac")
    m["linking.candidates_per_mention"] = (out_med("candidates_per_mention"), "count")
    m["linking.top1_accuracy"] = (out_med("top1_accuracy"), "frac")
    trig = sum(b["triggerExecution"] for b in batches) or 1
    m["ingest.batches"] = (len(batches) / max(len(walls), 1), "count")
    m["ingest.batch_share"] = (share("ingest.batch"), "frac")
    m["ingest.add_batch_share"] = (sum(b.get("addBatch", 0) for b in batches) / trig, "frac")
    m["ingest.query_planning_share"] = (sum(b.get("queryPlanning", 0) for b in batches) / trig, "frac")
    m["ingest.wal_commit_share"] = (sum(b.get("walCommit", 0) + b.get("commitOffsets", 0) for b in batches) / trig, "frac")
    m["counts.append_share"] = (share("counts.append"), "frac")
    m["counts.compact_share"] = (share("counts.compact"), "frac")
    m["counts.read_share"] = (share("counts.read"), "frac")
    m["counts.compactions"] = (per_pass("counts.compact", "compactions"), "count")
    m["counts.live_dirs_max"] = (max((s.counts.get("live_dirs", 0) for s in tracer.spans), default=0), "count")
    written = per_pass("counts.append", "bytes") + per_pass("counts.compact", "bytes")
    live = out_med("live_bytes")
    m["counts.write_amp"] = (written / live if live else 0.0, "ratio")
    m["dedup.candidates_share"] = (share("dedup.candidates"), "frac")
    m["dedup.components_share"] = (share("dedup.components"), "frac")
    cands = per_pass("dedup.candidates", "candidates")
    m["dedup.candidate_pairs"] = (cands, "count")
    m["dedup.verify_yield"] = (per_pass("dedup.candidates", "verified") / cands if cands else 0.0, "frac")
    m["textstats.filter_share"] = (share("textstats.filter"), "frac")
    m["textstats.pack_share"] = (share("textstats.pack"), "frac")
    for layer in LAYERS:
        groups = [g for name, g in engine.items() if name.split(".")[0] == layer]
        run_s = sum(g["run_s"] for g in groups)
        m[f"{layer}.shuffle_write_bytes"] = (sum(g["shuffle_write_bytes"] for g in groups) / len(iters), "bytes")
        m[f"{layer}.spill_bytes"] = (sum(g["spill_bytes"] for g in groups) / len(iters), "bytes")
        m[f"{layer}.gc_share"] = (sum(g["gc_s"] for g in groups) / run_s if run_s else 0.0, "frac")
        m[f"{layer}.task_skew"] = (max((g["task_skew"] for g in groups), default=0.0), "ratio")
    traced, untraced = statistics.median(traced_walls), statistics.median(walls)
    m["trace.pass_s"] = (traced, "s")
    m["trace.untraced_pass_s"] = (untraced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    # the root span's self time: work between the layer calls
    m["trace.unattributed_share"] = (share(roots[iters[0]].name), "frac")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
