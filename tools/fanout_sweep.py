"""Routed-disambiguation fan-out sweep (VERDICT r4 #7): measure the
routed-vs-full wall-clock curve as the candidate fan-out of contested
surfaces grows to web-anchor shape.

The synthetic KG corpus's surfaces carry few candidates, so the
round-4 routed measurement (1.04-1.10x) under-states the design's win
term — the contested-path cost that scales with candidate fan-out
(every extra candidate multiplies the evidence join's
(mention, uri, token) rows). This harness plants a web-shaped anchor
dictionary directly: a bimodal top-share distribution (easy surfaces
~999/1000 dominant; contested surfaces Zipf over F candidates, top
share ~ 1/H_F), mentions Zipf-allocated with an easy share matching
the routed fraction web anchors show, and a token profile per
candidate URI. Everything is deterministic (seeded) and built outside
the timed region; only disambiguate vs disambiguate_routed is timed
(cold + min-warm of N runs).

Usage: python tools/fanout_sweep.py
Env: SWEEP_CPUS (8), SWEEP_MENTIONS (60000), SWEEP_FANOUTS
(4,32,128,512), SWEEP_REPEAT (3). Prints one JSON line per fan-out;
the measured table lives in BASELINE.md "Routed disambiguation
fan-out sweep". NEVER run while anything else is benchmarking.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EASY_SF = 800
N_HARD_SF = 200
EASY_MENTION_SHARE = 0.85  # mention mass on dominant-anchor surfaces
PROFILE_TOKENS = 8
CONTEXT_TOKENS = 15
VOCAB = 5000


def build_tables(spark, fanout: int, n_mentions: int):
    rng = random.Random(f"fanout:{fanout}")
    pair_rows = []
    uris = []
    for s in range(N_EASY_SF):
        # web-anchor shape: a DOMINANT sense plus a long tail of rare
        # ones — top share ~999/1000 (routed to the prior path), but
        # the full model still scores every tail candidate for every
        # mention; this is the term that explodes with fan-out
        sf = f"easy{s}"
        pair_rows.append((sf, f"u_e{s}_0", 1000 * fanout))
        uris.append(f"u_e{s}_0")
        for i in range(1, fanout):
            u = f"u_e{s}_{i}"
            pair_rows.append((sf, u, 1))
            uris.append(u)
    for s in range(N_HARD_SF):
        sf = f"hard{s}"
        for i in range(fanout):
            u = f"u_h{s}_{i}"
            pair_rows.append((sf, u, max(1, 1000 // (i + 1))))  # Zipf priors
            uris.append(u)
    tok_rows = []
    for u in uris:
        base = rng.randrange(VOCAB)
        for j in range(PROFILE_TOKENS):
            tok_rows.append((u, f"t{(base + 7 * j) % VOCAB}", 5))
    m_rows = []
    n_easy_m = int(n_mentions * EASY_MENTION_SHARE)
    for i in range(n_mentions):
        if i < n_easy_m:
            sf = f"easy{int(rng.paretovariate(1.2)) % N_EASY_SF}"
        else:
            sf = f"hard{int(rng.paretovariate(1.2)) % N_HARD_SF}"
        ctx = " ".join(f"t{rng.randrange(VOCAB)}" for _ in range(CONTEXT_TOKENS))
        m_rows.append((f"https://x.example/{i}", ctx, sf))
    pc = spark.createDataFrame(pair_rows, "surface_form string, uri string, cnt long")
    tc = spark.createDataFrame(tok_rows, "uri string, token string, cnt long")
    m = spark.createDataFrame(m_rows, "url string, context string, surface_form string")
    cpus = spark.sparkContext.defaultParallelism
    return (
        pc.repartition(cpus).persist(),
        tc.repartition(cpus).persist(),
        m.repartition(cpus).persist(),
    )


def main():
    from pignlproc_spark.operators import linking
    from pignlproc_spark.session import get_session

    cpus = int(os.environ.get("SWEEP_CPUS", "8"))
    n_mentions = int(os.environ.get("SWEEP_MENTIONS", "60000"))
    fanouts = [int(x) for x in os.environ.get("SWEEP_FANOUTS", "4,32,128,512").split(",")]
    repeat = int(os.environ.get("SWEEP_REPEAT", "3"))
    spark = get_session(app_name="fanout-sweep", cpus=cpus)
    for fo in fanouts:
        pc, tc, m = build_tables(spark, fo, n_mentions)
        for df in (pc, tc, m):
            df.count()  # materialize inputs outside the timed region

        def timed(fn):
            fn()  # untimed warm-up: codegen/plan compile billed to neither side
            runs = []
            for _ in range(repeat):
                t0 = time.time()
                fn()
                runs.append(round(time.time() - t0, 3))
            return {"first": runs[0], "best": round(min(runs), 3)}

        full = timed(lambda: linking.disambiguate(m, pc, tc, k=1).count())
        routed = timed(lambda: linking.disambiguate_routed(m, pc, tc, k=1).count())
        n_routed = (
            linking.disambiguate_routed(m, pc, tc, k=1)
            .where("route = 'prior'")
            .count()
        )
        print(
            json.dumps(
                {
                    "fanout": fo,
                    "mentions": n_mentions,
                    "full": full,
                    "routed": routed,
                    "speedup": round(full["best"] / routed["best"], 2),
                    "routed_prior_frac": round(n_routed / n_mentions, 3),
                    "cpus": cpus,
                }
            ),
            flush=True,
        )
        for df in (pc, tc, m):
            df.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
