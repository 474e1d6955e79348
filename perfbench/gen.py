"""Seeded input generator for the benchmark.

Run as its own process (it sets the module-global ``synth.SEED``):

    python3 perfbench/gen.py --seed 3 --out .perfbench/inputs/seed3-sf0.005 [--oracle]

It writes only under ``--out`` (never the repository's ``.synthdata``
cache, whose ``_SUCCESS`` marker ignores the seed) and produces:

- ``sf<SF>/``           the synthetic corpus and its goldens
                        (``synth.generate`` pointed at ``--out``);
- ``shards/part-*.parquet``  the ``kg_incremental`` drop directory: the
                        pages split round-robin into ``N_SHARDS`` files
                        with fixed modification times, so every drain
                        forms the same micro-batches;
- ``documents.parquet`` the curation input: every non-empty
                        page text plus a seeded ~10 % of lightly
                        perturbed copies;
- ``curation_oracle.parquet``  with ``--oracle``: the DuckDB
                        ``docs_curation_pipeline`` oracle verdict over
                        those documents, its LSH pairs Jaccard-verified;
- ``sizes.json``        input sizes (pages, mentions, docs, bytes).

The same seed gives byte-identical files; ``_DONE`` marks a complete
directory, so a later run with the same seed reuses it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
from pathlib import Path

SF = 0.005  # 2,500 pages
N_SHARDS = 4  # one micro-batch per drain at 4 files per trigger
COPY_SHARE = 0.10
MIN_JACCARD_PCT = 80  # dedup.near_duplicates default
SHARD_MTIME0 = 1_700_000_000  # fixed epoch seconds: arrival order = shard order
GEN_FORMAT = "1"  # bump when the derived inputs change shape
ORACLE = "curation_oracle.parquet"

REPO = Path(__file__).resolve().parent.parent


def input_dir(root: str | Path, seed: int) -> Path:
    return Path(root) / f"seed{seed}-sf{SF}"


def complete(out: Path) -> bool:
    done = out / "_DONE"
    return done.exists() and done.read_text().strip() == GEN_FORMAT


def perturb(rng: random.Random, text: str) -> str:
    """A light edit of one token: drop it, double it, or suffix it."""
    toks = text.split(" ")
    j = rng.randrange(len(toks))
    op = rng.randrange(3)
    if op == 0 and len(toks) > 1:
        del toks[j]
    elif op == 1:
        toks.insert(j, toks[j])
    else:
        toks[j] = toks[j] + "s"
    return " ".join(toks)


def documents_frame(pages, seed: int):
    """(doc_id, text, lang, source, n_chars): page texts + planted copies."""
    import pandas as pd

    base = pages[pages["text"].str.strip() != ""].reset_index(drop=True)
    rng = random.Random(f"{seed}:perfbench:copies")
    n = len(base)
    picks = [rng.randrange(n) for _ in range(int(n * COPY_SHARE))]
    texts = list(base["text"]) + [perturb(rng, base["text"][i]) for i in picks]
    langs = list(base["lang"]) + [base["lang"][i] for i in picks]
    sources = ["page"] * n + ["copy"] * len(picks)
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts, "lang": langs, "source": sources})
    docs["doc_id"] = docs["doc_id"].astype("int64")
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs


def curation_oracle_sql(min_jaccard_pct: int) -> str:
    """The DuckDB ``docs_curation_pipeline`` oracle of
    ``__spark_entry__.oracle_sql()`` with its
    LSH candidate pairs verified by exact token-set Jaccard, as
    ``dedup.near_duplicates`` verifies them (the stock oracle keeps
    every candidate). The token sets use the same SQL tokenizer as the
    ``docs_jaccard_pairs`` oracle."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    # oracle_sql() resolves every synth golden path; this query
    # reads only the documents view, so point the resolver at paths
    # that are never opened instead of generating .synthdata
    entry._syn_path = lambda name: f"unused-{name}.parquet"
    sql = entry.oracle_sql()["docs_curation_pipeline"]
    tok = entry._tok_sql("text", stop=False)
    inter = "len(list_intersect(a.tok, b.tok))"
    verified = f"""pairs AS (
      SELECT id_a, id_b FROM lsh_pairs l
      JOIN toks a ON a.doc_id = l.id_a JOIN toks b ON b.doc_id = l.id_b
      WHERE {inter} * 100 >= (len(a.tok) + len(b.tok) - {inter}) * {min_jaccard_pct}
    )"""
    edits = [
        ("pairs AS (", "lsh_pairs AS ("),
        ("),\n    sym AS (", f"),\n    toks AS (SELECT doc_id, list_distinct({tok}) AS tok FROM documents),\n"
         f"    {verified},\n    sym AS ("),
    ]
    for old, new in edits:
        if old not in sql:
            raise RuntimeError(f"docs_curation_pipeline oracle changed shape near {old!r}")
        sql = sql.replace(old, new, 1)
    return sql


def curation_oracle(docs_path: Path, out_path: Path) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        sql = curation_oracle_sql(MIN_JACCARD_PCT)
        con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY doc_id) TO '{out_path}' (FORMAT PARQUET)")
    finally:
        con.close()


def generate(seed: int, out: Path) -> Path:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, str(REPO))
    from pignlproc_spark import synth

    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    synth.SEED = seed
    sf_dir = synth.generate(SF, root=out, force=True)

    pages = pq.read_table(sf_dir / "pages.parquet")
    shards = out / "shards"
    shards.mkdir()
    idx = pa.array(range(pages.num_rows)).to_numpy() % N_SHARDS
    for s in range(N_SHARDS):
        path = shards / f"part-{s:05d}.parquet"
        pq.write_table(pages.filter(pa.array(idx == s)), path, row_group_size=2000)
        os.utime(path, (SHARD_MTIME0 + s, SHARD_MTIME0 + s))

    docs = documents_frame(pages.select(["text", "lang"]).to_pandas(), seed)
    docs_path = out / "documents.parquet"
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), docs_path, row_group_size=2000)

    mentions = pd.read_parquet(sf_dir / "golden_mentions.parquet", columns=["cnt"])["cnt"].sum()
    sizes = {
        "seed": seed,
        "sf": SF,
        "pages": pages.num_rows,
        "pages_bytes": (sf_dir / "pages.parquet").stat().st_size,
        "mentions": int(mentions),
        "shards": N_SHARDS,
        "docs": len(docs),
        "planted_copies": int((docs["source"] == "copy").sum()),
        "docs_bytes": docs_path.stat().st_size,
    }
    (out / "sizes.json").write_text(json.dumps(sizes, sort_keys=True) + "\n")
    (out / "_DONE").write_text(GEN_FORMAT + "\n")
    return out


def ensure(seed: int, root: Path, oracle: bool) -> Path:
    """The input directory for ``seed``, generated in a child process
    unless a complete one exists; ``oracle`` also needs the curation
    oracle verdict (computed once per seed, only for a workload that
    curates)."""
    import subprocess

    out = input_dir(root, seed)
    if not complete(out) or (oracle and not (out / ORACLE).exists()):
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--seed", str(seed), "--out", str(out)]
            + (["--oracle"] if oracle else []),
            check=True,
            stdout=subprocess.DEVNULL,
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--oracle", action="store_true", help="also compute the curation oracle verdict")
    args = ap.parse_args(argv)
    out = Path(args.out)
    if not complete(out):
        generate(args.seed, out)
    if args.oracle and not (out / ORACLE).exists():
        tmp = out / f"{ORACLE}.tmp"
        curation_oracle(out / "documents.parquet", tmp)
        tmp.rename(out / ORACLE)
    return 0


if __name__ == "__main__":
    sys.exit(main())
