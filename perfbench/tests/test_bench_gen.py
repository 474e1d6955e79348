"""Same seed -> byte-identical inputs; another seed -> another corpus."""

import filecmp

from perfbench import gen

# the files a workload reads or checks against
USED = [
    "sf{sf}/pages.parquet",
    "sf{sf}/redirects.parquet",
    "sf{sf}/golden_triples.parquet",
    "sf{sf}/golden_token_counts.parquet",
    "sf{sf}/golden_pair_counts.parquet",
    "sf{sf}/golden_uri_counts.parquet",
    "sf{sf}/golden_mentions.parquet",
    "documents.parquet",
    "curation_oracle.parquet",
    "sizes.json",
] + [f"shards/part-{s:05d}.parquet" for s in range(gen.N_SHARDS)]


def _files(root):
    return [root / f.format(sf=gen.SF) for f in USED]


def test_same_seed_gives_identical_inputs(inputs, tmp_path):
    again = gen.ensure(5, tmp_path, oracle=True)
    for a, b in zip(_files(inputs), _files(again)):
        assert filecmp.cmp(a, b, shallow=False), a.name


def test_other_seed_gives_other_corpus(inputs, tmp_path):
    other = gen.ensure(6, tmp_path, oracle=False)
    for name in ("sf{sf}/pages.parquet", "documents.parquet", "shards/part-00000.parquet"):
        a, b = (d / name.format(sf=gen.SF) for d in (inputs, other))
        assert not filecmp.cmp(a, b, shallow=False), name


def test_shards_partition_the_pages_in_arrival_order(inputs):
    import pyarrow.parquet as pq

    pages = pq.read_table(inputs / f"sf{gen.SF}" / "pages.parquet").column("url").to_pylist()
    shards = sorted((inputs / "shards").iterdir())
    urls = [u for s in shards for u in pq.read_table(s).column("url").to_pylist()]
    assert sorted(urls) == sorted(pages)
    mtimes = [s.stat().st_mtime for s in shards]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_documents_plant_perturbed_copies(inputs):
    import pandas as pd

    docs = pd.read_parquet(inputs / "documents.parquet")
    copies = docs[docs["source"] == "copy"]
    assert len(copies) == int((len(docs) - len(copies)) * gen.COPY_SHARE)
    assert docs["doc_id"].is_unique
    oracle = pd.read_parquet(inputs / gen.ORACLE)
    assert len(oracle) == len(docs)
    # most planted copies are caught as near-duplicates of their page
    assert (oracle.set_index("doc_id").loc[copies["doc_id"], "neardup_keep"] == 0).mean() > 0.5
