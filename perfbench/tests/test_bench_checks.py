"""Each workload's output check passes on reference-equal outputs and
rejects a planted mismatch."""

import shutil

import pandas as pd
import pytest

from perfbench import checks, workloads


def _write(df, path, **kw):
    path.parent.mkdir(parents=True, exist_ok=True)
    df.to_parquet(path, index=False, **kw)


@pytest.fixture
def build(inputs, tmp_path):
    wl = workloads.KgBuild(None, inputs, tmp_path)
    wl.last = tmp_path / "out"
    _write(wl.golden("golden_triples"), wl.last / "graph" / "triples", partition_cols=["pred"])
    _write(wl.golden("golden_token_counts"), wl.last / "stats" / "token_counts" / "part-0.parquet")
    return wl


def test_kg_build_check(build):
    assert build.check() == []
    tc = build.golden("golden_token_counts")
    tc.loc[0, "cnt"] += 1
    _write(tc, build.last / "stats" / "token_counts" / "part-0.parquet")
    assert any("token_counts" in p for p in build.check())


def test_kg_build_check_missing_triple(build):
    t = build.golden("golden_triples").iloc[1:]
    shutil.rmtree(build.last / "graph" / "triples")
    _write(t, build.last / "graph" / "triples", partition_cols=["pred"])
    assert any(p.startswith("triples") for p in build.check())


@pytest.fixture
def incremental(inputs, tmp_path):
    wl = workloads.KgIncremental(None, inputs, tmp_path)
    wl.last = tmp_path / "out"
    wl.pair = wl.golden("golden_pair_counts")
    wl.uris = wl.golden("golden_uri_counts")
    m = wl.golden("golden_mentions")
    _write(m[["url", "context", "surface_form"]], wl.last / "facts" / "batch=0" / "part-0.parquet")
    ids = [checks.mention_id(*r) for r in m[["url", "context", "surface_form"]].drop_duplicates().itertuples(index=False)]
    dec = pd.DataFrame({"mention_id": ids, "uri": "u", "rank": 1, "surface_form": "s"})
    _write(dec, wl.last / "facts_decisions" / "batch=0" / "part-0.parquet")
    return wl


def test_kg_incremental_check(incremental):
    assert incremental.check() == []
    incremental.uris = incremental.uris.iloc[1:]
    assert any(p.startswith("uri_counts") for p in incremental.check())


def test_kg_incremental_check_duplicate_decision(incremental):
    dec = incremental.decisions()
    _write(pd.concat([dec, dec.iloc[:1]]), incremental.last / "facts_decisions" / "batch=0" / "part-0.parquet")
    assert any("more than once" in p for p in incremental.check())


def test_link_accuracy_counts_gold_hits():
    gold = pd.DataFrame({"url": ["a", "a", "b"], "context": ["c", "c", "d"],
                         "surface_form": ["x", "x", "y"], "uri": ["U1", "U2", "U3"]})
    dec = pd.DataFrame({"mention_id": [checks.mention_id("a", "c", "x"), checks.mention_id("b", "d", "y")],
                        "uri": ["U1", "U9"], "rank": [1, 1]})
    # mention a/c/x has two gold uris: both pairs count, one is hit
    assert checks.link_accuracy(dec, gold) == (3, 1)


@pytest.fixture
def curate(inputs, tmp_path):
    wl = workloads.CorpusCurate(None, inputs, tmp_path)
    wl.last = tmp_path / "out"
    oracle = pd.read_parquet(inputs / "curation_oracle.parquet")
    _write(oracle, wl.last / "curation" / "verdict" / "part-0.parquet")
    _write(oracle.loc[oracle["keep"] == 1, ["doc_id"]], wl.last / "curation" / "packing" / "part-0.parquet")
    return wl, oracle


def test_corpus_curate_check(curate):
    wl, oracle = curate
    assert wl.check() == []
    flipped = oracle.copy()
    i = flipped.index[flipped["keep"] == 1][0]
    flipped.loc[i, ["neardup_keep", "keep"]] = 0
    _write(flipped, wl.last / "curation" / "verdict" / "part-0.parquet")
    assert any(p.startswith("curation verdict") for p in wl.check())


def test_kg_build_curate_check_covers_both_halves(build, curate, inputs, tmp_path):
    wl = workloads.KgBuildCurate(None, inputs, tmp_path)
    wl.parts = [build, curate[0]]
    assert wl.check() == []
    packed = curate[1].loc[curate[1]["keep"] == 1, ["doc_id"]].iloc[1:]
    _write(packed, curate[0].last / "curation" / "packing" / "part-0.parquet")
    assert any(p.startswith("packing") for p in wl.check())


def test_same_rows_is_a_multiset_comparison():
    a = pd.DataFrame({"k": ["x", "x", "y"], "n": [1, 1, 2]})
    assert checks.same_rows("t", a, a.iloc[::-1], ["k", "n"]) == []
    assert checks.same_rows("t", a, a.iloc[1:], ["k", "n"])
    assert checks.same_rows("t", a.drop(columns="n"), a, ["k", "n"])
