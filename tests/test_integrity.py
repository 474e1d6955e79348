"""Data-integrity helpers of the training hand-off: the leakage-safe host
split (functions/urls.host_split) and the vocabulary-profile stats
(textstats.count_of_counts / vocab_growth) — hand-computed fixtures."""

import hashlib

import pytest

from pignlproc_spark.functions.urls import host_split
from pignlproc_spark.operators import textstats


def _bucket(host: str) -> int:
    return int(hashlib.md5(host.encode()).hexdigest()[:4], 16) % 100


def test_host_split_is_host_pure(spark):
    pages = spark.createDataFrame(
        [(f"https://h{i % 7}.example/p/{i}",) for i in range(40)], "url string"
    )
    rows = host_split(pages).collect()
    assert len(rows) == 7 and sum(r.n_pages for r in rows) == 40
    for r in rows:
        b = _bucket(r.host)
        assert r.bucket == b
        assert r.split == ("train" if b < 80 else "valid" if b < 90 else "test")
    # custom percents move the boundaries, same hash
    strict = {r.host: r.split for r in host_split(pages, train_pct=1, valid_pct=0).collect()}
    assert all(s == ("train" if _bucket(h) < 1 else "test") for h, s in strict.items())
    with pytest.raises(ValueError):
        host_split(pages, train_pct=95, valid_pct=10)


def test_count_of_counts_good_turing(spark):
    docs = spark.createDataFrame([(0, "a a a b b c")], "doc_id long, text string")
    rows = {r.r: r for r in textstats.count_of_counts(docs).collect()}
    assert {(r.r, r.n_r) for r in rows.values()} == {(1, 1), (2, 1), (3, 1)}
    assert rows[1].r_star_q == 2000  # (1+1)*n_2*1000 // n_1
    assert rows[2].r_star_q == 3000
    assert rows[3].r_star_q is None  # no n_4: adjustment undefined


def test_vocab_growth_curve(spark):
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "b d"), (3, "")], "doc_id long, text string"
    )
    rows = sorted(textstats.vocab_growth(docs, bucket_docs=2).collect(), key=lambda r: r.bucket)
    assert [(r.bucket, r.n_tokens, r.new_types, r.cum_types, r.cum_tokens) for r in rows] == [
        (0, 4, 3, 3, 4),
        (1, 2, 1, 4, 6),
    ]
