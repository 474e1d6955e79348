"""Output checks: each compares what a workload wrote with an
independent reference and returns a list of problems (empty = pass).

References: ``kg_build`` and ``kg_incremental`` against the goldens
that ``synth`` derives from the page plans, not from the extractor;
``corpus_curate`` against a DuckDB oracle. The checks take pandas
frames so they run without Spark.
"""

from __future__ import annotations

import hashlib

import pandas as pd

US = "\u001f"  # linking.US: the mention-id key separator


def _rows(df: pd.DataFrame, cols: list[str]) -> pd.Series:
    """Row multiset of ``cols`` as value counts over string tuples."""
    keyed = df[cols].astype(str).agg(US.join, axis=1) if len(df) else pd.Series([], dtype=str)
    return keyed.value_counts()


def same_rows(name: str, actual: pd.DataFrame, expected: pd.DataFrame, cols: list[str]) -> list[str]:
    """Problems if ``actual`` and ``expected`` differ as multisets of rows."""
    missing = set(cols) - set(actual.columns)
    if missing:
        return [f"{name}: missing columns {sorted(missing)}"]
    diff = _rows(actual, cols).sub(_rows(expected, cols), fill_value=0)
    diff = diff[diff != 0]
    if diff.empty:
        return []
    sample = "; ".join(f"{k!r}: {int(v):+d}" for k, v in diff.head(3).items())
    return [f"{name}: {len(actual)} rows vs {len(expected)} expected, {len(diff)} keys differ ({sample})"]


def mention_id(url: str, context: str, surface_form: str) -> str:
    """linking.mention_id_col computed outside Spark."""
    parts = ["" if v is None else v for v in (url, context, surface_form)]
    return hashlib.md5(US.join(parts).encode("utf-8")).hexdigest()


def one_decision_per_mention(decisions: pd.DataFrame, facts: pd.DataFrame) -> list[str]:
    """Every distinct (url, context, surface_form) fact is decided exactly once."""
    want = {mention_id(*r) for r in facts[["url", "context", "surface_form"]].itertuples(index=False)}
    got = decisions["mention_id"]
    problems = []
    if got.duplicated().any():
        problems.append(f"decisions: {int(got.duplicated().sum())} mentions decided more than once")
    if set(got) != want:
        problems.append(
            f"decisions: {len(want - set(got))} mentions undecided, {len(set(got) - want)} unknown ids"
        )
    return problems


def link_accuracy(decisions: pd.DataFrame, golden_mentions: pd.DataFrame) -> tuple[int, int]:
    """(n_gold, n_hit): distinct gold (mention, uri) pairs with a top-1
    decision, and how many of those decisions name the gold uri."""
    gold = golden_mentions[["url", "context", "surface_form", "uri"]].drop_duplicates()
    gold = pd.DataFrame({
        "mention_id": [mention_id(*r) for r in gold[["url", "context", "surface_form"]].itertuples(index=False)],
        "gold_uri": gold["uri"].to_numpy(),
    })
    top1 = decisions.loc[decisions["rank"] == 1, ["mention_id", "uri"]]
    j = gold.merge(top1, on="mention_id")
    return len(j), int((j["uri"] == j["gold_uri"]).sum())
