"""Driver-contract consistency (no Spark needed): every oracle key
must name a real query — a typo'd key would otherwise silently demote
that query to a rows-only check — and the documented counts must
match reality so BASELINE.md / README / the verify skill stay honest."""

import re

import __spark_entry__ as e

EXPECTED_ROWS_ONLY = {
    "media_features",
    "ner_opennlp_sentences",
    "kg_entity_pagerank",
}


def test_oracle_keys_subset_of_queries():
    q = set(e.queries())
    o = set(e.oracle_sql())
    assert o <= q, f"dangling oracle keys: {sorted(o - q)}"
    assert q - o == EXPECTED_ROWS_ONLY, (
        "rows-only set drifted; update EXPECTED_ROWS_ONLY + the "
        f"documented counts: {sorted(q - o)}"
    )


def test_documented_counts_match():
    n_q, n_o = len(e.queries()), len(e.oracle_sql())
    claim = f"{n_q}/{n_q} expected ({n_o} oracle-exact + {n_q - n_o} rows-only)"
    skill = open(".claude/skills/verify/SKILL.md").read()
    assert claim in skill, f"verify SKILL.md count line != {claim}"
    baseline = open("BASELINE.md").read()
    assert re.search(
        rf"\*\*{n_q}/{n_q} driver checks — {n_o} oracle-exact \+ {n_q - n_o} rows-only",
        baseline,
    ), f"BASELINE.md header count != {n_q}/{n_o}"
    readme = open("README.md").read()
    assert f"`queries()` ({n_q} operators) and `oracle_sql()` ({n_o} DuckDB oracles;" in readme, (
        f"README.md driver-contract counts != {n_q}/{n_o}"
    )
