"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() keys
line up, and every callable yields a DataFrame with a stable schema."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) == 10  # Q1: 2 keys + 8 aggregates


def test_oracle_keys_subset_of_queries():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 50
    # rows-only ops are the documented engine-specific ones
    rows_only = set(q) - set(o)
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH")) for s in o.values())
    assert len(rows_only) <= 5, f"too many unverified queries: {rows_only}"


def test_queries_callable_signature(spark):
    q = entry_mod.queries()
    df = q["q_project"](spark, "/root/testdata/sf0.001")
    assert df.columns == ["c_custkey", "c_name", "c_mktsegment"]


def test_query_catalog_matches_registry(capsys):
    """QUERIES.md is generated from the registry docs and must not drift
    from them: after editing a query's doc, regenerate it with
    ``python tools/gen_query_catalog.py > QUERIES.md``."""
    import pathlib
    import runpy

    root = pathlib.Path(__file__).resolve().parents[1]
    runpy.run_path(str(root / "tools" / "gen_query_catalog.py"), run_name="__main__")
    assert capsys.readouterr().out == (root / "QUERIES.md").read_text()
