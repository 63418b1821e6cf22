"""Driver-contract smoke tests for __spark_entry__."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_runs_at_smallest_sf(spark, sf_dir):
    # cheap structural check: every oracle key has a query impl
    qs = E.queries()
    for name in E.oracle_sql():
        assert name in qs, f"oracle without query: {name}"


def test_queries_have_unique_column_names(registry_frames, sf_dir):
    # driver sorts columns by name before hashing — duplicates would break it
    for name in E.queries():
        df = registry_frames.keep(name, sf_dir)
        assert len(df.columns) == len(set(df.columns)), name


def test_registry_count_consistent_across_docs():
    """Key-count drift guard: PARITY.md / SURVEY.md / README.md each
    state the registry size — r5 shipped three different numbers (96,
    96, 98 vs actual 99).  Assert the literal counts in the docs match
    len(queries()) so they cannot drift silently again."""
    n = len(E.queries())
    docs = {
        "PARITY.md": f"{n} registry keys",
        "SURVEY.md": f"{n} keys",
        "README.md": f"{n} queries",
    }
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    for fname, needle in docs.items():
        text = (root / fname).read_text()
        assert needle in text, f"{fname} does not say '{needle}'"
        # and no OTHER stale count of the form '<m> registry keys' etc.
        import re

        for m in re.findall(r"(\d+) (?:registry keys|queries vs DuckDB)", text):
            assert int(m) == n, f"{fname} mentions stale count {m} (actual {n})"


def test_every_registry_key_documented_in_parity():
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    parity = (root / "PARITY.md").read_text()
    missing = [k for k in E.queries() if k not in parity]
    assert not missing, f"PARITY.md missing keys: {missing}"


def test_oracle_sql_covers_every_key():
    """Every queries() key must have an oracle twin (the full-surface
    contract the verdict grades); a key without one silently downgrades
    to a rows-only check."""
    q, o = set(E.queries()), set(E.oracle_sql())
    assert q == o, f"only in queries: {sorted(q - o)}; only in oracle: {sorted(o - q)}"
