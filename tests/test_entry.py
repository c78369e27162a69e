"""Driver-contract smoke tests: entry() runs, every registered query returns
a DataFrame with rows at sf0.001, oracle keys are a subset of query keys.
The queries are built and counted once, by conftest's ``registry_sweep``."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns and "fin_month_label" in df.columns


def test_registry_contract(registry_sweep):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 9
    assert set(registry_sweep) == set(qs)
    failures = []
    for name, q in registry_sweep.items():
        if q.fields is None:
            failures.append(f"{name}: {q.error}")
            continue
        # column names must be oracle-friendly (no dots/spaces/parens)
        bad = [f.name for f in q.fields if not f.name.replace("_", "a").isalnum()]
        if bad:
            failures.append(f"{name}: oracle-unfriendly column names {bad}")
    assert not failures, failures


def test_all_queries_nonempty_at_smoke_sf(registry_sweep):
    failures = [
        f"{name}: {q.error}" for name, q in registry_sweep.items() if q.rows is None
    ]
    assert not failures, failures
    for name, q in registry_sweep.items():
        assert q.rows >= 0, name
