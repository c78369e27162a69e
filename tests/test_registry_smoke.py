"""Every registered query must run at the smallest scale factor — the
guard against sf-specific fragility (empty inputs, bounds that assume
bigger fixtures) that the per-query oracle runs at sf0.01 would miss.
The queries are built and counted once, by conftest's ``registry_sweep``."""

from __future__ import annotations

from pyspark.sql.types import DecimalType

from nosql_based_business_intelligence_system_spark.queries.registry import QUERIES


def test_all_queries_run_at_smoke_sf(registry_sweep):
    assert set(registry_sweep) == set(QUERIES)
    failures = [
        f"{name}: {q.error}" for name, q in registry_sweep.items() if q.error
    ]
    assert not failures, failures


def test_no_decimal_in_any_output_schema(registry_sweep):
    """The external driver's hasher normalizes Spark Decimal cells
    differently from DuckDB's — every DECIMAL-typed output column fails
    its hash compare (round-2 verdict: 15/15 hash failures were exactly
    the queries with a DecimalType field). Decimal accumulation is fine
    (and required for order-independent money sums); the OUTPUT schema
    must cast to double. Schema only — the check reads the sweep's
    fields."""
    offenders = []
    for name, q in registry_sweep.items():
        if q.fields is None:
            offenders.append(f"{name}: {q.error}")
            continue
        dec = [f.name for f in q.fields if isinstance(f.dataType, DecimalType)]
        if dec:
            offenders.append(f"{name}: {dec}")
    assert not offenders, (
        "DecimalType in output schema (cast to double at the query "
        f"boundary, both Spark and oracle SQL): {offenders}"
    )
