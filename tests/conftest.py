from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nosql_based_business_intelligence_system_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Core and shuffle-partition counts follow $SPARK_GRAFT_CPUS, as for
    # every other session the engine builds.
    return get_spark(app_name="pytest")


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


@dataclass
class SweptQuery:
    """One registry query built and counted once at the smoke scale factor:
    ``fields`` is None if building failed, ``rows`` None if counting did,
    and ``error`` says which step raised and why."""

    fields: list | None
    rows: int | None
    error: str | None


@pytest.fixture(scope="session")
def registry_sweep(spark, sf_smoke) -> dict[str, SweptQuery]:
    """The one pass over ``__spark_entry__.queries()`` that every registry
    contract test reads: each query is built once, its schema taken, then
    counted, so the contract checks share a single sweep's cost."""
    import __spark_entry__ as entry_mod

    out: dict[str, SweptQuery] = {}
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_smoke)
            fields = df.schema.fields
        except Exception as e:  # noqa: BLE001 - reported by the tests
            out[name] = SweptQuery(None, None, f"build: {e}")
            continue
        try:
            out[name] = SweptQuery(fields, df.count(), None)
        except Exception as e:  # noqa: BLE001 - reported by the tests
            out[name] = SweptQuery(fields, None, f"count: {e}")
    return out
