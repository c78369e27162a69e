"""Vector math over ``array<float>`` embedding columns.

Pure Column expressions (JVM-side fold): bit-comparable with the DuckDB
oracle (list_inner_product over DOUBLE[] folds in the same order), fine
when evaluated once per row or on small candidate sets.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _idx(name: str, i: int) -> str:
    return f"`{name}`[{i}]"


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Inner product. With ``dim`` given, the fold is UNROLLED into a
    left-associated addition chain of ``getItem`` terms — bit-identical
    doubles (same seed, same summation order as the aggregate fold and
    as DuckDB's ``list_inner_product``) but whole-stage-codegen
    arithmetic instead of an interpreted per-element lambda: measured
    ~25x on the sf10 IVF assignment (470s -> 18s). Higher-order
    functions are CodegenFallback, so on O(rows x K) hot paths the
    interpreted fold IS the cost. ``dim`` must equal the true array
    length (shorter arrays yield NULL terms -> NULL result, where the
    fold would sum the existing elements).

    Pass ``a``/``b`` as column NAMES when using ``dim``: the chain is
    then built as ONE ``F.expr`` string parsed JVM-side. Building it
    term-by-term in Python costs ~4 py4j round-trips per element — ~2s
    of DRIVER time per call site at dim=64, which at bench scale undid
    the executor win (measured: ann_ivf_topk 1.2s -> 3.3s). SQL ``+``
    is left-associative, ``arr[i]`` is 0-based getItem, and the chain
    seeds with ``0.0D`` exactly like the fold's init — same tree, same
    bits, one round-trip."""
    if dim is None:
        return F.aggregate(
            F.zip_with(_col(a), _col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    if isinstance(a, str) and isinstance(b, str):
        terms = " + ".join(f"{_idx(a, i)} * {_idx(b, i)}" for i in range(dim))
        return F.expr(f"0.0D + {terms}" if dim else "0.0D")
    expr = F.lit(0.0)
    for i in range(dim):
        expr = expr + _col(a)[i] * _col(b)[i]
    return expr


def norm(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    d = norm(a, dim) * norm(b, dim)
    return F.when(d > 0, dot(a, b, dim) / d)


def euclidean(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Euclidean distance; see :func:`dot` for the ``dim`` fast path and
    the name-based single-``F.expr`` construction rationale."""
    if dim is None:
        diff = F.zip_with(_col(a), _col(b), lambda x, y: x - y)
        return F.sqrt(
            F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
        )
    if isinstance(a, str) and isinstance(b, str):
        terms = " + ".join(
            f"({_idx(a, i)} - {_idx(b, i)}) * ({_idx(a, i)} - {_idx(b, i)})"
            for i in range(dim)
        )
        return F.sqrt(F.expr(f"0.0D + {terms}" if dim else "0.0D"))
    expr = F.lit(0.0)
    for i in range(dim):
        d = _col(a)[i] - _col(b)[i]
        expr = expr + d * d
    return F.sqrt(expr)


# DuckDB twins (embedding columns arrive as FLOAT[]; cast first) ------------


def dd_vec(expr: str) -> str:
    return f"CAST({expr} AS DOUBLE[])"


def dd_cosine(a: str, b: str) -> str:
    """Manual cosine (inner products), matching the Spark fold exactly."""
    return (
        f"(list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))))"
    )
