"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads as W  # noqa: E402
from datagen import TABLES  # noqa: E402
from spans import Tracer  # noqa: E402


def test_same_seed_gives_same_operation_sequence():
    for w in W.WORKLOADS:
        assert W.plan(w, 7, 6) == W.plan(w, 7, 6)
    assert W.plan("corpus_batch", 7, 6) != W.plan("corpus_batch", 8, 6)
    for ops in W.plan("corpus_batch", 3, 6):
        assert sorted(ops) == sorted(W.CORPUS_OPS)
    for ops in W.plan("etl_export", 3, 6):
        assert tuple(ops) in W.ETL_ORDERS


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_corpus_is_byte_identical_across_generations(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    W.build_corpus(a)
    W.build_corpus(b)
    fa, fb = _files(a), _files(b)
    assert sorted(fa) == sorted(f"{t}.parquet" for t in TABLES)
    assert fa == fb


def _bench(workload: str, trace: int) -> run.Bench:
    args = argparse.Namespace(workload=workload, seed=1, seconds=1, trace=trace)
    b = run.Bench(args, "unused", {"enriched_rows": 10, "input_rows": {}})
    passes = [W.PassResult(traced=bool(trace) and i % 2 == 0) for i in range(4)]
    for p in passes:
        p.ops = [W.OpResult(f"op{i}", latency=0.5 + i / 10, cpu=0.8 + i / 10, input_rows=10) for i in range(4)]
        p.wall = 3.0
    b.passes = passes
    b.setup_s, b.peak_rss_mb, b.get_spark_s, b.tables_load_s = 9.0, 900.0, 4.0, 0.5
    b.cpus, b.shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "4")), 4
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(b.cpus))
    b.tracer = Tracer(True)
    with b.tracer.span("op", op_id="p1.0.x"):
        with b.tracer.span("queries.build"):
            pass
    b.task_ms = [[1.0, 3.0], [2.0]]
    return b


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        for w in W.WORKLOADS:
            printed = _bench(w, trace).result()["metrics"]
            assert {k: v["unit"] for k, v in printed.items()} == declared
            assert all(isinstance(v["value"], (int, float)) for v in printed.values())
