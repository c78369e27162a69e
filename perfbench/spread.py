"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py corpus_batch etl_export --seeds 1-10 [--trace 0]

For every workload and end-to-end metric this prints the median of the
runs and the quartile spread, (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``, next to the metric's bound in
BENCHMARK.json. A spread at or under a third of the bound is marked ok.
Raw result lines go to ``perfbench/.work/spread-<workload>.jsonl`` and each
run's stderr summary (with the wall-clock rates) to ``spread-<workload>.summary``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    for w in args.workloads:
        log = os.path.join(HERE, ".work", f"spread-{w}.jsonl")
        runs = []
        for s in args.seeds:
            cmd = [*spec["command"], "--workload", w, "--seed", str(s),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            summary = [ln for ln in p.stderr.splitlines() if f" {w} seed=" in ln]
            with open(log, "a") as f:
                f.write(line + "\n")
            with open(log.replace(".jsonl", ".summary"), "a") as f:
                f.write("".join(ln + "\n" for ln in summary))
            res = json.loads(line)
            if p.returncode or not res.get("correct"):
                print(f"{w} seed {s}: exit {p.returncode}, result {line}\n{p.stderr[-2000:]}")
            runs.append(res)
        print(f"\n{w}: {len(runs)} runs, failed ops {sum(r.get('failed', 0) for r in runs)}")
        for name in runs[0].get("metrics", {}):
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            mark = "" if b is None else ("ok" if spread <= b / 3 else "WIDE")
            print(f"  {name:28s} median {med:14.4f}  spread {spread:7.4f}  bound {b}  {mark}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
