"""The repo benchmark: one closed-loop client, one workload per process.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds (once, cached under
``perfbench/.data``) the workload's generated input, computes the DuckDB
oracle answers, starts the engine's Spark session on
``local[$SPARK_GRAFT_CPUS]`` (half the cores when unset), runs untimed
warm-up passes, then times whole passes until ``--seconds`` have gone by
and the workload's pass count is reached. Each operation is timed in wall
time and in engine CPU time. Every operation's output is checked. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, taken from passes that alternate traced and untraced so that the
tracing overhead is measured in the same run. Spans go to
``perfbench/.work/spans-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "nosql_based_business_intelligence_system_spark"
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import workloads as W  # noqa: E402
from spans import SparkProbe, Tracer, task_quantiles  # noqa: E402

#: name -> unit of every metric a --trace 0 run prints.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "rows_per_cpu_s": "rows/cpu_s",
}
#: name -> unit of every metric a --trace 1 run prints; per timed pass
#: unless the name says otherwise.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.cpus": "count",
    "session.shuffle_partitions": "count",
    "tables.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_jobs_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_p50_ms": "ms",
    "spark.task_max_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "driver.collect_s": "s",
    "driver.result_rows": "count",
    "driver.peak_rss_mb": "MB",
    "caching.builds": "count",
    "caching.release_s": "s",
    "star.enrich_build_s": "s",
    "sinks.jsonl_s": "s",
    "sinks.fact_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "B",
    "ingest.readback_s": "s",
    "ingest.rows_read": "count",
    "dedup.refusals": "count",
    "trace.gap_s": "s",
    "trace.overhead_pct": "%",
}
#: span name -> the per-layer metric that sums its durations.
SPAN_METRICS = {
    "queries.build": "queries.build_s",
    "spark.build_jobs": "queries.build_jobs_s",
    "spark.exec": "spark.exec_s",
    "driver.collect": "driver.collect_s",
    "caching.release": "caching.release_s",
    "star.enrich_build": "star.enrich_build_s",
    "sinks.jsonl": "sinks.jsonl_s",
    "sinks.fact": "sinks.fact_s",
    "ingest.readback": "ingest.readback_s",
}

#: Seconds an operation may run before its jobs are cancelled, and the
#: extra seconds after which a run that cannot cancel them gives up.
OP_TIMEOUT = 60.0
OP_GRACE = 20.0
#: No pass starts this many seconds after process start (runs end < 180 s).
LAST_PASS_START = 120.0
DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate_env() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(W.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(W.WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Both JVMs (spark-submit's launcher and the Spark driver) keep temp files here.
    # Compiler threads live as long as the JVM, so their CPU time can be
    # told apart from the engine's (work_cpu_s).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    # Half the machine's cores run tasks; the rest keep the JIT and GC
    # threads and the Python driver off the tasks' cores.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, nproc() // 2)))


def in_child(fn, *args):
    """Run ``fn(*args)`` in a forked child and wait for it to end, so the
    oracle's memory never counts toward the driver's peak RSS."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as ex:
        return ex.submit(fn, *args).result()


def rss_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str) -> float:
    """User + system CPU seconds in a /proc ``stat`` file."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def compiler_threads(pid: int) -> list[str]:
    """The stat files of the JIT compiler threads of JVM ``pid``."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out.append(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            pass
    return out


def work_cpu_s(pids: list[int], compilers: list[str]) -> float:
    """CPU seconds this process and the JVMs ``pids`` spent so far, less the
    JIT compiler threads': the engine's own work (tasks, planning, GC,
    Python). The kernel does not count CPU steal as a thread's time."""
    t = os.times()
    return (
        t.user + t.system
        + sum(_stat_cpu_s(f"/proc/{p}/stat") for p in pids)
        - sum(_stat_cpu_s(c) for c in compilers)
    )


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


class Bench:
    def __init__(self, args, sf_dir: str, oracle: dict):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.tracer = Tracer(self.trace)
        self.probe = None
        self.plan = W.plan(self.workload, self.seed, 64)
        self.passes: list[W.PassResult] = []
        self.attempted = 0
        self.failed = 0
        self.fatal = False
        self.counts: dict[str, float] = {}
        self.task_ms: list[list[float]] = []
        self.pins: dict[str, tuple] = {}
        self.out_dir = os.path.join(W.WORK, "etl_out")
        self._timed_out = False
        self.jvm_pids: list[int] = []
        self.compilers: list[str] = []
        self.spark = None
        self.pass_no = 0

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        t0 = time.time()
        with self.tracer.span("setup"):
            with self.tracer.span("engine.import"):
                from nosql_based_business_intelligence_system_spark import caching
                from nosql_based_business_intelligence_system_spark.operators import (
                    dedup,
                    mongo_query,
                    star,
                )
                from nosql_based_business_intelligence_system_spark.queries import QUERIES
                from nosql_based_business_intelligence_system_spark.session import get_spark
                from nosql_based_business_intelligence_system_spark.sources import (
                    ingest,
                    sinks,
                    tables,
                )
            self.caching, self.star, self.sinks, self.ingest = caching, star, sinks, ingest
            self.QUERIES = QUERIES
            self.refusals = (dedup.PairExplosionError, mongo_query.MongoTranslateError)
            t_s = time.time()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(
                    app_name=f"perfbench-{self.workload}",
                    extra_conf={"spark.ui.showConsoleProgress": "false"},
                )
                self.sc = self.spark.sparkContext
                self.sc.setLogLevel("ERROR")
            self.get_spark_s = time.time() - t_s
            self._find_jvm()
            if not self.jvm_pids:
                raise RuntimeError("Spark driver JVM not found: its CPU time cannot be measured")
            self.cpus = self.sc.defaultParallelism
            names = (
                sorted(set(W.CORPUS_OPS.values()))
                if self.workload == "corpus_batch"
                else W.ETL_TABLES
            )
            t_l = time.time()
            with self.tracer.span("tables.load"):
                for t in names:
                    tables.load_table(self.spark, self.sf_dir, t)
            self.tables_load_s = time.time() - t_l
            self.shuffle_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            if self.trace:
                self.probe = SparkProbe(self.spark)
            with self.tracer.span("warmup"):
                for _ in range(W.WARMUP_PASSES[self.workload]):
                    self.run_pass(traced=False)
        self.setup_s = time.time() - t0

    def _find_jvm(self) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        self.gateway_proc = proc
        for pid in descendants(proc.pid):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        self.jvm_pids.append(pid)
                        self.compilers += compiler_threads(pid)
            except OSError:
                pass

    # ------------------------------------------------------------ passes

    def measure(self) -> None:
        t0 = time.time()
        while not self.fatal:
            self.passes.append(self.run_pass(traced=self.trace and len(self.passes) % 2 == 0))
            # A traced run times traced, untraced, traced passes, so that a
            # steady speed-up from pass to pass cancels out of the overhead.
            done = (
                time.time() - t0 >= self.seconds
                and len(self.passes) >= W.TIMED_PASSES[self.workload] + self.trace
            )
            if done or time.time() - T_PROCESS > LAST_PASS_START:
                break

    def run_pass(self, traced: bool) -> W.PassResult:
        """The next pass of the seeded plan. Only traced passes record spans."""
        pr = W.PassResult(traced=traced)
        n = self.pass_no
        self.pass_no += 1
        ops = self.plan[n % len(self.plan)]
        self.tracer.enabled = traced
        if traced:
            self.task_ms.append([])
        state: dict = {}
        t0 = time.time()
        st0 = steal_s()
        for k, name in enumerate(ops):
            pr.ops.append(self.run_op(name, f"p{n}.{k}.{name}", state, traced))
            if self.fatal:
                break
        pr.wall = time.time() - t0
        self.tracer.enabled = self.trace
        print(
            f"perfbench: pass {n} {'traced ' if traced else ''}wall {pr.wall:.3f}s "
            f"cpu {sum(o.cpu for o in pr.ops):.3f}s steal {steal_s() - st0:.3f}s "
            + " ".join(f"{o.name}={o.latency:.3f}/{o.cpu:.2f}" for o in pr.ops),
            file=sys.stderr,
        )
        return pr

    def run_op(self, name: str, op_id: str, state: dict, traced: bool) -> W.OpResult:
        r = W.OpResult(name)
        sc = self.sc
        if self.workload == "corpus_batch":
            sc.setJobGroup(f"{op_id}:release", "release")
            with self.tracer.span("caching.release", op_id=op_id):
                self.caching.release_all(self.spark)
        groups = (f"{op_id}:build", f"{op_id}:exec")
        self._timed_out = False
        soft = threading.Timer(OP_TIMEOUT, self._cancel, groups)
        hard = threading.Timer(OP_TIMEOUT + OP_GRACE, self._abort, (op_id,))
        soft.daemon = hard.daemon = True
        soft.start()
        hard.start()
        out = None
        c0 = work_cpu_s(self.jvm_pids, self.compilers)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op_id=op_id) as op_span:
                if self.workload == "corpus_batch":
                    out = self._query_op(name, groups)
                else:
                    out = self._etl_op(name, groups, state)
            r.latency = time.perf_counter() - t0
        except Exception as e:  # every failure is counted, none is raised
            r.latency = time.perf_counter() - t0
            r.ok, r.failure, r.detail = False, self._classify(e), repr(e)[:300]
        finally:
            soft.cancel()
            hard.cancel()
        r.cpu = work_cpu_s(self.jvm_pids, self.compilers) - c0
        if r.ok:
            self._check(name, out, r)
        self.attempted += 1
        if not r.ok:
            self.failed += 1
            print(f"perfbench: {op_id} failed ({r.failure}): {r.detail}", file=sys.stderr)
        if traced and not self.fatal:
            self._account(name, groups, op_span, out, r)
        return r

    def _query_op(self, name: str, groups) -> tuple:
        self.sc.setJobGroup(groups[0], name, True)
        with self.tracer.span("queries.build"):
            df = self.QUERIES[name].fn(self.spark, self.sf_dir)
        self.sc.setJobGroup(groups[1], name, True)
        with self.tracer.span("spark.action"):
            rows = df.collect()
        return rows, df.columns

    def _etl_op(self, name: str, groups, state: dict):
        jsonl = os.path.join(self.out_dir, "jsonl")
        fact = os.path.join(self.out_dir, "fact")
        if name == "readback":
            self.sc.setJobGroup(groups[1], name, True)
            with self.tracer.span("ingest.readback"):
                return {
                    k: self.ingest.ingest_jsonl(self.spark, p).count()
                    for k, p in state["paths"].items()
                }
        self.sc.setJobGroup(groups[0], name, True)
        with self.tracer.span("star.enrich_build"):
            enriched = self.star.enriched_sales(self.spark, self.sf_dir)
        self.sc.setJobGroup(groups[1], name, True)
        if name == "export":
            with self.tracer.span("sinks.jsonl"):
                state["paths"] = self.sinks.export_collections(enriched, jsonl)
            return W.dir_usage(jsonl)
        with self.tracer.span("sinks.fact"):
            self.sinks.write_partitioned_fact(enriched, fact)
        return W.dir_usage(fact), W.parquet_rows(fact)

    # ------------------------------------------------------------ checks

    def _fail(self, r: W.OpResult, detail: str) -> None:
        r.ok, r.failure, r.detail = False, "mismatch", detail

    def _check(self, name: str, out, r: W.OpResult) -> None:
        """Compare one operation's output with its oracle or pinned value."""
        if self.workload == "corpus_batch":
            rows, cols = out
            r.result_rows = len(rows)
            r.input_rows = self.oracle["input_rows"][W.CORPUS_OPS[name]]
            got = W.spark_digest(rows, cols)
            if got != self.oracle[name]:
                return self._fail(r, f"digest {got} != oracle {self.oracle[name]}")
            return
        expected = self.oracle["enriched_rows"]
        if name == "export":
            r.input_rows = expected
            if self.pins.setdefault(name, out) != out:
                return self._fail(r, f"jsonl files/bytes {out} != first run {self.pins[name]}")
        elif name == "fact":
            usage, rows = out
            if rows != expected:
                return self._fail(r, f"fact rows {rows} != {expected}")
            if self.pins.setdefault(name, usage) != usage:
                return self._fail(r, f"fact files/bytes {usage} != first run {self.pins[name]}")
        elif name == "readback":
            bad = {k: v for k, v in out.items() if v != expected}
            if bad or len(out) != len(self.sinks.COLLECTIONS):
                return self._fail(r, f"read back {out}, expected {expected} each")

    def _classify(self, e: Exception) -> str:
        from py4j.protocol import Py4JNetworkError

        if isinstance(e, self.refusals):
            return "refusal"
        if self._timed_out:
            return "timeout"
        if isinstance(e, (Py4JNetworkError, ConnectionError, EOFError)):
            self.fatal = True
            return "jvm_lost"
        return "exception"

    def _cancel(self, *groups: str) -> None:
        self._timed_out = True
        for g in groups:
            try:
                self.sc.cancelJobGroup(g)
            except Exception:
                pass

    def _abort(self, op_id: str) -> None:
        print(f"perfbench: {op_id} could not be cancelled; giving up", file=sys.stderr)
        self._kill_jvm()
        os._exit(3)

    # ------------------------------------------------------------ tracing

    def _bump(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def _account(self, name, groups, op_span, out, r: W.OpResult) -> None:
        """Add one traced operation's Spark work and derived spans."""
        build = self.probe.group(groups[0])
        act = self.probe.group(groups[1])
        self._bump("queries.build_jobs", build.jobs)
        for key in (
            "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes",
        ):
            self._bump(f"spark.{key}", getattr(act, key))
        self.task_ms[-1] += act.task_ms
        self._bump("driver.result_rows", r.result_rows)
        if name in W.CORPUS_OPS:
            self._bump("caching.builds", sum(len(c) for c in self.caching.SessionCache._REGISTRY))
        if name == "readback" and r.ok:
            self._bump("ingest.rows_read", sum(out.values()))
        if name in ("export", "fact") and r.ok:
            files, size = out if name == "export" else out[0]
            self._bump("sinks.files_written", files)
            self._bump("sinks.bytes_written", size)
        if r.failure == "refusal" and "PairExplosion" in r.detail:
            self._bump("dedup.refusals", 1)
        if op_span is None:
            return
        children = [s for s in self.tracer.spans if s.parent is not None
                    and self.tracer.spans[s.parent] is op_span]
        for sp in children:
            if sp.name in ("queries.build", "star.enrich_build") and build.jobs:
                self.tracer.add("spark.build_jobs", sp.start,
                                sp.start + min(build.job_wall_s, sp.duration), sp)
            elif sp.name in ("spark.action", "sinks.jsonl", "sinks.fact", "ingest.readback"):
                exec_s = min(act.job_wall_s, sp.duration)
                self.tracer.add("spark.exec", sp.start, sp.start + exec_s, sp)
                if sp.name == "spark.action":
                    self.tracer.add("driver.collect", sp.start + exec_s, sp.end, sp)

    # ------------------------------------------------------------ results

    def shutdown(self) -> None:
        self.peak_rss_mb = rss_hwm_mb("self") + sum(
            rss_hwm_mb(p) for p in self.jvm_pids if os.path.exists(f"/proc/{p}")
        )
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
        self._kill_jvm(graceful=True)
        import shutil

        shutil.rmtree(self.out_dir, ignore_errors=True)
        if self.trace:
            self.tracer.dump(os.path.join(W.WORK, f"spans-{self.workload}-{self.seed}.json"))

    def _kill_jvm(self, graceful: bool = False) -> None:
        proc = getattr(self, "gateway_proc", None)
        if proc is None:
            return
        try:
            if graceful and proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=30)
        except Exception:
            pass
        if proc.poll() is None:
            proc.kill()
            proc.wait(timeout=30)

    def timed_ops(self) -> list[W.OpResult]:
        return [op for p in self.passes if not p.traced for op in p.ops]

    def end_to_end(self) -> dict[str, float]:
        """The end-to-end metrics, and the wall-clock rates (stderr only)."""
        ops = self.timed_ops()
        by_name: dict[str, list[W.OpResult]] = {}
        for op in ops:
            by_name.setdefault(op.name, []).append(op)
        # Each operation's wall time at its median over the timed passes, so
        # one sample slowed by the host does not move the rate. CPU time is
        # the mean pass: the pass count is fixed, and GC work lands on
        # whichever operation is running.
        wall = sum(statistics.median(o.latency for o in v) for v in by_name.values())
        passes = len(ops) / len(by_name)
        cpu = sum(o.cpu for o in ops) / passes
        ok = [op for op in ops if op.ok]
        rows = sum(op.input_rows for op in ok) / passes  # per pass
        return {
            "setup_s": self.setup_s,
            "cpu_s_per_op": cpu / len(by_name),
            "rows_per_cpu_s": rows / cpu,
            "ops_per_s": len(ok) / passes / wall,
            "rows_per_s": rows / wall,
        }

    def per_layer(self) -> dict[str, float]:
        traced = [p for p in self.passes if p.traced]
        plain = [p for p in self.passes if not p.traced]
        n = len(traced)
        m = {k: 0.0 for k in PER_LAYER}
        for sp in self.tracer.spans:
            if sp.op_id and sp.name in SPAN_METRICS:
                m[SPAN_METRICS[sp.name]] += sp.duration / n
        for k, v in self.counts.items():
            m[k] = v / n
        m["session.get_spark_s"] = self.get_spark_s
        m["session.cpus"] = self.cpus
        m["session.shuffle_partitions"] = self.shuffle_partitions
        m["tables.load_s"] = self.tables_load_s
        m["driver.peak_rss_mb"] = self.peak_rss_mb
        quants = [task_quantiles(t) for t in self.task_ms]
        m["spark.task_p50_ms"] = statistics.fmean(q[0] for q in quants)
        m["spark.task_max_ms"] = statistics.fmean(q[1] for q in quants)
        busy = m["spark.exec_s"] * self.cpus
        m["spark.core_util"] = m["spark.executor_run_s"] / busy if busy else 0.0
        if self.workload == "etl_export":
            m["sinks.bytes_per_row"] = m["sinks.bytes_written"] / self.oracle["enriched_rows"]
        selfs = self.tracer.self_times(ops_only=True)
        m["trace.gap_s"] = selfs.get("op", 0.0) / n
        # Operation time, not pass wall time: the REST reads between
        # operations are the benchmark's own work, not overhead on the engine.
        busy = [statistics.fmean(sum(o.latency for o in p.ops) for p in ps) for ps in (traced, plain)]
        m["trace.overhead_pct"] = 100.0 * (busy[0] / busy[1] - 1)
        return m

    def layer_table(self) -> str:
        n = max(1, sum(p.traced for p in self.passes))
        rows = sorted(self.tracer.self_times(ops_only=True).items(), key=lambda kv: -kv[1])
        lines = [f"{'span':24s} {'self s/pass':>12s}"]
        lines += [f"{k:24s} {v / n:12.4f}" for k, v in rows]
        return "\n".join(lines)

    def result(self) -> dict:
        cpus_ok = self.cpus == int(os.environ["SPARK_GRAFT_CPUS"])
        if not cpus_ok:
            print(
                f"perfbench: session has {self.cpus} cores, SPARK_GRAFT_CPUS="
                f"{os.environ['SPARK_GRAFT_CPUS']}; the run counts as failed",
                file=sys.stderr,
            )
        values = self.per_layer() if self.trace else self.end_to_end()
        units = PER_LAYER if self.trace else END_TO_END
        return {
            "correct": self.failed == 0 and cpus_ok and not self.fatal,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    isolate_env()
    sf_dir = W.input_dir(args.workload)
    t_o = time.time()
    oracle = in_child(W.compute_oracles, args.workload, sf_dir)
    print(f"perfbench: oracle {time.time() - t_o:.2f}s", file=sys.stderr)
    bench = Bench(args, sf_dir, oracle)
    try:
        bench.setup()
        bench.measure()
    except Exception:
        traceback.print_exc()
        bench.fatal = True
    finally:
        bench.shutdown()
    if len(bench.passes) < W.TIMED_PASSES[args.workload]:
        print(f"perfbench: only {len(bench.passes)} timed passes", file=sys.stderr)
        return 1
    result = bench.result()
    ops = bench.timed_ops()
    print(
        f"perfbench: {args.workload} seed={args.seed} setup={bench.setup_s:.2f}s "
        f"passes={len(bench.passes)} latency samples={len(ops)} "
        f"error_rate={bench.failed}/{bench.attempted} cpus={bench.cpus} "
        f"shuffle_partitions={bench.shuffle_partitions} "
        + " ".join(f"{k}={v:.4g}" for k, v in bench.end_to_end().items()),
        file=sys.stderr,
    )
    if bench.trace:
        print(bench.layer_table(), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
