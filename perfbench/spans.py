"""Spans and Spark job accounting for the benchmark's traced runs.

Every span is recorded by the benchmark around its own call into one of
the engine's public functions; nothing inside the engine is patched.
Spans live in memory and are written out once, when the run ends.

Stage and task numbers come from Spark itself: the benchmark puts each
call under its own job group (``SparkContext.setJobGroup``), reads the
group's job ids from the status tracker, and reads the stages and tasks
of those jobs from the UI REST API on the driver.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sp = Span(name, time.time(), parent=parent, op_id=op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        """Record a span measured by other means (e.g. from job timestamps)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, self.spans.index(parent), parent.op_id))

    def self_times(self, ops_only: bool = False) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover.
        ``ops_only`` keeps the spans of operations and drops set-up spans."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            if ops_only and sp.op_id is None:
                continue
            out[sp.name] = out.get(sp.name, 0.0) + sp.duration - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _iso(ts: str) -> float:
    # "2026-10-17T03:01:02.345GMT" -> epoch seconds
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


@dataclass
class GroupStats:
    """What Spark did for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: list[float] = field(default_factory=list)
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    #: summed submission-to-completion wall time of the group's jobs.
    job_wall_s: float = 0.0


class SparkProbe:
    """Reads one job group's jobs, stages and tasks after it has run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled; traced runs need its REST API")
        port = url.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled_job_ids(self, group: str, wait_s: float = 10.0) -> list[int]:
        """Job ids of ``group`` once the status store has seen every one end."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + wait_s
        while True:
            ids = sorted(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(i) for i in ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                return ids
            if time.time() > deadline:
                return ids
            time.sleep(0.02)

    def group(self, group: str) -> GroupStats:
        st = GroupStats()
        for jid in self._settled_job_ids(group):
            job = self._get(f"/jobs/{jid}")
            st.jobs += 1
            if job.get("completionTime") and job.get("submissionTime"):
                st.job_wall_s += _iso(job["completionTime"]) - _iso(job["submissionTime"])
            for sid in job["stageIds"]:
                for att in self._get(f"/stages/{sid}?details=false"):
                    if att["status"] != "COMPLETE":
                        continue  # skipped (shuffle reuse) or failed attempts
                    st.stages += 1
                    st.tasks += att["numCompleteTasks"]
                    st.executor_run_s += att["executorRunTime"] / 1000.0
                    st.shuffle_read_bytes += att["shuffleReadBytes"]
                    st.shuffle_write_bytes += att["shuffleWriteBytes"]
                    st.spill_bytes += att["diskBytesSpilled"]
                    st.input_bytes += att["inputBytes"]
                    tasks = self._get(
                        f"/stages/{sid}/{att['attemptId']}/taskList?length=100000"
                    )
                    st.task_ms += [t["duration"] for t in tasks if "duration" in t]
        return st


def task_quantiles(ms: list[float]) -> tuple[float, float]:
    """(median, max) of task durations in ms; (0, 0) without tasks."""
    if not ms:
        return 0.0, 0.0
    return statistics.median(ms), max(ms)
