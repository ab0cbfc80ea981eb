"""Per-layer tracing for the benchmark's traced runs.

Every operation the workload issues gets its own Spark job group, and
its steps (build, plan, exec; or ingest, stream pass, read) are spans
with a name, start, end, parent and op id. When an op ends, the
tracer reads Spark's own status stores, which are filled with the UI
off: stage metrics of the op's jobs from ``sc.statusStore()`` and the
SQL plan metrics of its executions from the SQL status store
(input bytes and rows come from the stages, the files-read count and
the Python boundary from the plan metrics). Spans
stay in memory and are written out once, when the run ends.

An untraced run gets a ``Tracer(None)``: steps are not timed, job
groups are not set and no store is read.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL plan metric name -> per-layer counter. Sizes arrive formatted,
# as in "12.5 KiB"; counts as in "1,234".
_SQL_METRICS = {
    "data sent to Python workers": "arrow.bytes_sent",
    "data returned from Python workers": "arrow.bytes_received",
    "number of files read": "scan.files_read",
}
_PYTHON_METRIC = "data returned from Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,()]*),(-?\d+),\w+\)")
_METRIC_VALUE = re.compile(r"(\d+) -> (.*?)(?=, \d+ -> |\)$)", re.S)


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric total: "1,234" or "12.5 KiB"."""
    parts = text.strip().splitlines()[-1].split(" (")[0].split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    return value * _SIZE_UNITS.get(parts[1], 1) if len(parts) == 2 else value


class Tracer:
    """Spans and counters of one run; inert when ``spark`` is None."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._op = None
        self._next_id = 0
        if self.enabled:
            jvm = spark._jvm
            self._sc = spark.sparkContext
            self._stages = spark._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
            n = self._sql.executionsCount()
            last = self._as_java(self._sql.executionsList(max(0, n - 8), min(n, 8)))
            self._last_eid = max((e.executionId() for e in last), default=-1)

    @contextmanager
    def op(self, name: str):
        """One user-visible operation; its Spark jobs run in group
        ``op-<id>``. Stream passes add their own run ids through
        ``add_group``."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        op_id = self._next_id
        self._next_id += 1
        group = f"op-{op_id}"
        self._sc.setJobGroup(group, name)
        self._op = {"id": op_id, "name": name, "groups": [group], "build_jobs": 0}
        self._op["exec_count"] = self._sql.executionsCount()
        self.overhead_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            t = time.perf_counter()
            self.spans.append(
                {
                    "name": name, "start": start, "end": end, "parent": None,
                    "op": op_id, "counters": self._collect(self._op),
                }
            )
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def step(self, name: str, *counters: str):
        """A sub-step of the current op, added to each of ``counters``."""
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            op = self._op
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": op["name"], "op": op["id"]}
            )
            for counter in counters:
                self.counters[counter] += end - start
            if name == "build":
                t = time.perf_counter()
                op["build_jobs"] = self._job_count(op["groups"][0])
                self.overhead_s += time.perf_counter() - t

    def add_group(self, group: str) -> None:
        if self.enabled:
            self._op["groups"].append(group)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    # ---- Spark status stores ------------------------------------------

    def _job_count(self, group: str) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(group))

    def _collect(self, op: dict) -> dict[str, float]:
        """Store counters of the op's jobs and executions; adds them to
        the run's totals and returns them for the op's span."""
        tracker = self._sc.statusTracker()
        jobs = sorted(
            {j for g in op["groups"] for j in tracker.getJobIdsForGroup(g)}
        )
        c: dict[str, float] = defaultdict(float)
        c["operators.build_jobs"] += op["build_jobs"]
        c["exec.jobs"] += len(jobs) - op["build_jobs"]
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            try:
                d = self._stages.lastStageAttempt(s)
            except Exception:  # py4j error: the stage left the store
                continue
            if d.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            c["exec.stages"] += 1
            c["exec.tasks"] += d.numCompleteTasks()
            c["exec.executor_run_s"] += d.executorRunTime() / 1e3
            c["exec.executor_cpu_s"] += d.executorCpuTime() / 1e9
            c["exec.shuffle_read_bytes"] += d.shuffleReadBytes()
            c["exec.shuffle_write_bytes"] += d.shuffleWriteBytes()
            c["exec.spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            c["scan.bytes_read"] += d.inputBytes()
            c["scan.rows_output"] += d.inputRecords()
        # Old executions may be evicted meanwhile, so read the tail of
        # the list and keep the ids above the op's starting id.
        n = self._sql.executionsCount()
        k = min(n, n - op["exec_count"] + 8)
        recent = self._as_java(self._sql.executionsList(n - k, k))
        for e in recent:
            eid = e.executionId()
            if eid <= self._last_eid:
                continue
            self._last_eid = eid
            # whole collections as strings: one py4j call each
            # accumulator id -> metric name; AQE may list a node twice
            plan = {acc: m for m, acc in _PLAN_METRIC.findall(e.metrics().toString())}
            if not plan:
                continue
            values = dict(_METRIC_VALUE.findall(self._sql.executionMetrics(eid).toString()))
            for acc, mname in plan.items():
                key = _SQL_METRICS.get(mname)
                if key is not None and acc in values:
                    c[key] += parse_metric(values[acc])
            if _PYTHON_METRIC not in plan.values():
                continue
            # rows out of the Python nodes: their "number of output rows"
            for node in self._as_java(self._sql.planGraph(eid).allNodes()):
                metrics = dict(_PLAN_METRIC.findall(node.metrics().toString()))
                acc = metrics.get("number of output rows")
                if _PYTHON_METRIC in metrics and acc in values:
                    c["arrow.rows_received"] += parse_metric(values[acc])
        for k, v in c.items():
            self.counters[k] += v
        return dict(c)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "counters": dict(self.counters), "spans": spans}, f)
