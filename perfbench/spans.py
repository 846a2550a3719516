"""Per-layer spans read from Spark's status stores, with the UI off.

Every call the benchmark makes into the package runs inside
:meth:`Tracer.span`, which puts it under its own Spark job group. With
tracing on, the span's exit waits for the listener bus to drain and then
reads that group's jobs and stages from the core status store
(``sc._jsc.sc().statusStore()``) and its SQL executions from the SQL
status store (``sharedState().statusStore()``). Spans stay in memory;
:meth:`Tracer.write` dumps them once, when the run ends.

With tracing off a span only sets the job group and keeps the wall time.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

#: SQL metrics of the Python evaluation nodes (ArrowEvalPython,
#: MapInPandas, ...) whose sum is a span's ``python_s``.
PYTHON_TIME_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A rendered SQL metric as a number in seconds, bytes or rows.
    Task-aggregated metrics render as ``total (min, med, max ...)\\n<total>
    (...)``; the total is the first value on the last line."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().split("\n")[-1])
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Job-group spans around the benchmark's calls into the package.

    ``enabled`` turns on the status-store reads. ``sql_detail`` names the
    spans whose SQL plan graphs are walked for Python time and scanned
    rows; walking a plan costs many gateway calls, so other spans skip it.
    """

    def __init__(self, spark, enabled: bool, sql_detail: tuple[str, ...] = ()):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.sql_detail = sql_detail
        self.spans: list[dict] = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        """Run the body under a fresh job group; yields the span record."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        rec = {"id": self._seq, "name": name, "parent": parent}
        self.sc.setJobGroup(group, group)
        if self.enabled and name in self.sql_detail:
            rec["_exec_from"] = self._sql_store().executionsCount()
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["start"] = start
            rec["end"] = start + rec["wall_s"]
            self.sc._jsc.clearJobGroup()
            if self.enabled:
                self._collect(group, rec)
            self.spans.append(rec)

    # -- status-store reads --------------------------------------------------

    def _collect(self, group: str, rec: dict) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            sids = store.job(j).stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        cpu_ns = shuffle = 0
        intervals = []
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleWriteBytes()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                a = max(sub.get().getTime() / 1000.0, rec["start"])
                b = min(done.get().getTime() / 1000.0, rec["end"])
                if b > a:
                    intervals.append((a, b))
        rec["jobs"] = len(job_ids)
        rec["exec_cpu_s"] = cpu_ns / 1e9
        rec["shuffle_bytes"] = shuffle
        rec["driver_s"] = max(0.0, rec["wall_s"] - _union_seconds(intervals))
        if "_exec_from" in rec:
            rec.update(self._sql_counters(group, rec.pop("_exec_from")))

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_counters(self, group: str, exec_from: int) -> dict:
        """Python worker time and rows scanned, summed over the SQL
        executions the group ran (accumulators de-duplicated, since AQE
        re-plans list the same metric more than once). Only executions
        listed after the span began are read; the session keeps every
        execution (``spark.sql.ui.retainedExecutions``), so the offset
        is stable."""
        sql = self._sql_store()
        execs = sql.executionsList(exec_from, 1 << 30)
        python_s = rows = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.description() != group:
                continue
            values = sql.executionMetrics(ex.executionId())
            seen: set[int] = set()
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                is_scan = node.name().startswith("Scan")
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    acc = m.accumulatorId()
                    name = m.name()
                    if acc in seen:
                        continue
                    if name in PYTHON_TIME_METRICS or (is_scan and name == "number of output rows"):
                        seen.add(acc)
                        v = values.get(acc)
                        value = parse_metric(v.get() if v.isDefined() else None)
                        if name in PYTHON_TIME_METRICS:
                            python_s += value
                        else:
                            rows += value
        return {"python_s": python_s, "rows_read": rows}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
