"""Per-layer readings for one traced pass.

Everything here is read from outside the package: wall-clock spans around
the benchmark's own calls into the package, and Spark's status stores (the
application store for jobs and stages, the SQL store for the executed plans'
SQLMetrics) for the jobs those calls started. Nothing here runs while an
untraced pass is being timed.
"""

from __future__ import annotations

import re
import time

_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: (plan-node name prefix, SQLMetric name) -> per-layer metric it adds to
NODE_METRICS = {
    ("Scan", "scan time"): "operators.scan_s",
    ("Sort", "sort time"): "operators.sort_s",
    ("BroadcastExchange", "time to collect"): "operators.broadcast_collect_s",
    ("", "time to start Python workers"): "functions.python_boot_s",
    ("", "time to initialize Python workers"): "functions.python_init_s",
    ("", "time to run Python workers"): "functions.python_run_s",
    ("", "data sent to Python workers"): "functions.python_bytes",
    ("", "data returned from Python workers"): "functions.python_bytes",
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQLMetric string, in seconds, bytes or a count.

    Accepts the driver-side single value (``"1.3 s"``, ``"1018.0 KiB"``,
    ``"60,000"``) and the per-task aggregate form, whose second line starts
    with the total: ``"total (min, med, max (stageId: taskId))\\n7 ms (0 ms,
    7 ms, 7 ms (stage 11.0: task 10))"``.
    """
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(body)
    if m is None:
        raise ValueError(f"unparseable SQLMetric value: {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _DURATION_UNITS:
        return number * _DURATION_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit == "":
        return number
    raise ValueError(f"unknown SQLMetric unit {unit!r} in {text!r}")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class StatusStore:
    """Reads of one session's Spark status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def job_count(self) -> int:
        """Jobs submitted so far; job ids run 0 .. job_count() - 1."""
        return self._dag.numTotalJobs()

    def execution_count(self) -> int:
        return self._sql.executionsCount()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_interval(self, job_id: int) -> tuple[float, float] | None:
        """Epoch seconds from submission to completion of one job."""
        job = self._app.job(job_id)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return None
        return sub.get().getTime() / 1000, done.get().getTime() / 1000

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Task metrics summed over every stage the jobs ran (skipped stages
        count zero)."""
        stage_ids = set()
        for jid in job_ids:
            seq = self._app.job(jid).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        out = dict.fromkeys(
            ["tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "fetch_wait_s", "spill_bytes"], 0.0)
        for sid in stage_ids:
            try:
                sd = self._app.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage the store has evicted reads as zero
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    def plan_metrics(self, first_execution: int, last_execution: int) -> dict[str, float]:
        """NODE_METRICS summed over the executed plans of SQL executions
        ``first_execution .. last_execution - 1``."""
        out = dict.fromkeys(NODE_METRICS.values(), 0.0)
        execs = self._sql.executionsList(first_execution, last_execution - first_execution)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    key = _node_metric(node.name(), metric.name())
                    value = values.get(metric.accumulatorId())
                    if key is not None and value.isDefined():
                        out[key] += parse_metric(value.get())
        return out


def _node_metric(node_name: str, metric_name: str) -> str | None:
    for (prefix, name), key in NODE_METRICS.items():
        if metric_name == name and node_name.startswith(prefix):
            return key
    return None


class Spans:
    """Wall-clock spans, kept in memory: ``(layer, label, start, end, jobs)``
    where ``jobs`` is the number of Spark jobs submitted inside the span."""

    def __init__(self, store: StatusStore):
        self.store = store
        self.rows: list[tuple[str, str, float, float, int]] = []

    def wrap(self, layer: str, fn, label=lambda *a, **k: ""):
        """``fn`` with every call recorded as a span. Only for calls made
        one at a time: the job count is read before and after the call."""
        def traced(*args, **kwargs):
            j0, t0 = self.store.job_count(), time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.rows.append((layer, label(*args, **kwargs), t0, time.time(),
                                  self.store.job_count() - j0))
        return traced

    def total(self, layer: str) -> float:
        return sum(e - s for lay, _, s, e, _ in self.rows if lay == layer)

    def count(self, layer: str) -> int:
        return sum(1 for lay, *_ in self.rows if lay == layer)

    def jobs(self, layer: str) -> int:
        return sum(j for lay, *_, j in self.rows if lay == layer)
