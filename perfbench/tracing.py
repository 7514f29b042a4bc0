"""Tracing for the benchmark: in-memory spans, Spark's own SQL metrics, and
the peak RSS of the Python workers.

Spans are recorded only around the benchmark's calls into each layer (no
instrumentation inside the program).  Spark metrics are read, not added:
after a timed action the SQL status store lists its executions, each
execution's plan graph names the per-node metrics, and the metric
accumulators still hold their raw values.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory (name, start, end, parent index) and written out
    once, at the end of the run.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


#: (per-layer key, SQL metric display name) — summed over every node
PYTHON_METRICS = {
    "python.boot_s": "time to start Python workers",
    "python.init_s": "time to initialize Python workers",
    "python.total_s": "time to run Python workers",
    "python.bytes_sent": "data sent to Python workers",
    "python.bytes_received": "data returned from Python workers",
}
NODE_METRICS = {
    "scan.time_s": "scan time",
    "scan.bytes": "size of files read",
    "shuffle.bytes_written": "shuffle bytes written",
    "shuffle.records_written": "shuffle records written",
    "sink.bytes": "written output",
    "sink.files": "number of written files",
    "sink.task_commit_s": "task commit time",
    "sink.job_commit_s": "job commit time",
    **PYTHON_METRICS,
}
_BY_DISPLAY = {v: k for k, v in NODE_METRICS.items()}


class SparkMetrics:
    """Reads what Spark recorded for the executions and jobs that ran since
    the last :meth:`take` (or since construction)."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.tracker = spark.sparkContext.statusTracker()
        self._last_exec, self._last_job = self._cursor()

    def _executions(self):
        lst = self.store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def _cursor(self):
        execs = [e.executionId() for e in self._executions()]
        jobs = self.tracker.getJobIdsForGroup(None)
        return max(execs, default=-1), max(jobs, default=-1)

    def _value(self, acc_id: int, metric_type: str, shown) -> float:
        """The raw accumulator value while the plan is still alive, else
        the total the status store kept (as Spark formats it for display)."""
        opt = self.jvm.org.apache.spark.util.AccumulatorContext.get(acc_id)
        if opt.isDefined():
            v = float(opt.get().value())
            return v / {"timing": 1e3, "nsTiming": 1e9}.get(metric_type, 1.0)
        s = shown.get(acc_id)
        return _parse_shown(s.get()) if s.isDefined() else 0.0

    def _finished(self, eid: int):
        """The execution's record once its end event is processed (the
        status store is filled by an asynchronous listener)."""
        for _ in range(50):
            ex = self.store.execution(eid)
            if ex.isDefined() and ex.get().completionTime().isDefined():
                return ex.get()
            time.sleep(0.02)
        return self.store.execution(eid).get()

    def _stage_tasks(self, job_ids) -> list[tuple[int, int]]:
        out = []
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    out.append((sid, st.numCompletedTasks))
        return sorted(out)

    def take(self) -> dict:
        """Totals since the previous call: per-node metrics summed over
        executions, ``python.rows_received``, and job / stage / task counts.
        ``scan.tasks`` and ``python.tasks`` count the tasks of the first stage
        of each execution that scans or runs a Python map (the stage that
        runs them in a narrow plan)."""
        out = {k: 0.0 for k in NODE_METRICS}
        out.update({"python.rows_received": 0.0, "scan.tasks": 0.0,
                    "python.tasks": 0.0})
        last_exec = self._last_exec
        for ex in self._executions():
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            last_exec = max(last_exec, eid)
            ex = self._finished(eid)
            shown = self.store.executionMetrics(eid)
            has_scan = has_python = False
            graph = self.store.planGraph(eid)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                ms = node.metrics()
                metrics = {}
                for j in range(ms.size()):
                    m = ms.apply(j)
                    metrics[m.name()] = (m.accumulatorId(), m.metricType())
                has_scan |= name.startswith("Scan ")
                is_python = PYTHON_METRICS["python.total_s"] in metrics
                has_python |= is_python
                for display, (acc, mtype) in metrics.items():
                    key = _BY_DISPLAY.get(display)
                    if key is not None:
                        out[key] += self._value(acc, mtype, shown)
                if is_python and "number of output rows" in metrics:
                    out["python.rows_received"] += self._value(
                        *metrics["number of output rows"], shown)
            jobs_it = ex.jobs().keysIterator()
            job_ids = []
            while jobs_it.hasNext():
                job_ids.append(int(jobs_it.next()))
            stages = self._stage_tasks(sorted(job_ids))
            if stages:
                first = stages[0][1]
                out["scan.tasks"] += first if has_scan else 0
                out["python.tasks"] += first if has_python else 0
        self._last_exec = last_exec
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j > self._last_job]
        stages = self._stage_tasks(jobs)
        out["spark.jobs"] = float(len(jobs))
        out["spark.stages"] = float(len(stages))
        out["spark.tasks"] = float(sum(n for _, n in stages))
        self._last_job = max(jobs, default=self._last_job)
        return out


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_shown(text) -> float:
    """Total of a metric as the SQL status store shows it: ``40,000``,
    ``13.1 MiB (...)`` or ``total (min, med, max ...)\n5.9 s (...)``; times
    in seconds, sizes in bytes."""
    total = str(text).splitlines()[-1].split(" (")[0].strip()
    num, _, unit = total.partition(" ")
    try:
        return float(num.replace(",", "")) * _UNITS.get(unit, 1.0)
    except ValueError:
        return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def _python_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/comm") as f:
            if not f.read().startswith("python"):
                return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Samples the peak RSS (VmHWM) of every Python process below this one
    — the Spark Python workers — every ``interval`` seconds while running."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in _descendants(os.getpid()):
            self.peak_kb = max(self.peak_kb, _python_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
