"""Measurement from outside the program: in-memory spans, and readers
for Spark's own status stores (job/stage task metrics, SQL plan metrics,
Catalyst phase timings, streaming progress, process memory)."""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and dumped at the end. ``enabled=False``
    records nothing but still runs the body, so untraced and traced
    passes execute the same calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {"id": None, "attrs": attrs}
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "t0": time.perf_counter(), "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def add(self, name: str, layer: str, t0: float, t1: float, parent: int | None, **attrs):
        """A span measured elsewhere (a Spark job, a stream trigger)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                               "layer": layer, "t0": t0, "t1": t1, "attrs": attrs})

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def dump(self) -> list[dict]:
        """Spans with duration and self time (duration minus the union of
        the children's intervals, clipped to the parent)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            dur = s["t1"] - s["t0"]
            covered = _union([(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                              for c in kids.get(s["id"], [])])
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# --- Spark status store ---------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TOTAL = " total (min, med, max (stageId: taskId))"
_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b>(.*?)"(?: tooltip|\];)')


def _num(text: str) -> float:
    text = text.strip().replace(",", "")
    value, _, unit = text.partition(" ")
    return float(value) * _SIZE.get(unit, 1)


def _node_metrics(label: str) -> dict[str, float]:
    parts = [p for p in label.split("<br>") if p]
    out, i = {}, 0
    while i < len(parts):
        p = parts[i]
        if p.endswith(_TOTAL) and i + 1 < len(parts):
            out[p[: -len(_TOTAL)]] = _num(parts[i + 1].split(" (")[0])
            i += 2
            continue
        name, sep, value = p.rpartition(": ")
        if sep:
            try:
                out[name] = _num(value)
            except ValueError:
                pass
        i += 1
    return out


EXEC_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
             "input_rows", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "python_rows", "python_bytes", "job_wall_s")


class SparkProbe:
    """Reads what Spark already records about the jobs of a job group:
    the app status store (jobs, stages, task metrics) and the SQL status
    store (per-operator metrics of each SQL execution)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def mark(self) -> None:
        """Start counting SQL executions from now."""
        self._last_exec = self._max_execution_id()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def _max_execution_id(self) -> int:
        n = self.sql.executionsCount()
        return self.sql.executionsList(n - 1, 1).head().executionId() if n else -1

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, group: str, tracer: Tracer, parent: int | None, t_offset: float) -> dict:
        """Task-metric totals of the group's jobs; adds one span per job.
        ``t_offset`` maps JVM epoch ms to the tracer's perf_counter clock."""
        tot = dict.fromkeys(EXEC_KEYS, 0.0)
        intervals = []
        for jid in self.job_ids(group):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                a = sub.get().getTime() / 1000 + t_offset
                b = done.get().getTime() / 1000 + t_offset
                intervals.append((a, b))
                tracer.add(f"job{jid}", "exec", a, b, parent, group=group)
            tot["jobs"] += 1
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = self.store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                tot["failed_tasks"] += sd.numFailedTasks()
                tot["task_run_s"] += sd.executorRunTime() / 1e3
                tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["input_rows"] += sd.inputRecords()
                tot["input_bytes"] += sd.inputBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled()
        tot["job_wall_s"] = _union(intervals)
        return tot

    def python_traffic(self) -> tuple[float, float]:
        """(rows, bytes) through Python-evaluating operators in SQL
        executions that ended since the last call."""
        rows = nbytes = 0.0
        last = self._max_execution_id()
        for eid in range(self._last_exec + 1, last + 1):
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                continue
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for _name, label in _NODE.findall(dot):
                if "Python workers" not in label:
                    continue
                m = _node_metrics(label)
                rows += m.get("number of output rows", 0.0)
                nbytes += m.get("data sent to Python workers", 0.0)
                nbytes += m.get("data returned from Python workers", 0.0)
        self._last_exec = last
        return rows, nbytes

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Forces the physical plan of ``df`` and returns its Catalyst
        phase times. Planning again costs time, so only traced passes call it."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            if phases.contains(ph):
                s = phases.apply(ph)
                out[ph] = float(s.endTimeMs() - s.startTimeMs())
            else:
                out[ph] = 0.0
        return out

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM of one process, in MiB (0 if it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out
