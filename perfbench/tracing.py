"""Spans at layer boundaries, and Spark's own counters read over py4j.

Everything here reads the driver JVM's in-process status stores
(``sc.statusStore()`` for stages, the SQL status store for per-operator
metrics), which Spark keeps with ``spark.ui.enabled=false``. A disabled
:class:`Tracer` records nothing and touches neither the stores nor any
session setting, so the untraced run pays only a no-op context manager
per call.
"""

from __future__ import annotations

import dataclasses
import re
import time
from contextlib import contextmanager

from stats import Span

LAYERS = ("session", "plans", "exec", "catalog", "operators", "nhl", "sources")


def is_layer(name: str) -> bool:
    return name.split(".", 1)[0] in LAYERS


class Tracer:
    """Collects :class:`Span` records in memory; the caller writes them
    out when the run ends. ``overhead_s`` is the time spent inside the
    tracer itself (job-group bookkeeping and status-store reads).

    A span's job count is read from the status store by
    :meth:`resolve_jobs`, which the caller runs after draining the
    listener bus: at span exit the store may not have seen every job yet."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sample = -1
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._unresolved: list[int] = []
        self._sc = spark.sparkContext if enabled else None

    @contextmanager
    def span(self, name: str, label: str = ""):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        t = time.perf_counter()
        self._sc.setJobGroup(f"perfbench-{idx}", name)
        self.spans.append(Span(name, 0.0, 0.0, parent, self.sample, label))
        self._stack.append(idx)
        start = time.perf_counter()
        self.overhead_s += start - t
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = Span(name, start, end, parent, self.sample, label)
            self._unresolved.append(idx)
            if parent >= 0:
                self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - end

    def resolve_jobs(self) -> None:
        """Count the jobs of every span closed since the last call. Run it
        only after the listener bus has drained."""
        tracker = self._sc.statusTracker() if self._unresolved else None
        for idx in self._unresolved:
            n = len(tracker.getJobIdsForGroup(f"perfbench-{idx}"))
            self.spans[idx] = dataclasses.replace(self.spans[idx], jobs=n)
        self._unresolved.clear()

    @contextmanager
    def overhead(self):
        """Time charged to the tracer rather than to the program."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t


_MULT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")
_NODE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b><br><br>([^"]*)"')
_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?"
    r"Arguments: (?:file:)?([^,\s]+),"
)


def parse_value(raw: str) -> tuple[float, str]:
    """A metric display string as ``(number, unit)``: sizes in bytes,
    durations in seconds, counts bare. ``unit`` is ``B``, ``s`` or ``""``."""
    m = _VALUE.match(raw.strip())
    if not m:
        return 0.0, ""
    num = float(m.group(1).replace(",", ""))
    u = m.group(2) or ""
    if u in ("B", "KiB", "MiB", "GiB", "TiB"):
        return num * _MULT[u], "B"
    if u:
        return num * _MULT[u], "s"
    return num, ""


def parse_dot(dot: str) -> list[tuple[str, dict[str, tuple[float, str]]]]:
    """Operators and their metrics from ``SparkPlanGraph.makeDotFile``.
    A metric aggregated over tasks spans two lines, ``<name> total (min,
    med, max ...)`` then ``<total> (...)``; the total is kept."""
    out = []
    for name, body in _NODE.findall(dot):
        metrics: dict[str, tuple[float, str]] = {}
        lines = body.split("<br>")
        i = 0
        while i < len(lines):
            line = lines[i]
            if line.endswith("(stageId: taskId))") and i + 1 < len(lines):
                metrics[line.split(" total (")[0]] = parse_value(lines[i + 1])
                i += 2
                continue
            if ": " in line:
                k, v = line.split(": ", 1)
                metrics[k] = parse_value(v)
            i += 1
        out.append((name.strip(), metrics))
    return out


class SparkCounters:
    """Deltas of Spark's stage and SQL-execution records since the last
    read. Single-threaded driver use only: a delta is everything that
    completed between two reads."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self._app = self._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_mark = self._next_stage()
        self._exec_mark = int(self._sql.executionsCount())

    def _next_stage(self) -> int:
        return int(self._jsc.sc().dagScheduler().nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.sc().listenerBus().waitUntilEmpty()

    def stages(self) -> dict[str, float]:
        """Totals over the stages created since the last call. A stage
        created but never submitted has no record and is not counted."""
        from py4j.protocol import Py4JJavaError

        tot = dict.fromkeys(
            ("stages", "tasks", "cpu_s", "shuffle_write_b", "spill_b",
             "gc_s"), 0.0,
        )
        top = self._next_stage()
        for sid in range(self._stage_mark, top):
            try:
                s = self._app.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            tot["stages"] += 1
            if s.status().toString() != "COMPLETE":
                continue
            tot["tasks"] += s.numCompleteTasks()
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["shuffle_write_b"] += s.shuffleWriteBytes()
            tot["spill_b"] += s.diskBytesSpilled()
            tot["gc_s"] += s.jvmGcTime() / 1e3
        self._stage_mark = top
        return tot

    def executions(self) -> list[dict]:
        """SQL executions started since the last call: wall, written path
        and per-operator metrics."""
        n = int(self._sql.executionsCount())
        out = []
        if n <= self._exec_mark:
            return out
        seq = self._sql.executionsList(self._exec_mark, n - self._exec_mark)
        for i in range(seq.length()):
            e = seq.apply(i)
            eid = e.executionId()
            done = e.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else None
            m = _WRITE.search(e.physicalPlanDescription())
            dot = self._sql.planGraph(eid).makeDotFile(
                self._sql.executionMetrics(eid)
            )
            out.append({
                "id": eid,
                "wall_s": (end_ms - e.submissionTime()) / 1e3 if end_ms else 0.0,
                "path": m.group(1) if m else None,
                "ops": parse_dot(dot),
            })
        self._exec_mark = n
        return out

    def storage(self) -> tuple[int, float]:
        """Persisted RDDs and the bytes they hold in memory and on disk."""
        infos = self._jsc.sc().getRDDStorageInfo()
        held = sum(r.memSize() + r.diskSize() for r in infos)
        return int(self._jsc.getPersistentRDDs().size()), float(held)


def operator_totals(execs: list[dict]) -> dict[str, float]:
    """Scan and Python-exchange totals over executions' operators."""
    tot = {"scan_rows": 0.0, "scan_b": 0.0, "scan_files": 0.0, "python_b": 0.0}
    for e in execs:
        for name, m in e["ops"]:
            if name.startswith("Scan "):
                tot["scan_rows"] += m.get("number of output rows", (0.0, ""))[0]
                tot["scan_b"] += m.get("size of files read", (0.0, ""))[0]
                tot["scan_files"] += m.get("number of files read", (0.0, ""))[0]
            for k in ("data sent to Python workers",
                      "data returned from Python workers"):
                tot["python_b"] += m.get(k, (0.0, ""))[0]
    return tot


def top_operators(execs: list[dict], k: int = 5) -> list[dict]:
    """The ``k`` operators with the most summed timing metrics."""
    ops = []
    for e in execs:
        for name, m in e["ops"]:
            t = sum(v for v, u in m.values() if u == "s")
            rows = m.get("number of output rows", (0.0, ""))[0]
            ops.append({"op": name, "exec": e["id"], "time_s": t, "rows": rows})
    ops.sort(key=lambda o: -o["time_s"])
    return ops[:k]
