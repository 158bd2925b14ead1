"""Measurement helpers that observe the engine from outside.

- :class:`ProcTree` reads CPU seconds and peak resident memory of this
  Python driver, its JVM and the JVM's Python workers from ``/proc``;
- :class:`SparkStores` reads Spark's in-process status stores (the app
  store's stages and tasks, the SQL store's plan graphs and metrics)
  through py4j, so no engine code is changed;
- :class:`Tracer` keeps spans in memory and times calls into engine
  module functions by rebinding them for the duration of a traced pass.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest whole percentile that still has
    at least ten samples above it, but never below the median; with fewer
    than 21 samples that is the median itself."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    ordered = sorted(values)
    pct = 50
    for cand in range(99, 50, -1):
        if n - 1 - int(cand / 100 * (n - 1)) >= 10:
            pct = cand
            break
    if pct == 50:
        return median(ordered), 50.0, n
    return ordered[int(pct / 100 * (n - 1))], float(pct), n


class ProcTree:
    """CPU and memory of the process tree rooted at this interpreter."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def _pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            parent[int(entry)] = int(fields[1])
        keep = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in keep and pid not in keep:
                    keep.add(pid)
                    grew = True
        return sorted(keep)

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree, plus the
        children each of them has already reaped."""
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / _TICK

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak resident set (VmHWM)."""
        total_kb = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kb / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat; the
    share stolen by other guests over an interval explains a slow run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def row_count(text: str) -> float:
    """A SQL row-count metric as rendered by the status store, e.g.
    '1,000,000'."""
    try:
        return float(text.strip().split(" ")[0].replace(",", ""))
    except ValueError:
        return 0.0


class SparkStores:
    """Deltas of Spark's status stores between two marks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int, int]:
        """Newest stage, job and SQL execution ids. The stores list them
        sorted by id (stages and jobs newest first, executions oldest
        first), so the ends of each list suffice."""
        self.drain()

        def newest(seq, key) -> int:
            n = seq.size()
            return max(key(seq.apply(0)), key(seq.apply(n - 1))) if n else -1

        return (
            newest(self.app.stageList(None, False, False, self._empty, None),
                   lambda s: s.stageId()),
            newest(self.app.jobsList(None), lambda j: j.jobId()),
            newest(self.sql.executionsList(), lambda e: e.executionId()),
        )

    def stage_metrics(self, since: tuple[int, int, int]) -> dict[str, float]:
        """Sum the stages and jobs that started after ``since``."""
        self.drain()
        stages = self.app.stageList(None, False, False, self._empty, None)
        jobs = self.app.jobsList(None)
        out = dict.fromkeys((
            "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.shuffle_records",
            "spark.spill_bytes", "spark.output_bytes", "spark.stages",
            "spark.tasks"), 0.0)
        longest = None
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= since[0] or str(s.status()) == "SKIPPED":
                continue
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_s"] += s.jvmGcTime() / 1e3
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.shuffle_records"] += s.shuffleWriteRecords()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["spark.output_bytes"] += s.outputBytes()
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numTasks()
            if longest is None or s.executorRunTime() > longest.executorRunTime():
                longest = s
        out["spark.jobs"] = float(sum(
            1 for i in range(jobs.size()) if jobs.apply(i).jobId() > since[1]))
        out["spark.task_skew"] = self._skew(longest) if longest is not None else 1.0
        return out

    def _skew(self, stage) -> float:
        tasks = self.app.taskList(stage.stageId(), stage.attemptId(), 100_000)
        times = [tasks.apply(i).duration().get() for i in range(tasks.size())
                 if tasks.apply(i).duration().isDefined()]
        med = median([float(t) for t in times])
        return max(times) / med if times and med > 0 else 1.0

    def executions(self, since: tuple[int, int, int]) -> list[dict]:
        """Id and exchange count of every SQL execution after ``since``."""
        self.drain()
        execs = self.sql.executionsList()
        out = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= since[2]:
                continue
            nodes = self.sql.planGraph(eid).allNodes()
            exchanges = sum(1 for j in range(nodes.size())
                            if nodes.apply(j).name().endswith("Exchange"))
            out.append({"id": eid, "exchanges": exchanges})
        return out


class Tracer:
    """In-memory span recorder. Each span: id, parent, op (one id per
    benchmark operation), name, start and end (seconds since the run's
    epoch)."""

    def __init__(self, epoch: float):
        self.epoch = epoch
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self.calls: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str, op: int | None = None):
        sid = len(self.spans)
        if op is not None:
            self._op = op
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "name": name,
               "start": time.perf_counter() - self.epoch, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.epoch

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a micro-batch from its
        progress event) under the current parent."""
        self.spans.append({"id": len(self.spans),
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self._op, "name": name, "start": start,
                           "end": end, **attrs})

    @contextmanager
    def wrap_functions(self, targets: dict[str, object]):
        """Rebind every reference to each target function in the loaded
        engine modules to a timing wrapper; restore them on exit.
        ``targets`` maps a span name to the original function."""
        originals = {id(fn): (name, fn) for name, fn in targets.items()}
        patched: list[tuple[object, str, object]] = []

        def make(name, fn):
            def timed(*args, **kwargs):
                with self.span(name) as rec:
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        self.calls.setdefault(name, []).append(
                            time.perf_counter() - self.epoch - rec["start"])
            timed.__wrapped__ = fn
            return timed

        wrappers = {key: make(name, fn) for key, (name, fn) in originals.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("streaming_etl_pipeline_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrappers and val is originals[id(val)][1]:
                    setattr(mod, attr, wrappers[id(val)])
                    patched.append((mod, attr, val))
        try:
            yield
        finally:
            for mod, attr, val in patched:
                setattr(mod, attr, val)

    def self_time(self) -> dict[str, float]:
        """Per span name (up to its first ':'): summed duration minus the
        part of each span's interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, reach), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            key = s["name"].split(":")[0]
            out[key] = out.get(key, 0.0) + s["end"] - s["start"] - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)
