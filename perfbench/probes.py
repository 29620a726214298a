"""Measurement helpers that live outside the program under test.

- ``MemSampler``: peak summed proportional set size (PSS) of every
  descendant of this process (the JVM and its Python workers), read from
  ``/proc``. PSS splits pages shared by forked workers among them, so the
  sum counts each page once, where summed RSS would count it per worker.
- ``tree_cpu_s`` and ``steal_s``: CPU time of a process tree, and CPU
  time the host stole from the VM, for the per-operation log line.
- ``Tracer``: in-memory spans (name, start, end, parent, run id). A span
  that names a layer runs its Spark jobs under ``setJobGroup(<layer>#<n>)``;
  on exit it reads that group's per-stage task metrics from the status
  store and the SQL metrics of the group's query executions.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and its descendants (with the
    children each has reaped). Time the hypervisor stole from the VM is
    not in it."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def steal_s() -> float:
    """CPU time stolen from this VM, summed over its CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


SAMPLE_S = 0.2  # PSS sampling period
RESCAN = 5  # samples between rescans of the process list


class MemSampler:
    """Samples the summed PSS of this process's descendants every
    SAMPLE_S seconds on a daemon thread; ``peak_mb`` is the maximum."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, pids, n = os.getpid(), [], 0
        while not self._stop.is_set():
            if n % RESCAN == 0:
                pids = descendants(me)
            n += 1
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in pids))
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# --- Spark status readers ------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric value: ``'1,234'``, ``'4.2 MiB'``
    or ``'total (min, med, max ...)\\n3.1 s (...)'``. Sizes come back in
    bytes and times in seconds."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


@dataclass
class GroupMetrics:
    """Task and SQL metrics of every job one job group ran."""

    run_s: float = 0.0  # executorRunTime, task-seconds
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    failed_tasks: int = 0
    sql: dict[str, float] = field(default_factory=dict)  # metric name -> total

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def group_metrics(spark, group: str, sql: bool = False) -> GroupMetrics:
    """``sql`` adds the SQL operator metrics (one py4j round trip per
    metric, so only for spans that report them)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    out = GroupMetrics()
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for j in job_ids:
        job = store.job(j)
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            at = attempts.iterator()
            while at.hasNext():
                sd = at.next()
                out.run_s += sd.executorRunTime() / 1000.0
                out.cpu_s += sd.executorCpuTime() / 1e9
                out.gc_s += sd.jvmGcTime() / 1000.0
                out.shuffle_write_bytes += sd.shuffleWriteBytes()
                out.fetch_wait_s += sd.shuffleFetchWaitTime() / 1000.0
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out.peak_exec_mem_bytes = max(
                    out.peak_exec_mem_bytes, sd.peakExecutionMemory()
                )
                out.failed_tasks += sd.numFailedTasks()
    if not sql:
        return out
    # SQL operator metrics of the group's query executions (AQE re-plans
    # list a metric more than once: count each accumulator once)
    sql_store = spark._jsparkSession.sharedState().statusStore()
    it = sql_store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        ex_jobs = {int(k) for k in re.findall(r"(\d+) ->", ex.jobs().toString())}
        if not ex_jobs & job_ids:
            continue
        values = sql_store.executionMetrics(ex.executionId())
        seen = set()
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            acc = m.accumulatorId()
            v = values.get(acc)
            if acc in seen or not v.isDefined():
                continue
            seen.add(acc)
            out.sql[m.name()] = out.sql.get(m.name(), 0.0) + parse_sql_metric(v.get())
    return out


# --- spans ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    layer: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None, sql: bool = False):
        """``layer`` puts the body's Spark jobs in their own job group and
        attaches that group's metrics as ``attrs['spark']`` (with the SQL
        operator metrics when ``sql`` is set)."""
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  layer=layer)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        group = f"{layer}#{idx}" if layer else None
        if group:
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                sc.setJobGroup(f"unlabelled#{idx}", "")
                sp.attrs["spark"] = group_metrics(self.spark, group, sql).as_dict()

    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its direct children's intervals."""
        sp = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": i, "name": s.name, "layer": s.layer, "parent": s.parent,
                "run_id": self.run_id, "start_s": s.start - t0, "end_s": s.end - t0,
                "wall_s": s.wall, "self_s": self.self_time(i), "attrs": s.attrs,
            }
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows, **extra}, f, indent=1)
