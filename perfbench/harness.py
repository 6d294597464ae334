"""Shared pieces of the benchmark: spans, Spark's own accounting, memory,
environment record and the order-independent output check.

Nothing here imports Spark at module load; the reader classes take a live
session. Spans are recorded only around calls the benchmark makes into the
library's public API: the library itself is not instrumented.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from typing import Optional


# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) with counts
    attached at the same boundaries. A disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, value) -> None:
        """Attach a count to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]]["counts"][key] = value

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it the span's children cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (rec["end"] - rec["start"]) - covered

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counts(self, name: str, key: str) -> list:
        return [
            s["counts"][key]
            for s in self.spans
            if s["name"] == name and key in s["counts"]
        ]

    def dump(self, path: str) -> None:
        out = []
        for s in self.spans:
            d = dict(s)
            d["self_s"] = self.self_time(s)
            out.append(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": out}, f)


# -- Spark's accounting from the status stores ---------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or a count.
    Task-aggregated metrics read 'total (min, med, max ...)\\n<total> (...)';
    driver-side ones are the bare value."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


#: SQL metric name → per-layer metric it feeds (summed over plan nodes)
SQL_METRICS = {
    "time to run Python workers": "exec.python_run_s",
    "time to initialize Python workers": "exec.python_init_s",
    "data sent to Python workers": "exec.python_bytes_sent",
    "data returned from Python workers": "exec.python_bytes_returned",
    "size of files read": "sources.scan_bytes",
    "scan time": "sources.scan_s",
}

_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class SparkAccounting:
    """Reads what Spark recorded for the work since a mark: the SQL store
    (plan-node metrics and the AQE-final plan graph) and the stage store
    (task times, shuffle, spill, memory, skew)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark._jvm
        self._stage_args = (
            jvm.java.util.ArrayList(),
            False,
            False,
            spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def mark(self) -> tuple[int, int]:
        ex = [e.executionId() for e in _iter(self.sql.executionsList())]
        st = [s.stageId() for s in _iter(self.app.stageList(*self._stage_args))]
        return (max(ex, default=-1), max(st, default=-1))

    def since(self, mark: tuple[int, int]) -> dict:
        ex_mark, st_mark = mark
        out = {k: 0.0 for k in SQL_METRICS.values()}
        plan = {"plan.exchanges": 0, "plan.windows": 0, "plan.sorts": 0,
                "plan.python_stages": 0}
        for e in _iter(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= ex_mark:
                continue
            names = {m.accumulatorId(): m.name() for m in _iter(e.metrics())}
            vals = self.sql.executionMetrics(eid)
            for acc, name in names.items():
                key = SQL_METRICS.get(name)
                if key is None:
                    continue
                v = vals.get(acc)
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())
            for node in _iter(self.sql.planGraph(eid).allNodes()):
                n = node.name()
                if n in ("Exchange", "BroadcastExchange"):
                    plan["plan.exchanges"] += 1
                elif n == "Window":
                    plan["plan.windows"] += 1
                elif n == "Sort":
                    plan["plan.sorts"] += 1
                elif _PY_NODE.search(n):
                    plan["plan.python_stages"] += 1
        out.update(plan)
        ex = {"exec.task_cpu_s": 0.0, "exec.task_run_s": 0.0, "exec.gc_s": 0.0,
              "exec.tasks": 0, "exec.failed_tasks": 0,
              "exec.shuffle_write_bytes": 0, "exec.shuffle_read_bytes": 0,
              "exec.fetch_wait_s": 0.0, "exec.spill_bytes": 0,
              "exec.peak_mem_bytes": 0, "exec.task_skew": 1.0}
        slowest, slowest_run = None, -1
        for s in _iter(self.app.stageList(*self._stage_args)):
            if s.stageId() <= st_mark or str(s.status()) == "SKIPPED":
                continue
            ex["exec.task_cpu_s"] += s.executorCpuTime() / 1e9
            ex["exec.task_run_s"] += s.executorRunTime() / 1e3
            ex["exec.gc_s"] += s.jvmGcTime() / 1e3
            ex["exec.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            ex["exec.failed_tasks"] += s.numFailedTasks()
            ex["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            ex["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            ex["exec.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            ex["exec.spill_bytes"] += s.diskBytesSpilled()
            ex["exec.peak_mem_bytes"] = max(
                ex["exec.peak_mem_bytes"], s.peakExecutionMemory()
            )
            if s.executorRunTime() > slowest_run:
                slowest, slowest_run = s, s.executorRunTime()
        if slowest is not None:
            durs = []
            for t in _iter(self.app.taskList(slowest.stageId(), slowest.attemptId(),
                                             1 << 30)):
                d = t.duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            med = statistics.median(durs) if durs else 0.0
            if med > 0:
                ex["exec.task_skew"] = max(durs) / med
        out.update(ex)
        return out


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# -- memory and environment ----------------------------------------------


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat_fields(f"/proc/{d}/stat")
        if st is None or len(st[1]) < 2:
            continue
        kids.setdefault(int(st[1][1]), []).append(int(d))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak resident memory of the JVM plus the processes under it (the
    Python daemon and its workers), in MiB. The JVM's VmHWM is its own
    peak; workers come and go, so their summed VmHWM is sampled at each
    ``sample()`` and the largest sum kept."""

    def __init__(self, jvm_pid: int) -> None:
        self.pid = jvm_pid
        self.workers_kb = 0

    def sample(self) -> None:
        kids = _proc_children()
        total, todo = 0, list(kids.get(self.pid, []))
        while todo:
            pid = todo.pop()
            total += _vm_hwm_kb(pid)
            todo.extend(kids.get(pid, []))
        self.workers_kb = max(self.workers_kb, total)

    def mb(self) -> tuple[float, float]:
        """(JVM + workers, JVM alone)."""
        self.sample()
        jvm = _vm_hwm_kb(self.pid) / 1024.0
        return jvm + self.workers_kb / 1024.0, jvm


_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> Optional[tuple[str, list[str]]]:
    """(comm, fields after it) of a /proc stat file, or None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    return head[head.find("(") + 1:], rest.split()


def _cpu_s(fields: list[str]) -> float:
    """utime + stime in seconds."""
    return (int(fields[11]) + int(fields[12])) / _TICK


class WorkCpu:
    """CPU seconds the program spends on its work: this process, the JVM
    and the processes under it (the Python daemon and its workers), less
    the JVM's JIT compiler threads.

    CPU time, not wall time, because on a shared host the vCPUs lose a
    varying share of every second to other tenants (steal time), which
    stretches walls but not the CPU a process is charged. JIT compilation
    is left out because it is JVM warm-up, not per-row work: it still runs
    several iterations after the timed loop starts (the JVM is started
    with a fixed set of compiler threads, so their count is complete).

    The daemon ignores SIGCHLD, so a worker that exits takes its CPU time
    with it: nothing reaps it into a parent's count. A sampler thread
    therefore records every process of the tree each ``interval`` and
    keeps the last reading of those that are gone; a worker loses at most
    one interval. The sampler's own CPU, and that of threads the benchmark
    runs (the stream generator) are subtracted."""

    def __init__(self, jvm_pid: int, interval: float = 0.1) -> None:
        import threading

        self.pid = jvm_pid
        self.interval = interval
        #: (pid, start time) → last CPU reading, dead processes included
        self._seen: dict[tuple[int, str], float] = {}
        self._sampler_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._compilers = [
            tid for tid in os.listdir(f"/proc/{jvm_pid}/task")
            if "Compiler" in (_stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
                              or ("",))[0]
        ]
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _scan(self) -> None:
        kids = _proc_children()
        todo = [self.pid]
        while todo:
            pid = todo.pop()
            st = _stat_fields(f"/proc/{pid}/stat")
            if st is not None:
                self._seen[(pid, st[1][19])] = _cpu_s(st[1])
            todo.extend(kids.get(pid, []))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            c0 = time.thread_time()
            with self._lock:
                self._scan()
                self._sampler_s += time.thread_time() - c0

    def jit_s(self) -> float:
        total = 0.0
        for tid in self._compilers:
            st = _stat_fields(f"/proc/{self.pid}/task/{tid}/stat")
            if st is not None:
                total += _cpu_s(st[1])
        return total

    def read(self) -> tuple[float, float]:
        """(work CPU, JIT CPU), cumulative seconds."""
        with self._lock:
            self._scan()
            tree = sum(self._seen.values())
            sampler = self._sampler_s
        own = os.times()
        jit = self.jit_s()
        return tree + own.user + own.system - sampler - jit, jit

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- statistics ------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(samples: list) -> tuple[Optional[float], Optional[float]]:
    """(percentile, value) at the highest of a fixed ladder that leaves at
    least ten samples beyond it; (None, None) when even p50 does not."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10:
            idx = min(n - 1, int(round(p / 100.0 * (n - 1))))
            return p, xs[idx]
    return None, None


# -- output check --------------------------------------------------------


def mismatches(con, got: str, ref: str, keys: list[str], float_cols=(),
               rel_tol: float = 1e-9) -> int:
    """Rows that differ between two DuckDB relations, order-independent.

    Rows pair up on ``keys`` (which must be unique in both); a row present
    on one side only counts once, a paired row counts once if any column
    differs. Non-float columns compare exactly (NULL equals NULL); columns
    in ``float_cols`` within ``rel_tol`` of the reference."""
    cols = [
        r[0] for r in con.execute(f"SELECT * FROM {ref} LIMIT 0").description
    ]
    on = " AND ".join(f"g.{k} IS NOT DISTINCT FROM r.{k}" for k in keys)
    diffs = []
    for c in cols:
        if c in keys:
            continue
        if c in float_cols:
            # NULL against a number is a difference, not an unknown
            diffs.append(
                f"(g.{c} IS DISTINCT FROM r.{c} AND coalesce("
                f"abs(g.{c} - r.{c}) > {rel_tol} * greatest(1.0, abs(r.{c})), TRUE))"
            )
        else:
            diffs.append(f"g.{c} IS DISTINCT FROM r.{c}")
    differ = " OR ".join(diffs) if diffs else "FALSE"
    dup = (
        f"SELECT (SELECT count(*) - count(DISTINCT ({', '.join(keys)})) FROM {got})"
        f" + (SELECT count(*) - count(DISTINCT ({', '.join(keys)})) FROM {ref})"
    )
    if con.execute(dup).fetchone()[0]:
        raise ValueError(f"check keys {keys} are not unique")
    sql = (
        f"SELECT count(*) FROM (SELECT * FROM {got}) g "
        f"FULL OUTER JOIN (SELECT * FROM {ref}) r ON {on} "
        f"WHERE g.{keys[0]} IS NULL AND r.{keys[0]} IS NOT NULL "
        f"OR r.{keys[0]} IS NULL AND g.{keys[0]} IS NOT NULL "
        f"OR ({differ})"
    )
    return int(con.execute(sql).fetchone()[0])
