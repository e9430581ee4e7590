"""Shared pieces of the benchmark: the work directory, box context,
statistics, the span tracer, and Spark attribution read from outside the
program (AppStatusStore and /proc).

Every file the benchmark writes lives under ``WORK`` inside the checkout;
``run.py`` points TMPDIR, Spark's local dirs and every JVM's tmpdir there
before pyspark is imported.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


# --------------------------------------------------------------- box context


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) if len(fields) > 8 else 0


class BoxContext:
    """nproc, load average at start and end, and CPU-steal ticks over the
    run. Printed with every run to explain noise, never used to drop one."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self.steal_start = _steal_ticks()

    def finish(self) -> dict:
        return {
            "nproc": nproc(),
            "load_start": self.load_start,
            "load_end": os.getloadavg()[0],
            "steal_ticks": _steal_ticks() - self.steal_start,
        }


# -------------------------------------------------------------------- tracer


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent). Disabled tracers record
    nothing, so untraced runs pay one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        covered = 0.0
        cur_end = sp.start
        for c in sorted(self.children(idx), key=lambda s: s.start):
            lo, hi = max(c.start, cur_end), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return sp.dur - covered

    def self_by_name(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree under ``root``."""
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            name = self.spans[i].name
            out[name] = out.get(name, 0.0) + self.self_time(i)
            todo.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [{"name": s.name, "start": s.start, "end": s.end, "parent": s.parent} for s in self.spans],
                fh,
            )


# ------------------------------------------------------- /proc process stats


def proc_cpu_seconds(pid: int) -> float:
    with open(f"/proc/{pid}/stat", "rb") as fh:
        raw = fh.read().decode("latin-1")
    fields = raw[raw.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def python_worker_pids() -> list[int]:
    """Python processes under the JVM this process started: the pyspark
    daemon and its forked workers (local mode)."""
    procs: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read().decode("latin-1")
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        procs[int(entry)] = (ppid, comm)
    jvms = [p for p, (pp, comm) in procs.items() if pp == os.getpid() and comm == "java"]
    out, frontier = [], list(jvms)
    while frontier:
        cur = frontier.pop()
        for p, (pp, comm) in procs.items():
            if pp == cur:
                frontier.append(p)
                if comm.startswith("python"):
                    out.append(p)
    return out


def python_worker_peak_rss_mb() -> float:
    peaks = []
    for pid in python_worker_pids():
        try:
            peaks.append(proc_peak_rss_mb(pid))
        except OSError:
            continue
    return max(peaks) if peaks else 0.0


# ------------------------------------------------------ Spark status reading


def spark_conf() -> dict[str, str]:
    """Session settings that keep Spark's warehouse inside the checkout and
    the console quiet. Everything else is the program's own defaults."""
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def cpu_totals(spark) -> tuple[float, float]:
    """(JVM task CPU, Python worker CPU) seconds so far, from the readers
    ``bench.py`` already uses."""
    import bench

    return bench._settled_cum_task_seconds(spark)[0], bench._python_worker_cpu_seconds()


def cpu_delta(before: tuple[float, float], after: tuple[float, float]) -> tuple[float, float]:
    """CPU between two ``cpu_totals`` readings. The Python reading drops
    when a worker exits (the daemon, not the JVM, reaps it), so that part
    is clamped at 0, as ``bench.py`` clamps it."""
    return after[0] - before[0], max(0.0, after[1] - before[1])


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle and spill of every job
    tagged with ``setJobGroup(group, ...)``, from the AppStatusStore."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs = store.jobsList(gw.jvm.java.util.ArrayList())
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if g.isDefined() and g.get() == group:
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    out = {"jobs": float(n_jobs), "stages": 0.0, "tasks": 0.0,
           "shuffle_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["shuffle_mb"] += (s.shuffleReadBytes() + s.shuffleWriteBytes()) / 1e6
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
    return out


def settle(spark) -> None:
    """Wait until the status store has caught up with finished stages."""
    import bench

    bench._settled_cum_task_seconds(spark)


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, end the JVM this process launched, and wait
    until it and its Python workers have exited."""
    from pyspark import SparkContext

    workers = python_worker_pids()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(workers, timeout=30)


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(suffix))
    return total
