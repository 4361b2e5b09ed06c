"""Spans, Spark status-store counters and the Spark JVM's peak RSS.

Spans are kept in memory — name, start, end, parent, run id — and
written out with the artifact when the benchmark ends. When tracing is
on, every span sets a Spark job group before the call it wraps, and on
exit reads the counters of that group's jobs from the application
status store (``sc.statusStore()``), which Spark keeps even with
``spark.ui.enabled=false``. When tracing is off, ``span`` only yields.
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

UNAVAILABLE = "unavailable"


class SparkCounters:
    """Reads per-stage counters for a job group from the status store.

    Any probe that fails records why under ``errors`` instead of
    raising, so a run without the status store still reports its
    timings."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self.errors: list[str] = []

    def for_group(self, group: str, wall_s: float) -> dict:
        try:
            store = self.sc._jsc.sc().statusStore()
            tracker = self.sc.statusTracker()
            job_ids = list(tracker.getJobIdsForGroup(group))
            stage_ids = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = store.stageList(None, False, False, self._quantiles(), None)
        except Exception as exc:  # py4j surfaces JVM errors as several types
            self.errors.append(f"stageList: {exc!r}"[:300])
            return {"status_store": UNAVAILABLE}
        out = {
            "jobs": len(job_ids), "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "task_skew": 1.0,
        }
        heaviest = None
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() not in stage_ids:
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
                heaviest = st
        if heaviest is not None:
            out["task_skew"] = self._skew(store, heaviest)
        busy = out["executor_run_s"] / (wall_s * self.cores) if wall_s > 0 else 0.0
        out["idle_core_ratio"] = max(0.0, 1.0 - busy)
        return out

    def _quantiles(self):
        arr = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        return arr

    def _skew(self, store, stage) -> float:
        """max / median task run time of the span's heaviest stage."""
        try:
            dist = store.taskSummary(
                stage.stageId(), stage.attemptId(), self._quantiles()
            )
            if not dist.isDefined():
                return 1.0
            run = dist.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
        except Exception as exc:  # py4j surfaces JVM errors as several types
            self.errors.append(f"taskSummary: {exc!r}"[:300])
            return 1.0
        return top / med if med > 0 else 1.0

    def cached_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        try:
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        except Exception as exc:  # py4j surfaces JVM errors as several types
            self.errors.append(f"getRDDStorageInfo: {exc!r}"[:300])
            return 0.0


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    bare ``yield`` so untraced runs pay nothing."""

    def __init__(self, spark, cores: int, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.counters = SparkCounters(spark, cores)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.run_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        if not self._stack:
            self.run_id += 1
        rec = {
            "id": next(self._ids), "name": name, "run": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None, **attrs,
        }
        group = f"perfbench-{rec['id']}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                sc._jsc.clearJobGroup()
            rec["spark"] = self.counters.for_group(group, rec["end"] - rec["start"])
            self.spans.append(rec)

    def runs(self, root: str) -> list[list[dict]]:
        """The spans of every run whose root span is named ``root``."""
        by_run: dict[int, list[dict]] = {}
        for s in self.spans:
            by_run.setdefault(s["run"], []).append(s)
        return [
            spans for spans in by_run.values()
            if any(s["name"] == root and s["parent"] is None for s in spans)
        ]


def leaves(spans: list[dict]) -> list[dict]:
    parents = {s["parent"] for s in spans}
    return [s for s in spans if s["id"] not in parents]


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def spark_totals(spans: list[dict], cores: int) -> dict:
    """Spark counters of one run. A job runs under the innermost span
    open when it starts, so the spans' counters add up without double
    counting. Idle is over the root span's wall time; skew is weighted
    by executor run time."""
    tot = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    measured = [s for s in spans if "jobs" in s["spark"]]
    skew = 0.0
    for s in measured:
        for k in tot:
            tot[k] += s["spark"][k]
        skew += s["spark"]["executor_run_s"] * s["spark"]["task_skew"]
    wall = sum(dur(s) for s in spans if s["parent"] is None)
    tot["idle_core_ratio"] = max(0.0, 1.0 - tot["executor_run_s"] / (wall * cores))
    tot["task_skew"] = skew / tot["executor_run_s"] if tot["executor_run_s"] else 1.0
    return tot


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _stat(path: str) -> tuple[str, list[str]]:
    """The command name and the fields after it of a ``stat`` file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


class CpuClock:
    """CPU seconds (user + system) spent so far by the program: the
    Spark JVM's threads, the Python workers it forked, and this Python
    process. The JVM's JIT compiler threads are counted apart: their
    work is the JVM warming up, which goes on for minutes in the
    background and lands on whichever request happens to run. Time the
    host gives to other processes is not counted, so CPU time varies
    far less than wall time when something else runs beside the
    benchmark."""

    def __init__(self, spark) -> None:
        self.pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def _workers(self) -> int:
        """Ticks of the JVM's descendant processes (Python workers),
        with their reaped children's."""
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                _, f = _stat(f"/proc/{entry.name}/stat")
            except OSError:  # the process ended while being read
                continue
            children.setdefault(int(f[1]), []).append(int(entry.name))
        ticks, todo = 0, list(children.get(self.pid, []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                _, f = _stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            ticks += sum(int(x) for x in f[11:15])
        return ticks

    def read(self) -> tuple[float, float]:
        """(program CPU seconds, JIT compiler CPU seconds) so far."""
        app = jit = 0
        for entry in os.scandir(f"/proc/{self.pid}/task"):
            try:
                name, f = _stat(f"{entry.path}/stat")
            except OSError:  # the thread ended while being read
                continue
            ticks = int(f[11]) + int(f[12])
            if "CompilerThre" in name:
                jit += ticks
            else:
                app += ticks
        _, f = _stat(f"/proc/{self.pid}/stat")
        app += int(f[13]) + int(f[14]) + self._workers()
        t = os.times()
        return app / self.tick + t.user + t.system, jit / self.tick

    def __call__(self) -> float:
        return self.read()[0]


def calibrate() -> float:
    """CPU seconds (user + system, all threads) of one ``spark-submit
    --version``: a JVM start that loads Spark's classes and runs none of
    the program's code, so its cost follows only how fast the host is
    right now. Its JVM compiles with C1 alone, which keeps the cost
    within ~2% from one call to the next (with C2 too, ~6%)."""
    import resource

    import pyspark

    cmd = [os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"), "--version"]
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = f"{env.get('JAVA_TOOL_OPTIONS', '')} -XX:TieredStopAtLevel=1"
    r0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True, env=env)
    r1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r1.ru_utime - r0.ru_utime + r1.ru_stime - r0.ru_stime


def jvm_peak_rss_mb(spark) -> float | str:
    """VmHWM of the Spark JVM, from /proc/<pid>/status."""
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, Py4JError) as exc:
        return f"{UNAVAILABLE}: {exc!r}"
    return f"{UNAVAILABLE}: no VmHWM line"
