"""Measurement plumbing shared by the workloads: percentiles, a process-tree
RSS sampler, in-memory spans, Spark session start/stop and the status-store
diff that attributes engine work (jobs, stages, tasks) to one action."""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


# ------------------------------------------------------------ process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we walked
            continue
        # comm may contain spaces/parens: the ppid follows the LAST ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb(root: int) -> float:
    kids, total, todo = _children_map(), 0.0, [root]
    while todo:
        pid = todo.pop()
        exe = _exe(pid)
        for c in kids.get(pid, []):
            # a child the JVM has spawned but that has not exec'd its program
            # yet still runs in the JVM's memory (posix_spawn uses vfork):
            # counting it would add the whole JVM a second time
            if not (exe and os.path.basename(exe) == "java" and _exe(c) == exe):
                todo.append(c)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_MB
        except OSError:  # exited while we walked
            continue
    return total


class PeakRss:
    """Background sampler of the summed RSS of this process and every
    descendant (the JVM and the Python workers); samples from construction
    until stop()."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            if self._stop.wait(self.interval):
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb


def wait_for_children(timeout: float = 60.0) -> None:
    """Block until every process this one started has exited."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            raise RuntimeError(f"child processes still running: {descendants(os.getpid())}")
        time.sleep(0.1)


# ------------------------------------------------------------------- spans

class Tracer:
    """Spans (name, start, end, parent) kept in memory; a disabled tracer
    records nothing, so untraced runs pay one no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def annotate(self, **attrs) -> None:
        """Attach attributes to the innermost open span."""
        if self._stack:
            self.spans[self._stack[-1]].update(attrs)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------------- spark

def start_spark(cores: int, profile: bool):
    """get_spark with the benchmark's explicit master and core count.
    profile=True turns on the Python UDF perf profiler (cProfile inside
    every mapInPandas body)."""
    from nlp_cube_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if profile:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the py4j gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def storage_mb(spark) -> float:
    """Memory + disk held by persisted RDDs (checkpoint blocks included)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


class StatusStore:
    """Engine work attributed to one action by diffing the status store's
    job list before and after it. Unlike job groups this also catches jobs
    that an action fires from its own threads."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def _jobs(self) -> list:
        self._sc.listenerBus().waitUntilEmpty()  # job-end events are async
        seq = self._store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def job_ids(self) -> set[int]:
        return {j.jobId() for j in self._jobs()}

    def since(self, before: set[int]) -> dict:
        jobs = [j for j in self._jobs() if j.jobId() not in before]
        out = {"jobs": len(jobs), "count": 0, "skipped": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0}
        seen: set[int] = set()
        for j in jobs:
            ids = j.stageIds()
            for sid in (ids.apply(i) for i in range(ids.size())):
                if sid in seen:
                    continue
                seen.add(sid)
                out["count"] += 1
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED" or st.submissionTime().isEmpty():
                    out["skipped"] += 1
                    continue
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
        return out
