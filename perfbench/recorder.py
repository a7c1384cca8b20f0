"""Traced-run recorder and host sampling.

`Recorder.call` wraps every call the benchmark makes into a module's
public function. Untraced it only times the call. Traced it also opens
a span (name, start, end, parent), runs the call under its own Spark
job group, and after the call returns reads the group's counters from
Spark's own status stores:

- stage counters from ``statusStore().lastStageAttempt(sid)``;
- the Python/Arrow SQL metrics ("data sent to Python workers", "time to
  run Python workers") from the SQL status store of the shared state.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from collections import defaultdict

COUNTERS = ("wall_s", "jobs", "cpu_s", "gc_s", "shuffle_bytes", "py_in_bytes", "py_run_s")

_PY_METRICS = {
    "data sent to Python workers": "py_in_bytes",
    "time to run Python workers": "py_run_s",
}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([-0-9.]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """SQL metric strings read either "3 ms" or
    "total (min, med, max ...)\\n60.8 MiB (4.1 MiB, ...)"; return the
    total in bytes or seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1)), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _java_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


class Recorder:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracing = False
        self.spans: list[dict] = []
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.overhead_s = 0.0  # time spent in the recorder around traced calls
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    def call(self, name: str, fn, *args, **kwargs):
        """Run `fn(*args, **kwargs)` as the call `name`
        ("<module>.<call>") and return its result."""
        if not self.tracing:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.walls[name].append(time.perf_counter() - t0)
            return out
        entered = time.perf_counter()
        span_id = next(self._ids)
        group = f"perfbench-{span_id}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        first_exec = sql.executionsCount()
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setJobGroup(f"perfbench-{parent}" if parent else "perfbench-idle", "")
        self.walls[name].append(wall)
        span = {"id": span_id, "parent": parent, "name": name, "start": start,
                "end": start + wall, "wall_s": wall,
                **self._group_counters(group, sql, first_exec)}
        self.spans.append(span)
        self.overhead_s += time.perf_counter() - entered - wall
        return out

    def _group_counters(self, group: str, sql, first_exec: int) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(COUNTERS[1:], 0.0)
        out["jobs"] = len(job_ids)
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a stage skipped via a reused shuffle has no attempt
                continue
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        if job_ids:
            self._python_metrics(job_ids, sql, first_exec, out)
        return out

    @staticmethod
    def _python_metrics(job_ids: set, sql, first_exec: int, out: dict) -> None:
        # only executions started since the call began can hold its jobs
        for ex in _java_iter(sql.executionsList(first_exec, 1 << 30)):
            ex_jobs = {int(j) for j in _java_iter(ex.jobs().keySet())}
            if not ex_jobs & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            seen = set()
            for m in _java_iter(ex.metrics()):
                key = _PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_sql_metric(v.get())

    def per_call(self) -> dict[str, dict[str, float]]:
        """Mean counters per call, over the traced calls of each name."""
        sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        counts: dict[str, int] = defaultdict(int)
        for s in self.spans:
            counts[s["name"]] += 1
            for c in COUNTERS:
                sums[s["name"]][c] += s[c]
        return {n: {c: sums[n][c] / counts[n] for c in COUNTERS} for n in counts}


# ---------------------------------------------------------------- host


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(pid))
    return kids


def descendants(root: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def _kind(pid: int) -> str | None:
    """"jvm", "worker" or None, from the command line, as bench.py's
    _sample_worker_rss tells them apart."""
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        cmd = f.read()
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "worker"
    return "jvm" if b"java" in cmd else None


class RssSampler:
    """Background sampler of JVM + Python-worker RSS (this process's
    descendants, read from /proc) every `INTERVAL_S`; records peaks
    between `reset()` calls. The process list is rescanned every `RESCAN`
    samples, so a tick reads only a few statm files."""

    INTERVAL_S = 0.2
    RESCAN = 10

    def __init__(self):
        self._pids: dict[int, str] = {}
        self._ticks = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self.peak_total = self.peak_jvm = self.peak_workers = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak_total = self.peak_jvm = self.peak_workers = 0.0

    def sample(self) -> None:
        if self._ticks % self.RESCAN == 0:
            pids = {}
            for pid in descendants():
                try:
                    kind = _kind(pid)
                except OSError:
                    continue
                if kind:
                    pids[pid] = kind
            self._pids = pids
        self._ticks += 1
        rss = {"jvm": 0.0, "worker": 0.0}
        for pid, kind in self._pids.items():
            try:
                rss[kind] += _rss_mb(pid)
            except (OSError, ValueError, IndexError):
                continue
        with self._lock:
            self.peak_jvm = max(self.peak_jvm, rss["jvm"])
            self.peak_workers = max(self.peak_workers, rss["worker"])
            self.peak_total = max(self.peak_total, rss["jvm"] + rss["worker"])

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def storage_retained_mb(sc) -> float:
    """Block-storage bytes (memory + disk) still held by cached or
    checkpointed RDDs."""
    total = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return total / 2**20


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / 2**20


def environment(spark) -> dict:
    """What a later run needs to compare like with like."""
    import numpy
    import platform

    import pyspark

    mem_total = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total = int(line.split()[1]) * 1024
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.execution.arrow.pyspark.enabled", "spark.python.worker.reuse",
            "spark.local.dir")
    return {
        "nproc": os.cpu_count(),
        "mem_total_bytes": mem_total,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "confs": {k: conf[k] for k in keep if k in conf},
    }
