"""Shared plumbing for the perfbench workloads: the sandboxed work
directory, the Spark session and its shutdown, memory and JVM probes,
provenance, the per-layer tracer, and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# the run length BENCHMARK.json sets (run_seconds)
RUN_SECONDS = 12
# a heap small enough to fill, so peak RSS reads the same from run to run
DRIVER_MEM = "1g"


def prepare_env(run_id: str) -> str:
    """Point every scratch location of Python, Spark and the JVM inside
    the checkout, before any of them starts. Returns the run's own
    directory, which the caller removes at the end."""
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(app: str):
    from es_analytics_spark.session import get_spark

    spark = get_spark(app, cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_s(spark) -> float:
    """CPU seconds (user + system) used so far by this process and the
    JVM. Unlike wall time it leaves out what the hypervisor steals."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return ru.ru_utime + ru.ru_stime + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compiler threads have spent compiling."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def jvm_gc_heap(spark) -> tuple[float, float]:
    """(total GC seconds, peak heap MB summed over the heap pools)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return gc_ms / 1000.0, heap / 2**20


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two ``cpu_ticks`` readings: other guests' load shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def source_sha() -> str:
    """Content hash of the engine's sources (the checkout need not be a
    git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "es_analytics_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(base, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def drive(round_fn, seconds: float, tracer, min_rounds: int = 3) -> list[dict]:
    """Closed loop over whole rounds: ``round_fn(i)`` for i = 0, 1, ...,
    at least ``min_rounds`` of them and on until ``seconds`` have passed
    since round 0 ended (round 0 is the cold one, reported apart). In a
    traced run odd rounds are traced and even ones are not, so the run
    also holds the untraced rounds its tracing overhead is taken
    against. Each round's dict gets a ``traced`` flag and its wall time
    (checks included) as ``wall_s``."""
    rounds: list[dict] = []
    t_open = 0.0
    i = 0
    while i < min_rounds or time.perf_counter() - t_open < seconds:
        tracer.active = tracer.enabled and i % 2 == 1
        t = time.perf_counter()
        res = round_fn(i)
        res["wall_s"] = time.perf_counter() - t
        res["traced"] = tracer.active
        rounds.append(res)
        if i == 0:
            t_open = time.perf_counter()
        i += 1
    tracer.active = False
    return rounds


def hot(rounds: list[dict], traced: bool = False) -> list[dict]:
    """The rounds after the cold one, untraced (or traced)."""
    return [r for r in rounds[1:] if r["traced"] == traced]


def overhead(rounds: list[dict], total) -> float:
    """Median traced round minus median untraced round, by ``total``."""
    traced = hot(rounds, traced=True)
    if not traced:
        return 0.0
    return (statistics.median(total(r) for r in traced)
            - statistics.median(total(r) for r in hot(rounds)))


class Tracer:
    """Spans around calls into the engine's public functions, recorded
    from the benchmark's side by wrapping module attributes for the
    duration of a traced run (the engine itself is not changed). A span
    is a dict: name, parent span name, seconds, whether it had child
    spans, and the Spark jobs, stages and tasks it ran. Spark work is
    attributed through a job group set for the span's duration, so a
    span counts only the jobs that ran outside its child spans.
    ``active`` switches recording per round, so one traced run also
    holds untraced rounds to measure the tracing overhead against."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._undo: list[tuple[object, str, object]] = []
        self._stack: list[dict] = []
        self._seq = 0

    def wrap(self, owner, attr: str, name, spark_work: bool = True, size=None) -> None:
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            nm = name(a, kw) if callable(name) else name
            if size is not None:
                tracer.add(nm + ".bytes", size(a, kw))
            return tracer.call(nm, fn, a, kw, spark_work)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def call(self, name, fn, a, kw, spark_work=True):
        sc = self.spark.sparkContext
        group = None
        if spark_work:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent["leaf"] = False
        frame = {"name": name, "group": group, "leaf": True,
                 "parent": parent["name"] if parent else None}
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            frame["s"] = time.perf_counter() - t0
            self._stack.pop()
            frame["jobs"] = frame["stages"] = frame["tasks"] = 0
            if group is not None:
                outer = next((f["group"] for f in reversed(self._stack) if f["group"]), None)
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, outer)
                frame["jobs"], frame["stages"], frame["tasks"] = job_counts(self.spark, group)
            self.spans.append(frame)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def of(self, name: str, top: bool = False) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and not (top and s["parent"])]


def job_counts(spark, group: str) -> tuple[int, int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = list(st.getJobIdsForGroup(group) or [])
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
