"""Counters read from outside the engine: Spark's status store, the
Spark caches left between passes, and the memory of the process tree.

Nothing here changes what the engine computes. The status store is the
one Spark keeps for its UI; it is filled with ``spark.ui.enabled=false``
too, and reached through py4j.
"""

from __future__ import annotations

import os
import threading
import time

HEAP_GC_ROUNDS = 4  # collections live_heap_bytes takes the least of
HEAP_GC_SETTLE_S = 0.5  # pause after each, for asynchronous releases
RSS_PERIOD_S = 0.2  # RssSampler's sampling period
STOP_TIMEOUT_S = 60.0  # wait for the JVM and its workers to exit

#: StageData getters summed per job group, and the per-layer metric
#: names they feed (time in ms, sizes in bytes in the status store)
STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StageReader:
    """Reads stage metrics of finished jobs, each stage attempt once,
    keyed by the job group (the span id) that started it. Call
    :meth:`collect` after every pass: the store keeps a bounded number
    of jobs and stages."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()

    def collect(self) -> dict[str | None, dict[str, float]]:
        group_of: dict[int, str | None] = {}
        out: dict[str | None, dict[str, float]] = {}
        for job in _seq(self.store.jobsList(None)):
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            for sid in _seq(job.stageIds()):
                group_of[int(sid)] = group
            if int(job.jobId()) not in self._seen_jobs:
                self._seen_jobs.add(int(job.jobId()))
                out.setdefault(group, _zero())["jobs"] += 1
        gw = self.spark.sparkContext._gateway
        stages = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for st in _seq(stages):
            key = (int(st.stageId()), int(st.attemptId()))
            if key in self._seen_stages or st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(key)
            m = out.setdefault(group_of.get(key[0]), _zero())
            for f in STAGE_FIELDS:
                m[f] += float(getattr(st, f)())
        return out


def _zero() -> dict[str, float]:
    return dict.fromkeys(("jobs",) + STAGE_FIELDS, 0.0)


def add_into(total: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v


def persisted_rdds(spark) -> int:
    """How many RDDs are persisted (locally-checkpointed ones included)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def isolate(spark) -> int:
    """Drop what a pass left cached so the next pass starts cold:
    clear the CacheManager and unpersist every persisted RDD (which
    includes locally-checkpointed ones). Returns how many persisted
    RDDs were left before the clearing."""
    left = spark.sparkContext._jsc.getPersistentRDDs()
    n = int(left.size())
    spark.catalog.clearCache()
    for rdd in list(left.values()):
        rdd.unpersist(True)
    return n


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_seconds() -> float:
    """User plus system CPU seconds of this process and every live
    descendant, with the children each has already reaped. Time the
    hypervisor steals from the machine is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def live_heap_bytes(spark) -> int:
    """JVM heap in use after a full collection: what the session keeps
    alive (cached blocks, broadcasts, status), not what it has touched.
    JVM objects are released asynchronously (py4j drops the ones dead
    Python objects held, Spark's ContextCleaner the blocks of collected
    broadcasts and shuffles), so this collects Python and the JVM
    HEAP_GC_ROUNDS times, HEAP_GC_SETTLE_S apart, and keeps the least."""
    import gc

    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    least = None
    for _ in range(HEAP_GC_ROUNDS):
        gc.collect()
        jvm.java.lang.System.gc()
        used = int(rt.totalMemory() - rt.freeMemory())
        least = used if least is None else min(least, used)
        time.sleep(HEAP_GC_SETTLE_S)
    return least


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and Spark's Python workers), sampled every RSS_PERIOD_S
    while running."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def stop_spark(spark) -> None:
    """Stop the session, close the py4j gateway and wait until the JVM
    and every process it started have exited; kill what is left."""
    import signal
    import subprocess

    from pyspark import SparkContext

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
