"""Outside-in probes for the traced run.

Everything here reads the engine from the benchmark's side: wall clocks
around calls into the engine's public functions, Spark's own status
store, the Catalyst phase tracker of a DataFrame's QueryExecution, the
JVM's GarbageCollector MXBeans, and a StreamingQueryListener registered
through ``spark.streams.addListener``. Nothing inside the engine package
is instrumented.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

CATALYST_PHASES = ("analysis", "optimization", "planning")


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def gc_totals(spark) -> tuple[float, int]:
    """(collection ms, collection count) summed over the JVM's GCs."""
    ms, n = 0, 0
    beans = spark._jvm.java.lang.management.ManagementFactory
    for gc in beans.getGarbageCollectorMXBeans():
        ms += max(0, gc.getCollectionTime())
        n += max(0, gc.getCollectionCount())
    return float(ms), n


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan of ``df``, then read Catalyst's phase
    tracker (ms per phase)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = dict.fromkeys(CATALYST_PHASES, 0.0)
    for name in CATALYST_PHASES:
        summary = phases.get(name)
        if summary.isDefined():
            out[name] = float(summary.get().durationMs())
    return out


class StatusStore:
    """Job/stage totals for work submitted between two marks.

    Spark job and stage IDs come from global monotone counters and the
    store lists jobs newest first, so the jobs of one single-threaded
    call are exactly those with an ID above the newest one seen before
    it, whichever driver thread submitted them.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def settle(self) -> None:
        # The store is fed asynchronously by the listener bus.
        self._sc.listenerBus().waitUntilEmpty()

    def newest_job(self) -> int:
        self.settle()
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def since(self, newest_before: int) -> Counter:
        self.settle()
        jobs = self._store.jobsList(None)
        out: Counter = Counter()
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= newest_before:
                break
            out["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages are never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class ProgressListener(StreamingQueryListener):
    """Sums the micro-batch durations of every streaming progress event
    and the peak state-store size of every query since ``reset()``."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.durations: Counter = Counter()
        self._state: dict[str, tuple[int, int]] = {}

    def totals(self) -> dict[str, float]:
        out = dict(self.durations)
        out["state_rows"] = sum(r for r, _ in self._state.values())
        out["state_memory_bytes"] = sum(m for _, m in self._state.values())
        return out

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        self.durations["trigger_ms"] += d.get("triggerExecution", 0)
        self.durations["add_batch_ms"] += d.get("addBatch", 0)
        self.durations["query_planning_ms"] += d.get("queryPlanning", 0)
        self.durations["commit_ms"] += d.get("commitOffsets", 0) + d.get(
            "walCommit", 0
        )
        rows = sum(s.numRowsTotal for s in p.stateOperators)
        mem = sum(s.memoryUsedBytes for s in p.stateOperators)
        peak = self._state.get(str(p.id), (0, 0))
        self._state[str(p.id)] = (max(peak[0], rows), max(peak[1], mem))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's marker files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


FLOOR_JOBS = 7


def dispatch_floor_ms(spark) -> float:
    """Median wall of a warmed one-row job."""
    spark.range(1).count()
    xs = []
    for _ in range(FLOOR_JOBS):
        t0 = time.perf_counter()
        spark.range(1).count()
        xs.append((time.perf_counter() - t0) * 1000)
    xs.sort()
    return xs[len(xs) // 2]
