"""Per-layer probes read from outside the package: the Spark status store
(jobs, stages, task metrics) through py4j, a StreamingQueryListener, the
query-execution phase tracker, the session caches, and host noise.

All reads happen after an operation has returned, outside its timed
interval. The only probe active while an operation runs is the streaming
listener, which the benchmark registers in traced passes only.
"""

from __future__ import annotations

import os
import time

from pyspark.sql.streaming import StreamingQueryListener

from ai_data_pipeline_spark import session as session_mod

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Cumulative CPU steal of the host, all CPUs, in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def calibrate_s() -> float:
    """Time a fixed pure-Python loop; drifts with host contention only."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process, by process ``root`` and by
    all of its descendants, including descendants that have exited and
    been reaped (Spark's Python workers). Time the hypervisor stole from
    these processes is not charged to them."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # after the name: state ppid ... utime(11) stime cutime cstime
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    keep, frontier = {os.getpid(), root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in keep if p in stats) / _CLK_TCK


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cache_entries(spark) -> int:
    """Entries currently held in the session_scoped_cache of ``spark``."""
    caches = session_mod._SESSION_CACHES.get(spark) or {}
    return sum(len(ns) for ns in caches.values())


def drop_session_caches(spark) -> None:
    """Forget the session caches, so the next pass fills them again."""
    session_mod._SESSION_CACHES.pop(spark, None)


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.batches = 0
        self.batch_ms = 0
        self.input_rows = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        self.batch_ms += p.durationMs.get("triggerExecution", 0)
        self.input_rows += p.numInputRows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


class EngineProbe:
    """Attributes the Spark jobs, stages and tasks run since ``mark()`` to
    the operation that ran in between (one client, closed loop)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gw = spark.sparkContext._gateway
        self._no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        self.listener = _StreamListener()
        spark.streams.addListener(self.listener)
        self._last_job = self._max_job_id()
        self._cache_before = 0
        self._stream_before = (0, 0, 0)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def _max_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def mark(self) -> None:
        self._cache_before = cache_entries(self.spark)
        lst = self.listener
        self._stream_before = (lst.batches, lst.batch_ms, lst.input_rows)

    def collect(self, window_ms: tuple[int, int] | None) -> dict[str, float]:
        """Layer counts of the jobs run since ``mark()``. ``window_ms``
        selects the jobs whose wall counts as ``profiling.exec_s``."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            new.append(j)
        if new:
            self._last_job = max(j.jobId() for j in new)
        out = dict.fromkeys(PROBE_KEYS, 0.0)
        out["engine.jobs"] = len(new)
        in_window = []
        stage_ids = set()
        for j in new:
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
            sub, done = j.submissionTime(), j.completionTime()
            if window_ms and sub.isDefined() and done.isDefined():
                s, e = sub.get().getTime(), done.get().getTime()
                if window_ms[0] <= s <= window_ms[1]:
                    in_window.append((s, e))
        out["profiling.exec_s"] = _union_s(in_window)
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                out["engine.stages"] += 1
                out["engine.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["engine.failed_tasks"] += st.numFailedTasks()
                out["engine.task_s"] += st.executorRunTime() / 1e3
                out["engine.task_cpu_s"] += st.executorCpuTime() / 1e9
                out["engine.gc_s"] += st.jvmGcTime() / 1e3
                out["engine.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["engine.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["engine.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["engine.input_bytes"] += st.inputBytes()
                out["engine.output_bytes"] += st.outputBytes()
        out["session.cache_fills"] = max(0, cache_entries(self.spark) - self._cache_before)
        lst, (b0, ms0, r0) = self.listener, self._stream_before
        out["streaming.batches"] = lst.batches - b0
        out["streaming.batch_s"] = (lst.batch_ms - ms0) / 1e3
        out["streaming.input_rows"] = lst.input_rows - r0
        return out


def plan_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, total = phases.iterator(), 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


PROBE_KEYS = (
    "engine.jobs", "engine.stages", "engine.tasks", "engine.failed_tasks",
    "engine.task_s", "engine.task_cpu_s", "engine.gc_s",
    "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes",
    "engine.input_bytes", "engine.output_bytes",
    "profiling.exec_s", "session.cache_fills",
    "streaming.batches", "streaming.batch_s", "streaming.input_rows",
)
