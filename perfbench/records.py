"""Per-layer records read from outside the program.

Three Spark sources, all available with ``spark.ui.enabled=false``:

* the ``QueryExecution`` phase tracker of a DataFrame the benchmark
  holds (Catalyst analysis, optimization and planning);
* the application status store (``sc._jsc.sc().statusStore()``): the
  jobs of one op's job group, their wall intervals, and each stage's
  executor run / CPU / GC time, shuffle bytes and spill;
* a Python ``StreamingQueryListener`` collecting each trigger's
  ``durationMs``.

Timing of the program's own modules is done by the caller, around its
calls into them.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


def union_ms(intervals: list[tuple[float, float]],
             lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]`` —
    overlapping jobs (AQE broadcast builds) are counted once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, float("-inf")
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """{phase: (start_ms, end_ms)} epoch milliseconds, from the phase
    tracker of ``df``'s QueryExecution (filled once it has run)."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (float(kv._2().startTimeMs()), float(kv._2().endTimeMs()))
    return out


class StatusStore:
    """Reads one job group's jobs and stages from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def group(self, group: str) -> dict:
        """Jobs, stages, tasks, job intervals and executor metrics of
        every job submitted under ``group``.  Each stage attempt that
        ran is summed once; SKIPPED attempts are left out."""
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group) or []
        rec = dict.fromkeys(
            ("stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
        intervals = []
        stage_ids = set()
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((float(sub.get().getTime()),
                                  float(comp.get().getTime())))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles)
            it = attempts.iterator()
            while it.hasNext():
                sd = it.next()
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["run_ms"] += sd.executorRunTime()
                rec["cpu_ms"] += sd.executorCpuTime() / 1e6
                rec["gc_ms"] += sd.jvmGcTime()
                rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        rec["jobs"] = float(len(job_ids))
        rec["intervals"] = intervals
        return rec


class TriggerListener(StreamingQueryListener):
    """Collects ``durationMs`` of every trigger, keyed by query run id."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress[str(p.runId)].append(
                {k: float(v) for k, v in p.durationMs.items()})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, run_id: str, timeout_s: float = 5.0) -> list[dict]:
        """Progress of ``run_id``; events reach Python asynchronously,
        so poll briefly for the first one."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = list(self.progress.get(run_id, []))
            if got or time.monotonic() > deadline:
                return got
            time.sleep(0.02)
