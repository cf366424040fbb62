"""Per-call counters read back from Spark's own status stores.

Every traced public call runs under its own job group. When it returns,
the listener bus is drained and three stores are read:

* the core status store: per-stage ``executorRunTime``,
  ``executorCpuTime``, ``jvmGcTime``, input/output bytes, shuffle
  read/write bytes and memory/disk spill, for every stage of every job
  in the group;
* the same store's job records: submission and completion times, from
  which ``driver_s`` is the part of the call's wall time that no job of
  the group covers (Python plan building, Catalyst, driver collects);
* the SQL status store: the Python-worker metrics of ``MapInPandas``
  ("time to start / initialize / run Python workers") of every SQL
  execution that started during the call.

Nothing here is inside the engine; the engine only sees its inputs.
"""

import re
import time

_MB = 1024.0 * 1024.0
_PYWORKER = {
    "time to start Python workers": "pyworker_start_s",
    "time to initialize Python workers": "pyworker_init_s",
    "time to run Python workers": "pyworker_run_s",
}
_DURATION = re.compile(r"([0-9.]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_s(text):
    """Seconds of a formatted SQL timing metric. The total is the first
    duration after the header line, e.g.
    ``"total (min, med, max ...)\\n2.3 s (538 ms, ...)"`` -> 2.3."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def covered_s(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class SparkTracer:
    """Runs calls under per-call job groups and returns their counters."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._n = 0
        self._seen_exec = self._last_execution_id()

    def _last_execution_id(self):
        ex = self._sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def call(self, fn, *args, **kwargs):
        """Run ``fn`` and return ``(result, counters)``."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.time()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        counters = self._counters(group, t0, t1)
        counters["trace_s"] = time.time() - t1
        return result, counters

    def _counters(self, group, t0, t1):
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        c = dict.fromkeys(
            (
                "cpu_s", "gc_s", "run_s", "input_mb", "output_mb",
                "shuffle_mb", "spill_mb", "jobs", "stages",
            ),
            0.0,
        )
        intervals = []
        for job_id in tracker.getJobIdsForGroup(group):
            job = store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1 * 1e3
                intervals.append((sub.get().getTime() / 1e3, end / 1e3))
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # never-submitted (skipped) stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["run_s"] += st.executorRunTime() / 1e3
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_mb"] += st.inputBytes() / _MB
                c["output_mb"] += st.outputBytes() / _MB
                c["shuffle_mb"] += (
                    st.shuffleReadBytes() + st.shuffleWriteBytes()
                ) / _MB
                c["spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / _MB
        c["wall_s"] = t1 - t0
        c["driver_s"] = max(0.0, (t1 - t0) - covered_s(intervals, t0, t1))
        c.update(self._pyworker_since())
        return c

    def _pyworker_since(self):
        out = dict.fromkeys(_PYWORKER.values(), 0.0)
        ex = self._sql.executionsList()  # ascending execution ids
        newest = self._seen_exec
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._seen_exec:
                break
            newest = max(newest, eid)
            names = {}
            ms = e.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                if pm.name() in _PYWORKER:
                    names[pm.accumulatorId()] = _PYWORKER[pm.name()]
            if not names:
                continue
            it = self._sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                key = names.get(kv._1())
                if key:
                    out[key] += parse_duration_s(kv._2())
        self._seen_exec = newest
        return out
