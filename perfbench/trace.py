"""Spans and per-layer counters, recorded from outside the program.

Spans are always kept (a timestamp pair per layer boundary: session
start, registry load, each query, its ``fn(...)`` build and its
``toPandas()`` execution, each oracle check), because the end-to-end
timings are read from them. Only a traced run also:

* tags the jobs of each query phase with a job group
  ``perfbench:<query id>:<phase>``;
* registers a ``StreamingQueryListener``: microbatch jobs run under the
  stream's run id as job group, not the caller's, so the run ids started
  during a query attribute them, and its progress events give per-batch
  durations and state-store figures;
* reads stage counters from the status store after each query, outside
  the query's timed span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# StageData accessor -> counter name; times are ms except executorCpuTime (ns)
STAGE_COUNTERS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "diskBytesSpilled": "spill_disk_bytes",
}
PHASES = ("build", "execute")


class Tracer:
    def __init__(self, traced: bool, t0: float):
        """``t0``: the ``time.perf_counter()`` value span times count from."""
        self.traced = traced
        self.t0 = t0
        self.spans: list[dict] = []
        self.counters: list[dict] = []  # one per traced query execution
        self._open: list[int] = []
        self._sc = None
        self._stream_runs: list[str] = []
        self._progress: dict[str, list[dict]] = {}

    @contextmanager
    def span(self, name: str, query: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "query": query,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self.t0,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        if self._sc is not None and name in PHASES:
            self._sc.setJobGroup(f"perfbench:{query}:{name}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()

    def attach(self, spark) -> None:
        """Start Spark-side instrumentation (traced runs only)."""
        if not self.traced:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._stream_runs.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer._progress.setdefault(str(p.runId), []).append({
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [
                        (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                        for s in p.stateOperators
                    ],
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())
        self._sc = spark.sparkContext

    def collect(self, query: str) -> None:
        """Read the counters of everything ``query`` ran. Call after the
        query's span has closed."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # listener and status store caught up
        store, tracker = jsc.statusStore(), self._sc.statusTracker()
        runs, self._stream_runs = self._stream_runs, []
        groups = {p: [f"perfbench:{query}:{p}"] for p in PHASES}
        groups["stream"] = runs
        rec = {"query": query, "task": dict.fromkeys(STAGE_COUNTERS.values(), 0),
               "peak_exec_mem_bytes": 0}
        for phase, names in groups.items():
            n = rec[phase] = dict(jobs=0, stages=0, stages_skipped=0, tasks=0)
            for group in names:
                for job in tracker.getJobIdsForGroup(group):
                    n["jobs"] += 1
                    for sid in tracker.getJobInfo(job).stageIds:
                        stage = store.lastStageAttempt(sid)
                        n["stages"] += 1
                        if stage.status().toString() == "SKIPPED":
                            n["stages_skipped"] += 1
                            continue
                        n["tasks"] += stage.numTasks()
                        for accessor, key in STAGE_COUNTERS.items():
                            rec["task"][key] += getattr(stage, accessor)()
                        rec["peak_exec_mem_bytes"] = max(
                            rec["peak_exec_mem_bytes"], stage.peakExecutionMemory()
                        )
        rec["batches"] = [b for r in runs for b in self._progress.pop(r, [])]
        self.counters.append(rec)
