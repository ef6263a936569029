"""Turn a run's spans, results and counters into the metrics it prints.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one. Per-layer times and counts are totals per timed pass
(averaged over passes); ratios are over all timed passes; ``peak``
values are maxima.

* ``exec.jobs``/``stages``/``stages_skipped``/``tasks`` count the
  ``toPandas()`` phase; ``queries.build_jobs`` counts the jobs run inside
  ``fn(...)``, microbatches included.
* The task, ``sources``, ``shuffle`` and ``spill`` counters sum every
  job a query ran, in either phase, as Spark's stage metrics report them.
* ``exec.busy_frac`` is task run time / (query wall time x cores);
  ``exec.task_offcpu_s`` is task run time minus JVM CPU time, the time
  tasks wait, mostly on Python workers.
* ``streaming.drain_overhead_s`` is the build time of the queries that
  ran streams minus their microbatches' trigger time.
"""

from __future__ import annotations

import statistics

MB = 1 << 20


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it: the 11th-largest sample, at the (n-10)/n point."""
    n = len(samples)
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {n}")
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s: float, passes: list[list[tuple[float, bool]]],
               peak_rss_mb: float) -> tuple[dict, dict]:
    """Metrics, and the facts a reader needs to interpret them.

    ``passes`` holds, per timed pass, each execution's (latency, correct).
    ``queries_per_min`` is the median over passes of each pass's correct
    results per minute of its query time: the first timed pass runs
    slower than the rest by an amount that follows host load, and a
    median over enough passes leaves it out.

    The tail is a fact, not a metric: a run of this benchmark's length
    has fewer than 11 samples on some workloads, and then no percentile
    has ten samples beyond it. Peak RSS is a fact too: the driver JVM's
    share follows G1's heap sizing under the program's 8 GB default
    heap, and varied from 2.5 to 4.4 GB between identical runs."""
    latencies = [s for p in passes for s, _ in p]
    rates = [60.0 * sum(ok for _, ok in p) / sum(s for s, _ in p) for p in passes]
    metrics = {
        "setup_s": _m(setup_s, "s"),
        "query_p50_s": _m(statistics.median(latencies), "s"),
        "queries_per_min": _m(statistics.median(rates), "1/min"),
    }
    facts = {"samples": len(latencies), "query_tail_s": None,
             "peak_rss_mb": _m(peak_rss_mb, "MB")}
    if len(latencies) >= 11:
        pct, value = tail(latencies)
        facts["query_tail_s"] = {**_m(value, "s"), "percentile": round(pct, 2)}
    return metrics, facts


def per_layer(spans: list[dict], counters: list[dict], passes: int,
              cores: int, failed: int, attempted: int, peak_rss_mb: float) -> dict:
    def span_s(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    timed = {c["query"] for c in counters}
    timed_spans = [s for s in spans if s["query"] in timed]
    build_s = sum(s["end"] - s["start"] for s in timed_spans if s["name"] == "build")
    run_s = sum(s["end"] - s["start"] for s in timed_spans if s["name"] == "execute")
    wall_s = sum(s["end"] - s["start"] for s in timed_spans if s["name"] == "query")

    def total(key: str) -> float:
        return sum(c["task"][key] for c in counters)

    def phase(p: str, key: str) -> int:
        return sum(c[p][key] for c in counters)

    batches = [b for c in counters for b in c["batches"]]

    def batch_ms(*keys: str) -> float:
        return sum(b["ms"].get(k, 0) for b in batches for k in keys)

    # build time of the queries that started streams, minus their triggers
    stream_queries = {c["query"] for c in counters if c["batches"]}
    stream_build_s = sum(
        s["end"] - s["start"] for s in timed_spans
        if s["name"] == "build" and s["query"] in stream_queries
    )
    trigger_s = batch_ms("triggerExecution") / 1e3
    run_task_s, cpu_task_s = total("run_ms") / 1e3, total("cpu_ns") / 1e9
    per_pass = {
        "queries.build_s": (build_s, "s"),
        "queries.build_jobs": (phase("build", "jobs") + phase("stream", "jobs"), "count"),
        "exec.run_s": (run_s, "s"),
        "exec.jobs": (phase("execute", "jobs"), "count"),
        "exec.stages": (phase("execute", "stages"), "count"),
        "exec.stages_skipped": (phase("execute", "stages_skipped"), "count"),
        "exec.tasks": (phase("execute", "tasks"), "count"),
        "exec.task_run_s": (run_task_s, "s"),
        "exec.task_cpu_s": (cpu_task_s, "s"),
        "exec.task_offcpu_s": (run_task_s - cpu_task_s, "s"),
        "exec.gc_s": (total("gc_ms") / 1e3, "s"),
        "sources.input_mb": (total("input_bytes") / MB, "MB"),
        "sources.input_rows": (total("input_rows"), "count"),
        "shuffle.write_mb": (total("shuffle_write_bytes") / MB, "MB"),
        "shuffle.read_mb": (total("shuffle_read_bytes") / MB, "MB"),
        "shuffle.fetch_wait_s": (total("fetch_wait_ms") / 1e3, "s"),
        "spill.disk_mb": (total("spill_disk_bytes") / MB, "MB"),
        "streaming.batches": (len(batches), "count"),
        "streaming.trigger_s": (trigger_s, "s"),
        "streaming.planning_s": (batch_ms("queryPlanning") / 1e3, "s"),
        "streaming.add_batch_s": (batch_ms("addBatch") / 1e3, "s"),
        "streaming.log_commit_s": (batch_ms("walCommit", "commitOffsets") / 1e3, "s"),
        "streaming.state_commit_s": (
            sum(op[2] for b in batches for op in b["state"]) / 1e3, "s"),
        "streaming.drain_overhead_s": (stream_build_s - trigger_s, "s"),
    }
    out = {k: _m(v / passes, unit) for k, (v, unit) in per_pass.items()}
    out.update({
        "session.start_s": _m(span_s("session.start"), "s"),
        "registry.load_s": _m(span_s("registry.load"), "s"),
        "exec.busy_frac": _m(run_task_s / (wall_s * cores) if wall_s else 0.0, "ratio"),
        "exec.peak_exec_mem_mb": _m(
            max((c["peak_exec_mem_bytes"] for c in counters), default=0) / MB, "MB"),
        "streaming.useful_batch_ratio": _m(
            sum(1 for b in batches if b["rows"] > 0) / len(batches) if batches else 0.0,
            "ratio"),
        "streaming.state_rows": _m(
            max((sum(op[0] for op in b["state"]) for b in batches), default=0), "count"),
        "streaming.state_mem_mb": _m(
            max((sum(op[1] for op in b["state"]) for b in batches), default=0) / MB, "MB"),
        "failed_frac": _m(failed / attempted, "ratio"),
        "process.peak_rss_mb": _m(peak_rss_mb, "MB"),
    })
    return out
