"""The repository's benchmark: one workload as a closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client (this process's driver
thread) submits the next query only after the previous result has
arrived, on the session ``session.get_spark()`` builds with the
program's defaults (``local[*]``). The timed unit is one query:
``registry[name].fn(spark, data_dir)`` followed by ``.toPandas()``.

1. Prepare inputs once per checkout (``prep.py``), outside all timing.
2. Set-up: start the session, ``load_registry()``, and the workload's
   warm passes (one or two) over its queries on its data, in listed
   order. ``setup_s`` runs from process start to the end of the warm
   passes, less step 1.
3. Timed: the workload's number of passes over its queries, and more
   until ``--seconds`` have passed; each pass in an order drawn from
   ``--seed``.
4. After the timer: compare every result, warm passes included, with the
   cached oracle digest.

The last stdout line is the JSON result; the line before it gives host
facts and the figures behind each metric. Results, and in a traced run
the spans and per-query counters, go to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".out")  # untracked

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import prep  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _process_start() -> float:
    """This process's start time on the ``time.perf_counter()`` clock,
    from its start tick in /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_tick = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_tick / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_facts() -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    facts = {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "python": sys.version.split()[0],
        "commit": None,
    }
    try:  # a checkout without git metadata has no commit to report
        git = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
    except OSError:
        return facts
    if git.returncode == 0:
        facts["commit"] = git.stdout.strip()
    return facts


def run_pass(spark, registry, names, data, tracer, results, prefix) -> None:
    """One closed-loop pass; appends (query id, name, frame or None, error)."""
    for name in names:
        qid = f"{prefix}{len(results)}:{name}"
        pdf, error = None, None
        try:
            with tracer.span("query", qid):
                with tracer.span("build", qid):
                    df = registry[name].fn(spark, data)
                with tracer.span("execute", qid):
                    pdf = df.toPandas()
        except Exception as exc:  # a failed query counts, the loop goes on
            error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        results.append((qid, name, pdf, error))
        with tracer.span("collect", qid):
            tracer.collect(qid)


def check_all(results, checker, tracer) -> list[str]:
    """Check each result in place: its error becomes the exception or
    the mismatch, and its frame is freed. Returns one problem per
    failed execution."""
    problems = []
    for i, (qid, name, pdf, error) in enumerate(results):
        if error is None:
            with tracer.span("check", qid):
                error = checker.check(name, pdf)
        if error is not None:
            problems.append(f"{qid}: {error}")
        results[i] = (qid, name, None, error)
    checker.save()
    return problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]

    if not os.path.isfile(os.path.join(ROOT, "hadoop_log_analysis_spark", "__init__.py")):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers import the program too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Spark's, the JVM's and Python's scratch files stay inside the checkout.
    scratch = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={scratch}", "-XX:-UsePerfData") if p
    )
    try:
        record = run(workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    _write_record(record, workload.name, args.seed, args.trace)
    for p in record["problems"]:
        print(f"problem: {p}", file=sys.stderr)
    info = record["info"]
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": not record["problems"], "attempted": info["attempted"],
                      "failed": info["failed"], "metrics": record["metrics"]}))
    return 0


def run(workload, seed: int, seconds: float, traced: bool) -> dict:
    """Prepare if needed, set up, run the timed passes, check; returns
    the run's record (info, metrics, problems, latencies, spans)."""
    from perfbench.trace import Tracer

    load_start, jiffies_start = os.getloadavg(), _cpu_jiffies()
    tracer = Tracer(traced, _process_start())  # span times count from process start
    prep_s = None
    with tracer.span("prep") as prep_span:  # left out of set-up
        if not prep.is_ready():
            t = time.perf_counter()
            subprocess.run([sys.executable, os.path.join(BENCH, "prep.py")],
                           check=True, stdout=sys.stderr)
            prep_s = time.perf_counter() - t
        if not prep.is_ready():
            raise RuntimeError("input preparation did not complete")

    from perfbench.metrics import end_to_end, per_layer

    with tracer.span("session.start"):
        from hadoop_log_analysis_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{workload.name}")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._gateway.proc
    app_id = sc.applicationId
    tmp_before = _program_tmp_entries(app_id)
    try:
        with tracer.span("registry.load"):
            from hadoop_log_analysis_spark.queries import load_registry

            registry = load_registry()
        data = prep.data_dir(workload.data)
        warm: list = []
        with tracer.span("pass.warm") as warm_span:
            for _ in range(workload.warm_passes):
                run_pass(spark, registry, workload.queries, data, tracer, warm, "warm")
        setup_s = warm_span["end"] - (prep_span["end"] - prep_span["start"])
        tracer.attach(spark)

        rng = random.Random(seed)
        results: list = []
        passes = 0
        timed_start = time.perf_counter()
        while passes < workload.timed_passes or time.perf_counter() - timed_start < seconds:
            with tracer.span(f"pass.{passes}"):
                run_pass(spark, registry, rng.sample(workload.queries, len(workload.queries)),
                         data, tracer, results, f"p{passes}.")
            passes += 1
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm.pid)
        cores = sc.defaultParallelism
        spark_facts = {"master": sc.master,
                       "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions")}
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        prep.remove_app_tmp(app_id)

    from perfbench.check import Checker

    checker = Checker(*_expected(workload.data))
    problems = check_all(warm, checker, tracer) + check_all(results, checker, tracer)
    failed = sum(1 for _, _, _, error in results if error is not None)
    latency = {s["query"]: s["end"] - s["start"] for s in tracer.spans if s["name"] == "query"}
    timed = [latency[qid] for qid, *_ in results]
    attempted = len(results)
    info = {"workload": workload.name, "seed": seed, "trace": int(traced),
            "passes": passes, "attempted": attempted, "failed": failed,
            "failed_frac": {"value": failed / attempted, "unit": "ratio"},
            "prep_s": prep_s, "load_avg_start": load_start, "load_avg_end": os.getloadavg(),
            "cpu_steal_frac": _steal_frac(jiffies_start, _cpu_jiffies()),
            "tmp_cache_changed": sorted(_program_tmp_entries(app_id) ^ tmp_before),
            **host_facts(), **spark_facts}
    if traced:
        metrics = per_layer(tracer.spans, tracer.counters, passes, cores, failed, attempted,
                            peak_rss_mb)
        info["tracing_overhead"] = _tracing_overhead(workload.name, seed, timed)
    else:
        by_pass: dict[str, list[tuple[float, bool]]] = {}
        for (qid, _, _, error), s in zip(results, timed):
            by_pass.setdefault(qid.split(".", 1)[0], []).append((s, error is None))
        metrics, facts = end_to_end(setup_s, list(by_pass.values()), peak_rss_mb)
        info.update(facts)
    return {"info": info, "metrics": metrics, "problems": problems,
            "latencies": dict(zip((qid for qid, *_ in results), timed)),
            "spans": tracer.spans, "counters": tracer.counters}


def _steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    return (end[0] - start[0]) / max(1, end[1] - start[1])


def _expected(data: str) -> tuple[dict, str]:
    with open(prep.oracle_path(data)) as f:
        return json.load(f), prep.verified_path(data)


def _program_tmp_entries(app_id: str) -> set[str]:
    """The program's cached .tmp entries (not this application's own)."""
    if not os.path.isdir(prep.PROGRAM_TMP):
        return set()
    return {n for n in os.listdir(prep.PROGRAM_TMP) if app_id not in n}


def _out_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")


def _write_record(record: dict, workload: str, seed: int, trace: int) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(_out_path(workload, seed, trace), "w") as f:
        json.dump(record, f, indent=1, default=str)


def _tracing_overhead(workload: str, seed: int, traced: list[float]) -> dict | None:
    """Traced vs untraced summed query time for the same workload and
    seed, if the untraced run's record is there."""
    path = _out_path(workload, seed, 0)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        plain = list(json.load(f)["latencies"].values())
    return {"untraced_s": sum(plain), "traced_s": sum(traced),
            "overhead_frac": sum(traced) / sum(plain) - 1.0}


if __name__ == "__main__":
    sys.exit(main())
