"""Input preparation, done once per checkout and kept out of every timing.

* derives ``sf1`` from the ``sf0.1`` fixture copy with
  ``scripts/make_scale_probe.py`` and checks every table's row count;
* computes the oracle digest of each workload query on the workload's
  data directory (``oracle-<data>.json``);
* runs each workload's streaming queries once, so the drop directories
  the program derives and keeps under ``.tmp/`` exist before any run
  and are in the same state on every run.

Run as ``python3 perfbench/prep.py``; ``run.py`` does so when
``is_ready()`` is false: on a fresh checkout, and again after any change
to the program's sources, ``scripts/make_scale_probe.py`` or the files
here that decide what is prepared, since each can change the derived
data, the oracle digests or the cached drop directories. Prints its step
timings to stdout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
FIXTURES = os.path.join(BENCH, "fixtures")
DATA = os.path.join(BENCH, ".data")  # untracked
PROGRAM_TMP = os.path.join(ROOT, ".tmp")  # the program's own cache dir
READY = os.path.join(DATA, "ready.json")

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import SCALE_FACTOR, WORKLOADS  # noqa: E402


def data_dir(name: str) -> str:
    fixture = os.path.join(FIXTURES, name)
    return fixture if os.path.isdir(fixture) else os.path.join(DATA, name)


def oracle_path(data: str) -> str:
    return os.path.join(DATA, f"oracle-{data}.json")


def verified_path(data: str) -> str:
    return os.path.join(DATA, f"verified-{data}.json")


def workload_plan() -> list[tuple[str, str]]:
    """What a ready checkout was prepared for: (data, query) pairs."""
    return sorted({(w.data, q) for w in WORKLOADS.values() for q in w.queries})


# What prepared inputs depend on, relative to the repository root.
PREP_SOURCES = ("hadoop_log_analysis_spark", "scripts/make_scale_probe.py",
                "perfbench/check.py", "perfbench/prep.py", "perfbench/workloads.py")


def sources_digest(root: str = ROOT) -> str:
    """Hash of the Python sources under ``PREP_SOURCES`` in ``root``."""
    files = []
    for rel in PREP_SOURCES:
        path = os.path.join(root, rel)
        if os.path.isfile(path):
            files.append(path)
        for d, _, names in os.walk(path):
            files.extend(os.path.join(d, n) for n in names if n.endswith(".py"))
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def is_ready() -> bool:
    if not os.path.exists(READY):
        return False
    with open(READY) as f:
        ready = json.load(f)
    return ([tuple(p) for p in ready.get("plan", ())] == workload_plan()
            and ready.get("sources") == sources_digest())


def _rows(path: str) -> int | None:
    try:
        return pq.ParquetFile(path).metadata.num_rows
    except (OSError, ValueError):  # missing or half-written file
        return None


def scaled_counts_ok(src: str, dst: str, factor: int) -> bool:
    """Every table of ``dst`` has ``factor`` x the rows of ``src``
    (region and nation are copied once)."""
    for fname in sorted(os.listdir(src)):
        n_src = _rows(os.path.join(src, fname))
        want = n_src if fname in ("region.parquet", "nation.parquet") else n_src * factor
        if _rows(os.path.join(dst, fname)) != want:
            return False
    return True


def derive_sf1() -> None:
    src, dst = data_dir("sf0.1"), os.path.join(DATA, "sf1")
    if os.path.isdir(dst) and scaled_counts_ok(src, dst, SCALE_FACTOR):
        return
    partial = dst + ".partial"
    shutil.rmtree(partial, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_scale_probe.py"),
         "--src", src, "--out", partial, "--factor", str(SCALE_FACTOR)],
        check=True, stdout=sys.stderr,
    )
    if not scaled_counts_ok(src, partial, SCALE_FACTOR):
        raise RuntimeError(f"derived data in {partial} has wrong row counts")
    os.replace(partial, dst)


def build_oracle_cache() -> None:
    from hadoop_log_analysis_spark import oracle
    from hadoop_log_analysis_spark.queries import load_registry

    from perfbench.check import digest

    registry = load_registry()
    by_data: dict[str, list[str]] = {}
    for data, q in workload_plan():
        by_data.setdefault(data, []).append(q)
    for data, queries in by_data.items():
        expected = {}
        for q in queries:
            pdf = oracle.run_oracle(registry[q].oracle, data_dir(data))
            expected[q] = {"rows": len(pdf), "digest": digest(pdf)}
        with open(oracle_path(data), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
        if os.path.exists(verified_path(data)):
            os.remove(verified_path(data))


def remove_app_tmp(app_id: str) -> None:
    """Delete what one Spark application left under the program's .tmp
    (checkpoints and sinks are keyed by application id)."""
    if not os.path.isdir(PROGRAM_TMP):
        return
    for name in os.listdir(PROGRAM_TMP):
        if app_id in name:
            shutil.rmtree(os.path.join(PROGRAM_TMP, name), ignore_errors=True)


def warm_program_cache() -> None:
    from hadoop_log_analysis_spark.queries import load_registry
    from hadoop_log_analysis_spark.session import get_spark

    spark = get_spark()
    try:
        registry = load_registry()
        for data, q in workload_plan():
            if q.startswith("q_stream_"):
                registry[q].fn(spark, data_dir(data)).toPandas()
    finally:
        app_id = spark.sparkContext.applicationId
        spark.stop()
        remove_app_tmp(app_id)


def main() -> int:
    os.makedirs(DATA, exist_ok=True)
    if os.path.exists(READY):
        os.remove(READY)
    timings = {}
    for step in (derive_sf1, build_oracle_cache, warm_program_cache):
        t = time.perf_counter()
        step()
        timings[step.__name__] = round(time.perf_counter() - t, 3)
    with open(READY, "w") as f:
        json.dump({"plan": workload_plan(), "sources": sources_digest(),
                   "timings_s": timings}, f)
    print(json.dumps({"prep_s": timings}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
