"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q`` from
the repository root."""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import prep  # noqa: E402
from perfbench.check import fingerprint  # noqa: E402
from perfbench.metrics import end_to_end, per_layer, tail  # noqa: E402
from perfbench.workloads import SMOKE_DATA, WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def registry():
    from hadoop_log_analysis_spark.queries import load_registry

    return load_registry()


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workload_queries_registered_with_an_oracle(registry):
    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries)
        for q in w.queries:
            assert q in registry, q
            assert registry[q].oracle is not None, q
        assert set(w.excluded) <= set(registry) - set(w.queries)


def test_benchmark_json_lists_the_workloads():
    assert {w["name"]: w["why"] for w in _bench_spec()["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }


def test_tail_is_the_eleventh_largest_sample():
    assert tail([float(i) for i in range(11)]) == (100 / 11, 0.0)
    pct, value = tail([float(i) for i in range(100, 0, -1)])
    assert (pct, value) == (90.0, 90.0)
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_queries_per_min_is_the_median_pass_rate():
    slow_first = [[(4.0, True), (2.0, True)], [(1.0, True), (1.0, True)],
                  [(1.0, True), (1.0, False)]]
    e2e, facts = end_to_end(1.0, slow_first, 100.0)
    assert e2e["queries_per_min"]["value"] == 30.0  # rates 20, 60, 30
    assert e2e["query_p50_s"]["value"] == 1.0
    assert facts["samples"] == 6


def test_printed_metric_names_and_units_match_benchmark_json():
    spec = _bench_spec()
    e2e, _ = end_to_end(1.0, [[(float(i + 1), True)] * 3 for i in range(4)], 100.0)
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    spans = [
        {"name": n, "query": q, "start": 0.0, "end": 1.0}
        for n, q in [("session.start", None), ("registry.load", None),
                     ("query", "p0.0:q"), ("build", "p0.0:q"), ("execute", "p0.0:q")]
    ]
    phase = dict(jobs=1, stages=2, stages_skipped=1, tasks=4)
    counters = [{
        "query": "p0.0:q", "build": phase, "execute": phase, "stream": phase,
        "task": dict.fromkeys(
            ["run_ms", "cpu_ns", "gc_ms", "input_bytes", "input_rows",
             "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
             "spill_disk_bytes"], 1),
        "peak_exec_mem_bytes": 1,
        "batches": [{"rows": 1, "ms": {"triggerExecution": 5}, "state": [(1, 1, 1)]}],
    }]
    layers = per_layer(spans, counters, passes=1, cores=4, failed=0, attempted=1,
                       peak_rss_mb=1.0)
    assert {k: v["unit"] for k, v in layers.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }


def test_fingerprint_ignores_row_order_not_content():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    assert fingerprint(a) == fingerprint(a.iloc[::-1].reset_index(drop=True))
    assert fingerprint(a) == fingerprint(a[["v", "k"]])
    assert fingerprint(a) != fingerprint(a.assign(v=["x", "y", "w"]))
    assert fingerprint(a) != fingerprint(a.assign(v=["y", "x", "z"]))


def test_scaled_counts_reject_a_half_written_table(tmp_path):
    src = prep.data_dir(SMOKE_DATA)
    assert prep.scaled_counts_ok(src, src, 1)
    assert not prep.scaled_counts_ok(src, src, 2)
    for name in os.listdir(src):
        (tmp_path / name).write_bytes(open(os.path.join(src, name), "rb").read())
    lineitem = tmp_path / "lineitem.parquet"
    lineitem.write_bytes(lineitem.read_bytes()[:1000])
    assert not prep.scaled_counts_ok(src, str(tmp_path), 1)


def test_sources_digest_follows_the_sources(tmp_path):
    pkg = tmp_path / "hadoop_log_analysis_spark" / "queries"
    pkg.mkdir(parents=True)
    (tmp_path / "scripts").mkdir()
    (pkg / "q.py").write_text("ORACLE = 'SELECT 1'\n")
    (tmp_path / "scripts" / "make_scale_probe.py").write_text("FACTOR = 10\n")
    before = prep.sources_digest(str(tmp_path))
    (pkg / "q.pyc").write_bytes(b"\0")
    (tmp_path / "README.md").write_text("not a source\n")
    assert prep.sources_digest(str(tmp_path)) == before
    (pkg / "q.py").write_text("ORACLE = 'SELECT 2'\n")
    after_query = prep.sources_digest(str(tmp_path))
    assert after_query != before
    (tmp_path / "scripts" / "make_scale_probe.py").write_text("FACTOR = 11\n")
    assert prep.sources_digest(str(tmp_path)) not in (before, after_query)


def test_smoke_every_workload_query_on_smoke_data(registry):
    from hadoop_log_analysis_spark import oracle
    from hadoop_log_analysis_spark.session import get_spark

    spark = get_spark(app_name="perfbench-smoke")
    data = prep.data_dir(SMOKE_DATA)
    try:
        for w in WORKLOADS.values():
            for q in w.queries:
                got = registry[q].fn(spark, data).toPandas()
                want = oracle.run_oracle(registry[q].oracle, data)
                assert oracle.compare_frames(got, want) == [], q
    finally:
        app_id = spark.sparkContext.applicationId
        spark.stop()
        prep.remove_app_tmp(app_id)
