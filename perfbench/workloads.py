"""The benchmark's workloads: which registered queries each one runs, on
which data, and why.

Data directories are named by scale factor. ``sf0.001`` and ``sf0.1``
are copies of the read-only fixtures (``fixtures/``); ``sf1`` is
derived from ``sf0.1`` by ``scripts/make_scale_probe.py`` (10x,
key-shifted replicas) into the untracked data directory.

``sf0.001`` serves the benchmark's smoke test only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

SMOKE_DATA = "sf0.001"
SCALE_FACTOR = 10  # sf1 = 10 replicas of sf0.1


@dataclass(frozen=True)
class Workload:
    name: str
    data: str  # data directory name, see module docstring
    queries: tuple[str, ...]
    why: str
    # Untimed passes in set-up, in listed order; the first starts cold.
    warm_passes: int = 1
    # Timed passes per run (more if --seconds has not yet passed).
    timed_passes: int = 1
    # Queries of the same family left out, with the reason.
    excluded: dict[str, str] = field(default_factory=dict)


# A run costs about 10 s of session start and exit, the warm passes, of
# which the first starts cold, and the timed passes: 45-65 s in all. The
# benchmark is run 4 + 22 x (number of workloads) times in under an
# hour, so there are
# two workloads, not three: the LLM operators and the stream replays,
# both bound by driver-side work, share one. Each workload keeps the
# queries that best show its layers and leaves the others out; the
# times given are per execution on a 4-core host.
#
# Each workload runs an odd number of queries, so the median latency
# falls inside the latency group of the middle query, not between two
# groups, where it would move with each query's share of the run.
# ``queries_per_min`` is the median over timed passes of each pass's
# rate. The first pass after the first warm pass runs slower, by an
# amount that follows host load. On llm_stream_sf01, whose three queries
# warm up in fewer executions per pass, passes kept getting faster up to
# the fourth (4.3-7.2 s, then 3.7-5.3 s), so its set-up runs two warm
# passes and it times five, whose median pass is never the first. On
# log_sql_sf1 the first timed pass took 10.0-10.2 s against 8.6-9.9 s;
# one warm pass and two timed passes of five queries fit there, and the
# median of two passes is their mean.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="log_sql_sf1",
            data="sf1",
            queries=(
                "q_hourly_errors",
                "q_distinct_users_daily",
                "q_sessionize",
                "q_pricing_summary",
                "q_join5",
            ),
            why=(
                "log-analytics SQL on 10x key-shifted sf0.1 (6M lineitem, "
                "1M events): executors are busy 42-76% of query time, so "
                "scan, shuffle and task time decide latency"
            ),
            timed_passes=2,
            excluded={
                "q_asof_join": "7.6 s, the longest; 2.2 s of it is "
                "driver-side build",
                "q_market_share": "6.4 s; 0.9 s driver-side build",
                "q_bloom_prefilter_join": "3.6 s; 0.9 s driver-side build",
                "q_cohort_retention": "2.1 s; executors busy 45%, a "
                "shape q_distinct_users_daily already covers",
                # With them the median fell among three ~1 s queries whose
                # order changed from run to run: spread 0.14 over ten
                # runs, against 0.05 without them.
                "q_topk_users": "0.6 s; its scan and sort are covered by "
                "q_distinct_users_daily and q_sessionize",
                "q_window_rank": "1.1 s; q_sessionize covers window functions",
                "q_json_extract": "1.2 s; a sixth query puts the median "
                "between two latency groups (see above)",
            },
        ),
        Workload(
            name="llm_stream_sf01",
            data="sf0.1",
            queries=(
                # connected components, a driver loop of Spark jobs; the
                # middle query by latency, so query_p50_s follows it
                "q_dedup_clusters",
                "q_multimodal_features",
                "q_stream_hourly_errors",
            ),
            why=(
                "LLM driver loop (connected components), pandas UDF "
                "workers and a bounded stateful stream replay on sf0.1: "
                "builds, Python workers and microbatch commits decide latency"
            ),
            warm_passes=2,
            timed_passes=5,
            excluded={
                "q_bpe_train": "the program keeps its merge loop's result "
                "per session, so every execution after the warm pass "
                "skips the loop",
                "q_bfs_hops": "2-3 s, driver-loop build like q_dedup_clusters; "
                "five timed passes of five queries do not fit a run",
                "q_pagerank_tokens": "2.4-7 s, driver-loop build; "
                "q_dedup_clusters covers driver loops",
                "q_semantic_dedup": "5.1 s, driver-loop build",
                "q_apply_in_pandas": "8.7 s; q_multimodal_features covers "
                "pandas UDF workers",
                "q_minhash_near_dups": "3.4 s and rows-only",
                "q_heavy_hitters": "1.5 s, executor-side aggregation",
                "q_stream_psi_monitor": "5.4 s; q_stream_hourly_errors "
                "covers stateful replay",
                "q_stream_knn": "6.1 s; 16 microbatch jobs of the same shape",
                "q_stream_stream_left_join": "16-24 s, unsteady",
                "q_stream_dedup": "5.5 s; state-store commits covered",
                "q_stream_sink_parquet": "2-3 s; q_stream_hourly_errors "
                "covers microbatch and checkpoint commits",
                "q_stream_minhash_dedup": "about 35 s, rows-only",
                "q_stream_stateful_counts": "37-52 s, unsteady",
            },
        ),
    )
}
