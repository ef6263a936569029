#!/usr/bin/env python
"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR.

Runs the 12 BASELINE.md headline queries (each covering a distinct
SURVEY.md §2 operator family) plus 4 LLM-pipeline heavyweights
(MinHash-LSH, BM25, end-to-end pretraining pipeline, dedup clusters)
2 round-3 additions (semantic dedup, cohort retention — VERDICT r2
item 9), and 6 round-4 additions (stream-stream left join — VERDICT
r3 item 6 — plus bigram LM, Misra-Gries heavy hitters, pagerank,
Bloom-prefilter semi-join, triangle counting) on
local[$SPARK_GRAFT_CPUS], default
/root/testdata/sf0.1, and prints ONE JSON line:

    {"metric": "...", "value": <total-sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Timing discipline (BASELINE.md "2x of PySpark warm" criterion +
VERDICT r2 item 2): each query is built + executed once to warm
codegen/caches, then timed on N_RUNS (default 3) fresh executions and
N_RUNS same-object reruns; the reported number is the MEDIAN, with
per-query min/max spread in "queries_spread" so a noisy session is
visible instead of silently inflating the headline. Session startup is
excluded per BASELINE.md § "Interpretation of the 2x criterion".
r2's uniform 1.3-1.8x inflation vs r1 was an n=1 artifact of a shared
session under load — the median-of-3 protocol is the committed fix.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from hadoop_log_analysis_spark.queries import load_registry
from hadoop_log_analysis_spark.session import get_spark

# BASELINE.md headline suite — one per operator family.
HEADLINE = (
    "q_pricing_summary",      # A1 agg (TPC-H Q1 shape)
    "q_join5",                # J1/J2 6-table join (TPC-H Q5 shape)
    "q_topk_users",           # A1+O2 top-k
    "q_hourly_errors",        # flagship: filter + time bucket agg
    "q_window_rank",          # W1/W2 window top-3 per user
    "q_sessionize",           # W3/W4/W6 sessionization
    "q_distinct_users_daily", # A3 count-distinct
    "q_json_extract",         # F7 JSON
    "q_text_tokens",          # L5 tokenize/explode
    "q_dedup",                # L1 exact dedup accounting
    "q_cosine_knn",           # L3 embedding similarity
    "q_asof_join",            # J7 as-of join
    # r2 additions (VERDICT r1 item 5): the LLM-pipeline heavyweights,
    # so the north-star features carry a regressable number.
    "q_minhash_near_dups",    # L2 MinHash + banded LSH near-dup
    "q_bm25",                 # L5 BM25 ranking
    "q_pretraining_pipeline", # L1/L5/L7 end-to-end corpus pipeline
    "q_dedup_clusters",       # L1/L2 iterative connected components
    # r3 additions (VERDICT r2 item 9): one iterative-LSH and one
    # report-layer representative, so those families regress too.
    "q_semantic_dedup",       # L2/L3 LSH pairs -> components -> keeper
    "q_cohort_retention",     # report layer: cohort windows + pivot
    # r4 addition (VERDICT r3 item 6): the one family with zero bench
    # coverage — stream-stream outer join incl. the watermark-sentinel
    # machinery (drop-dir replay, maxFilesPerTrigger=1, state flush).
    "q_stream_stream_left_join",  # T8 streaming outer interval join
    # r4 operator additions with nontrivial plans: the self-trained
    # bigram LM (two count-table joins over the exploded pair stream)
    # and the two-pass Misra-Gries sketch (mapInPandas + recount).
    "q_bigram_lm_score",
    "q_heavy_hitters",
    # r4 second wave: the numeric-iterative graph family (driver-looped
    # bounded joins over a cached adjacency) gets a regression number.
    "q_pagerank_tokens",
    # r4 third wave: the Bloom-prefiltered semi-join (bitmap build +
    # map-side probe + exact verify — the scan-reduction pattern) and
    # degree-ordered triangle enumeration (edge build dominates; the
    # wedge/closure joins are the regression target).
    "q_bloom_prefilter_join",
    "q_triangle_count",
    # r4 wave 6/8: the governance layer's two corpus-scale members —
    # token-distribution JSD (explode + vocab-bounded joins) and the
    # Poisson bootstrap (B x map fan-out + bounded hash agg).
    "q_js_divergence",
    "q_bootstrap_ci",
    # r4 wave 7: the streaming drift monitor — a SECOND streaming
    # regression row with a much smaller fixed-cost drain (~4
    # microbatches vs the left join's ~24), so streaming overhead and
    # streaming logic regress separately.
    "q_stream_psi_monitor",
    # r5 additions (VERDICT r4 item 6): complete the driver-loop
    # iterative tier — pagerank and CC already regress above; BFS
    # (frontier-expansion joins) and BPE training (per-iteration
    # argmax + merge rewrite) close the family.
    "q_bfs_hops",
    "q_bpe_train",
    # r6 additions: the sparse-similarity join (token-keyed postings
    # self-join with the df-cut — the quadratic-term regression
    # target), the character-entropy gate (explode-to-chars whose
    # shuffle must stay |docs| x alphabet), and the two-phase exact
    # rank via the Gini statistic (histogram-offset + class-parallel
    # row_number — now load-bearing in four queries).
    "q_sparse_cosine_pairs",
    "q_char_entropy_filter",
    "q_gini_spend",
    # r6 waves 8-13: the Arrow-batched binary tier (aHash decode +
    # banded LSH — the single-MapInPandas plan is the regression
    # target), the within-key pair generator (Adamic-Adar: blow-up
    # bounded by basket size), and the broadcast-armed snowflake
    # (TPC-H Q8 shape: one fact shuffle, every dim broadcast).
    "q_image_ahash_dedup",
    "q_adamic_adar",
    "q_market_share",
)

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Rotating annex (VERDICT r9 "What's missing" #3): the headline suite
# is a FIXED 35-row series so rounds stay comparable, which left ~350
# registry queries with no timing history at all — a heavy non-suite
# query could regress 5x and no artifact would show it. Each bench run
# additionally times ANNEX_WINDOW of these non-headline heavyweights,
# chosen by a deterministic rotation keyed on how many driver bench
# rounds exist (BENCH_r*.json count), and reports them under the
# separate "annex" key — NEVER added to value/value_batch_only, so the
# headline series stays comparable while the annex accumulates a
# timing history for the heavy tail over successive rounds.
ANNEX_ROTATION = (
    # the pair-generating / corpus-scale heavyweights first (the ones
    # whose silent regression would hurt most at scale)
    "q_containment_join",
    "q_crossdoc_ngram_coverage",
    "q_eval_contamination",
    "q_set_similarity_join",
    "q_ngram_jaccard_pairs",
    "q_pmi_collocations",
    "q_embedding_near_dups",
    "q_simhash_pairs",
    "q_ann_ivf",
    "q_kmeans_ivf",
    "q_pca_components",
    "q_tfidf",
    "q_inverted_index_chunked",
    "q_rake_keywords",
    "q_logistic_irls",
    "q_embedding_covariance",
    "q_rouge2_eval",
    "q_chi2_independence",
    "q_anova_doclen",
    "q_ks_drift",
    "q_mahalanobis_outliers",
    "q_spearman_corr",
    "q_gdpr_erasure",
    "q_stratified_sample",
    "q_silhouette_simplified",
    "q_cusum_shift",
    "q_multimodal_features",
    "q_quality_score",
    "q_lang_quality_filter",
    "q_gopher_rules",
    "q_winsorized_stats",
    "q_stats_agg",
    "q_hhi_concentration",
    # r11 additions, appended at the END so existing windows keep
    # their planned rounds; these enter when the rotation wraps
    "q_shingle_similarity_join",
    "q_sessionize_split",
    # r13 additions (same append-only discipline): the bucketed
    # stream-stream skew defenses — enter when the rotation wraps
    "q_stream_stream_left_join_bucketed",
    "q_stream_stream_join_bucketed",
    # r14 addition: the payload-carrying merge variant
    "q_stream_stream_left_join_bucketed_payload",
    # r14 additions: streaming near-dup suppression + the DISTINCT
    # window-aggregate workaround — same append-only discipline
    "q_stream_minhash_dedup",
    "q_window_count_distinct",
    "q_stream_knn",
    "q_stream_knn_ivf",
)
ANNEX_WINDOW = 10
# The driver round in which the annex landed (window 0 ran while
# BENCH_r10 was being produced). Rounds 10-12 ran width-5 windows
# (entries 0-14); r13 widens to 10/round (VERDICT r12 missing #3 —
# finish the 20-entry backlog in two rounds instead of four), with
# the start offset anchored on the 15 already-covered entries so the
# widening SKIPS nothing.
ANNEX_BASE_ROUND = 10
ANNEX_WIDE_ROUND = 13  # first round at the widened window
ANNEX_LEGACY_COVERED = 15  # entries consumed by the width-5 rounds


def annex_window_for_round(current_round: int) -> list[str]:
    """Pure window computation (tests/test_bench_annex.py): width-5
    windows for the historical rounds 10-12, width-ANNEX_WINDOW from
    ANNEX_WIDE_ROUND on, anchored at the 15 entries those historical
    windows already covered so the widening skips nothing."""
    if current_round < ANNEX_WIDE_ROUND:
        start = ((current_round - ANNEX_BASE_ROUND)
                 * 5) % len(ANNEX_ROTATION)  # historical width-5 windows
        width = 5
    else:
        start = (ANNEX_LEGACY_COVERED
                 + (current_round - ANNEX_WIDE_ROUND)
                 * ANNEX_WINDOW) % len(ANNEX_ROTATION)
        width = ANNEX_WINDOW
    doubled = ANNEX_ROTATION + ANNEX_ROTATION
    return list(doubled[start:start + width])


def annex_names() -> list[str]:
    """The annex queries for THIS round: a deterministic rotating
    window over ANNEX_ROTATION keyed on the CURRENT ROUND NUMBER —
    max round parsed from the driver's BENCH_r(\\d+).json files, plus
    one (this run produces the next round's artifact). Keying on the
    parsed round instead of the raw file count (ADVICE r10 #4) makes
    the window immune to extra/missing files: an untracked re-run
    saved under a new name or a deleted artifact shifted a count-based
    window silently, decoupling the annex history from judged rounds."""
    import glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p)))
    ]
    current_round = (max(rounds) if rounds else 0) + 1
    return annex_window_for_round(current_round)

# Streaming drains replay ~24 microbatches at ~1.3 s fixed overhead
# each (~35 s per execution at sf0.1) — median-of-3 would triple the
# suite's wall time to re-measure a number dominated by deterministic
# per-batch fixed cost. One warm (also derives the drop dir) + one
# timed run is a stable regression signal; spread is reported as a
# single point so the JSON shape stays uniform.
STREAMING_SINGLE_RUN = {"q_stream_stream_left_join", "q_stream_psi_monitor"}


# The bench replay profile, shared by scripts/sweep_noop.py and
# scripts/isolate_bench.py so every timing tool measures the same
# replay. A streaming drain's cost is microbatch COUNT x a fixed
# scheduling cost, not data volume, so each family's drop dir is
# folded to 2 files at mFPT 3 (KNN's 4-file feed at mFPT 4: one
# batch) — every fold is sound for its family (the comments at each
# query's replay() call) and CI pins each folded cadence against the
# oracle. Few-key state gets 2 state partitions, the honest sizing for
# a few MB of state; the many-key families (COUNTS, SEQ, DEDUP) keep
# their own sizing. Parity tests run the query defaults.
REPLAY_PROFILE = {
    "HLA_STREAM_JOIN_DROP_FILES": "2",
    "HLA_STREAM_JOIN_MFPT": "3",
    "HLA_STREAM_PSI_DROP_FILES": "2",
    "HLA_STREAM_STATE_PARTITIONS": "2",
    "HLA_STREAM_DEDUP_DROP_FILES": "2",
    "HLA_STREAM_DEDUP_MFPT": "3",
    "HLA_STREAM_KNN_MFPT": "4",
    "HLA_STREAM_SEQ_DROP_FILES": "2",
    "HLA_STREAM_SEQ_MFPT": "3",
    "HLA_STREAM_COUNTS_DROP_FILES": "2",
    "HLA_STREAM_COUNTS_MFPT": "3",
    "HLA_STREAM_T5_DEDUP_DROP_FILES": "2",
    "HLA_STREAM_T5_DEDUP_MFPT": "3",
    "HLA_STREAM_COMPLETE_DROP_FILES": "2",
    "HLA_STREAM_COMPLETE_MFPT": "3",
    "HLA_STREAM_HH_DROP_FILES": "2",
    "HLA_STREAM_HH_MFPT": "3",
}


def apply_replay_profile() -> None:
    """Set REPLAY_PROFILE for every name the caller has not set."""
    for name, value in REPLAY_PROFILE.items():
        os.environ.setdefault(name, value)


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    apply_replay_profile()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_registry()
    spark = get_spark(app_name="hla-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Measurement hygiene: per-query times move together with session
    # load (the r2/r6/r7/r8 drift diagnosis — driver-session benches
    # ran ~1.2x the dedicated-session numbers with nothing in the plan
    # changed). Wait briefly — bounded, and RECORDED in the JSON — for
    # the 1-min load to drain below a quarter of the cores before
    # timing, exactly what the isolation protocol does by hand.
    waited = 0.0
    quiet = os.cpu_count() / 4.0
    while os.getloadavg()[0] > quiet and waited < 120.0:
        time.sleep(5.0)
        waited += 5.0
    # 1/5/15-min load average at suite start: the contention context
    # needed to separate environment from regression after the fact.
    load_start = [round(x, 2) for x in os.getloadavg()]
    timings: dict[str, float] = {}
    rerun: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    for name in HEADLINE:
        fn = registry[name].fn
        # Streaming state-store task count = shuffle.partitions at the
        # checkpoint's first batch; the drains' per-microbatch cost is
        # dominated by those state tasks, not data. Size the state
        # partitions to the state volume (tiny here), exactly as a
        # production job would — measured at sf0.1: stream-stream join
        # 21.9 -> 7.9 s, PSI 7.5 -> 3.8 s, identical results
        # (hash-parity re-verified at 8). Batch queries keep the core
        # count; checkpoints are cleared per run so the conf applies.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            "8" if name in STREAMING_SINGLE_RUN else base_parts,
        )
        fn(spark, sf_dir).collect()  # warm: plan build + codegen + file listing
        n_runs = 1 if name in STREAMING_SINGLE_RUN else N_RUNS
        fresh: list[float] = []
        reruns: list[float] = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.collect()  # fresh plan: full execution incl. shuffle stages
            fresh.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            df.collect()  # same-object rerun: shuffle stages skipped —
            reruns.append(time.perf_counter() - t0)
            # ... this is the methodology behind BASELINE.md's "warm" rows.
        timings[name] = round(statistics.median(fresh), 4)
        rerun[name] = round(statistics.median(reruns), 4)
        spread[name] = [round(min(fresh), 4), round(max(fresh), 4)]

    # Annex rows: timed via the noop sink (ADVICE r10 #2 — .count()
    # let Catalyst's EliminateSorts drop each query's final global
    # orderBy and prune projection-only columns, so the annex history
    # could miss regressions in exactly that work; noop consumes every
    # column and keeps the sort, executing the FULL plan without
    # fetching multi-million-row results into the driver — the
    # containment join's 8.28M rows OOM'd a default-heap JVM once).
    # 1 warm + ONE timed fresh plan — the streaming-row precedent:
    # q_containment_join alone runs ~180 s at sf0.1, so median-of-3
    # would triple the suite's wall time to refine a number whose
    # purpose is round-over-round HISTORY, not precision. The annex
    # series is internally consistent from r11 on (noop-based,
    # single-run; r10's window was count-based — annex_method records
    # the switch) and not comparable to the collect-based headlines.
    spark.conf.set("spark.sql.shuffle.partitions", base_parts)
    annex: dict[str, float] = {}
    for name in annex_names():
        fn = registry[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        annex[name] = round(time.perf_counter() - t0, 4)

    total = round(sum(timings.values()), 4)
    # The streaming drain is ~24 microbatches of ~1.3 s deterministic
    # per-batch overhead — a different cost regime from the batch
    # queries. value_batch_only keeps r1-r3 totals comparable.
    batch_only = round(
        sum(t for n, t in timings.items() if n not in STREAMING_SINGLE_RUN), 4
    )
    line = json.dumps(
        {
            "metric": "headline_suite_warm_total",
            "value": total,
            "value_batch_only": batch_only,
            "unit": "sec",
            "queries": timings,
            "annex": annex,
            "annex_method": "noop_sink",
            "queries_rerun_baseline_methodology": rerun,
            "queries_spread": spread,
            "n_runs": N_RUNS,
            "sf": _sf_of(sf_dir),
            "load_avg_start": load_start,
            "load_avg_end": [round(x, 2) for x in os.getloadavg()],
            "waited_for_quiet_sec": waited,
        }
    )
    # The driver captures only the LAST 2,000 chars of stdout — the
    # full line above is ~2.8 KB and arrived truncated in r4 AND r5
    # (BENCH_r0{4,5}.json "parsed": null). stdout therefore gets a
    # COMPACT line (headline totals + per-query 3-dp medians, ~1.1 KB);
    # the spread / rerun-methodology maps live only in the durable
    # BENCH_LOCAL.json.
    compact = json.dumps(
        {
            "metric": "headline_suite_warm_total",
            "value": total,
            "value_batch_only": batch_only,
            "unit": "sec",
            "queries": {n: round(t, 3) for n, t in timings.items()},
            "annex": {n: round(t, 3) for n, t in annex.items()},
            "sf": _sf_of(sf_dir),
            # contention context (~45 chars): the drift-vs-regression
            # question every round starts with "what else was running?"
            "load_avg_start": load_start,
            "waited_for_quiet_sec": waited,
        },
        separators=(",", ":"),
    )
    assert len(compact) < 1900, f"compact bench line {len(compact)} chars"
    # r4's driver bench JSON failed to parse because Spark progress-bar
    # frames (\r-terminated, written to stdout) interleaved with the
    # JSON line (BENCH_r04.json "parsed": null). Three-layer fix:
    # spark.ui.showConsoleProgress=false in the session factory; a
    # durable copy on disk written BEFORE spark.stop() (a wedged
    # executor must not lose the finished run); the stdout JSON printed
    # only AFTER spark.stop(), prefixed by a newline so any \r residue
    # a pre-existing context's progress bar left on the current line
    # cannot prefix the JSON for a line-based parser.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as f:
        f.write(line + "\n")
    try:
        spark.stop()
    finally:
        sys.stdout.flush()
        print("\n" + compact, flush=True)


if __name__ == "__main__":
    sys.exit(main())
