"""Stream-batch parity (SURVEY.md §5.4) for the rows-only streaming
ops; the SQL-oracled ones (T1/T2/T3/T5/T6/T7) are parity-checked
against DuckDB by test_oracle_parity / the driver already."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_log_analysis_spark.queries import load_registry
from hadoop_log_analysis_spark.sources.catalog import scan
from tests.conftest import SF001, SF0001

REGISTRY = load_registry()


def test_watermark_append_emits_closed_windows_matching_batch(spark):
    """T4: every window append-mode emits must carry the exact batch
    count for that hour (late rows behind the watermark were dropped,
    but the drop replays in ts order so closed windows are complete);
    only trailing in-flight windows may be withheld."""
    emitted = {
        r.hr_us: r.n
        for r in REGISTRY["q_stream_watermark_late"].fn(spark, SF001).collect()
    }
    batch = {
        r.hr_us: r.n
        for r in (
            scan(spark, SF001, "events")
            .groupBy(
                F.unix_micros(
                    F.date_trunc("hour", F.col("ts")).cast("timestamp")
                ).alias("hr_us")
            )
            .agg(F.count("*").alias("n"))
        ).collect()
    }
    assert emitted, "append mode should emit closed windows"
    mismatched = {h for h, n in emitted.items() if batch.get(h) != n}
    assert not mismatched, f"closed windows disagree with batch: {sorted(mismatched)[:5]}"
    withheld = set(batch) - set(emitted)
    # Only windows near the end of the stream may still be open.
    assert len(withheld) <= 2, f"too many withheld windows: {len(withheld)}"
    # Exact accounting (VERDICT r1 item 7): every input row is either in
    # an emitted window or in a withheld trailing window — none lost,
    # none duplicated — and withheld windows strictly follow emitted ones.
    total = scan(spark, SF001, "events").count()
    assert total - sum(emitted.values()) == sum(batch[h] for h in withheld)
    if withheld:
        assert min(withheld) > max(emitted)


def test_watermark_drops_late_row_exact_count(spark):
    """T4 late-DROP semantics pinned deterministically: a hand-built
    drop replays (on-time rows) -> (two watermark advances) -> (one
    late row behind the watermark). Spark 3.4+ filters late input with
    the PREVIOUS batch's watermark (eviction uses the current one), so
    the advance must be committed one batch before the late row
    arrives; the late row's window is then already closed and append
    mode must emit it WITHOUT the late row — count 2, not 3 — and
    withhold the still-open trailing windows."""
    import json
    import os
    import shutil

    from hadoop_log_analysis_spark.streaming.events_stream import (
        TMP,
        read_events_stream,
        run_to_table,
    )

    drop = os.path.join(TMP, "stream_drop_latecase")
    shutil.rmtree(drop, ignore_errors=True)
    os.makedirs(drop)
    base_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    hour = 3_600_000_000
    minute = 60_000_000
    files = [
        [(1, base_us), (2, base_us + 30 * minute)],  # window 00:00, on time
        [(3, base_us + 2 * hour)],  # advances watermark to 01:50
        [(5, base_us + 3 * hour)],  # commits 01:50 as the late-filter wm
        [(4, base_us + 5 * minute)],  # LATE: window 00:00 already closed
    ]
    for i, evs in enumerate(files):
        with open(os.path.join(drop, f"part-{i:05d}.json"), "w") as f:
            for eid, ts_us in evs:
                f.write(
                    json.dumps(
                        {
                            "event_id": eid,
                            "ts_us": ts_us,
                            "user_id": 7,
                            "event_type": "click",
                            "value": 1.0,
                        }
                    )
                    + "\n"
                )
    base_m = os.path.getmtime(os.path.join(drop, "part-00000.json"))
    for i in range(len(files)):
        os.utime(os.path.join(drop, f"part-{i:05d}.json"), (base_m + 10 * i,) * 2)
    events = read_events_stream(spark, drop, max_files_per_trigger=1)
    agg = (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = run_to_table(agg, "t4_latecase", "append")
    emitted = {(r["w"].start.isoformat(), r.n) for r in out.collect()}
    assert emitted == {("2024-01-01T00:00:00", 2)}


import pytest


@pytest.mark.parametrize(
    "qname",
    [
        "q_stream_stream_left_join",
        "q_stream_stream_left_join_bucketed",
        "q_stream_stream_left_join_bucketed_payload",
    ],
)
def test_stream_stream_left_join_parity_at_bench_mfpt(spark, monkeypatch, qname):
    """T8 at the BENCH drain config (ADVICE r9 bench.py:151): the
    folded drain — HLA_STREAM_JOIN_MFPT=3 over 2 drop files packs the
    replay into two microbatches, and correctness then rests on Spark
    scheduling a no-data flush batch after the final sentinel-carrying
    batch. Until now that path was covered only by manual sf0.1
    re-verification; this pins it in CI with the driver's exact
    comparator, so a Spark-version change in no-data-batch triggering
    desyncs the benched path LOUDLY instead of silently. r13: also
    pins the bucketed skew-defense twin — its exploded sentinels and
    drained merge must survive the folded replay identically. r14:
    and the payload-carrying merge variant (first()-per-id recovery
    under the folded replay)."""
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle

    monkeypatch.setenv("HLA_STREAM_JOIN_DROP_FILES", "2")
    monkeypatch.setenv("HLA_STREAM_JOIN_MFPT", "3")
    spec = REGISTRY[qname]
    got = spec.fn(spark, SF001).toPandas()
    want = run_oracle(spec.oracle, SF001)
    problems = compare_frames(got, want)
    assert not problems, f"bench-config drain desynced from oracle: {problems}"


def test_stream_minhash_dedup_matches_greedy_simulation(spark):
    """T5xL2 (streaming.docs_dedup): the drained dup-hit multiset must
    equal an exact Python greedy simulation of first-seen-per-bucket
    over the batch-computed signatures — at TWO microbatch widths, so
    the winner/hit assignment is batch-boundary invariant — and the
    kept set must equal the simulation's keepers."""
    from collections import Counter

    from hadoop_log_analysis_spark.operators.dedup import (
        band_hash_expr,
        minhash_signature,
    )
    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        derive_docs_drop_dir,
        read_docs_stream,
        stream_minhash_dup_hits,
    )
    from hadoop_log_analysis_spark.streaming.events_stream import run_to_table

    docs = scan(spark, SF0001, "documents").select("doc_id", "text")
    sig_rows = (
        docs.withColumn("sig", minhash_signature("text"))
        .select("doc_id", band_hash_expr("sig").alias("bands"))
        .collect()
    )
    # Greedy ingest simulation: docs arrive in doc_id order (the drop
    # dir's synthetic clock is doc_id-derived); the first doc EVER to
    # touch a bucket owns it, later touchers emit one hit per band.
    seen: dict = {}
    expected: Counter = Counter()
    all_ids = set()
    for r in sorted(sig_rows, key=lambda r: r.doc_id):
        all_ids.add(r.doc_id)
        for bi, bh in enumerate(r.bands):
            if (bi, bh) in seen:
                expected[(r.doc_id, bi, seen[(bi, bh)])] += 1
            else:
                seen[(bi, bh)] = r.doc_id
    assert expected, "fixture should contain near-duplicates"

    # five replay configs: the default 8-file dir at two microbatch
    # widths, the folded 2-file/mFPT=3 BENCH drain config (the
    # HLA_STREAM_DEDUP_* knobs' timing regime), plus the r15
    # coarse-grouped path (groups_per_band) at the registered default
    # AND a deliberately tiny/odd G under the finest cadence (many
    # buckets per group x incremental state across 8 batches) — all
    # must produce the identical greedy hit multiset
    configs = [
        (derive_docs_drop_dir(spark, SF0001), 1, None),
        (derive_docs_drop_dir(spark, SF0001), 4, None),
        (derive_docs_drop_dir(spark, SF0001, n_files=2), 3, 128),
        (derive_docs_drop_dir(spark, SF0001), 1, 7),
    ]
    for i, (drop, mfpt, groups) in enumerate(configs):
        hits = stream_minhash_dup_hits(
            read_docs_stream(spark, drop, mfpt), groups_per_band=groups
        )
        out = run_to_table(hits, f"test_mh_dedup_{i}", "append")
        got = Counter(
            (r.doc_id, r.band_idx, r.winner_id) for r in out.collect()
        )
        assert got == expected, f"hit multiset diverges at config {i}"
        kept = all_ids - {d for d, _, _ in got}
        assert kept == all_ids - {d for d, _, _ in expected}


def test_stream_knn_batch_boundary_invariant(spark):
    """T8xL3 (streaming/retrieval.py): retrieval is stateless, so the
    drained top-k must be IDENTICAL under different microbatch widths
    — and each query's rows must form a complete 1..k rank prefix."""
    from hadoop_log_analysis_spark.sources.catalog import scan as _scan
    from hadoop_log_analysis_spark.streaming.retrieval import (
        derive_query_drop_dir,
        read_query_stream,
        run_stream_knn,
    )
    import os

    from hadoop_log_analysis_spark.streaming.events_stream import TMP

    corpus = _scan(spark, SF0001, "embeddings").select("vec_id", "embedding")
    drop = derive_query_drop_dir(spark, SF0001)
    results = {}
    for mfpt in (1, 4):
        out_dir = os.path.join(TMP, f"test_knn_{mfpt}")
        df = run_stream_knn(
            read_query_stream(spark, drop, mfpt),
            corpus,
            k=10,
            name=f"test_knn_{mfpt}",
            out_dir=out_dir,
        )
        results[mfpt] = {tuple(r) for r in df.collect()}
    assert results[1] == results[4]
    assert results[1], "query feed should produce results"
    by_q: dict = {}
    for q_id, _vec, _sim, rn in results[1]:
        by_q.setdefault(q_id, []).append(rn)
    for q_id, rns in by_q.items():
        assert sorted(rns) == list(range(1, len(rns) + 1)), q_id


def test_stream_knn_ivf_matches_batch_ranker(spark):
    """T8xL4 (streaming/retrieval.py): the drained approximate stream
    must multiset-equal the batch ivf_topk_multi answer over the full
    query frame (same centroids, same routing) — replay adds nothing
    and loses nothing — and stay a strict subset-or-equal of recall
    against the exact ranker at the coverage floor."""
    from hadoop_log_analysis_spark.operators.similarity import (
        exact_topk_multi,
        ivf_centroids,
        ivf_topk_multi,
    )
    from hadoop_log_analysis_spark.streaming.retrieval import (
        QUERY_BASE_US,
        derive_query_drop_dir,
        read_query_stream,
        run_stream_knn,
    )
    import os

    from hadoop_log_analysis_spark.streaming.events_stream import TMP

    corpus = scan(spark, SF0001, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    cents = ivf_centroids(corpus)
    queries = (
        scan(spark, SF0001, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        )
    )
    batch = {
        tuple(r)
        for r in ivf_topk_multi(queries, corpus, cents, k=10, n_probe=2).collect()
    }
    drop = derive_query_drop_dir(spark, SF0001)
    streamed = {
        tuple(r)
        for r in run_stream_knn(
            read_query_stream(spark, drop, 2),
            corpus,
            k=10,
            name="test_knn_ivf",
            out_dir=os.path.join(TMP, "test_knn_ivf"),
            ranker=lambda b: ivf_topk_multi(b, corpus, cents, k=10, n_probe=2),
        ).collect()
    }
    assert streamed == batch and streamed
    # coverage-level recall floor vs the exact ranker (near-random
    # fixture: recall ~= n_probe/|buckets| = 0.2; floor at half that)
    exact = {
        (r.q_id, r.vec_id)
        for r in exact_topk_multi(queries, corpus, k=10).collect()
    }
    approx = {(q, v) for q, v, _s, _r in streamed}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.1, f"IVF stream recall {recall:.2f} below coverage floor"


def test_stream_minhash_dedup_ttl_horizon(spark):
    """TTL variant (docs_dedup._make_ttl_fn): winners suppress only
    within horizon_us of their own event time; later arrivals re-claim
    the bucket; and the EventTimeTimeout actually EVICTS — a late
    in-horizon arrival delivered after the timer fired re-claims
    instead of hitting, which is only observable if state.remove()
    ran. Hand-built feed, identical text => all 16 bands collide."""
    import json
    import os
    import shutil

    from hadoop_log_analysis_spark.streaming.docs_dedup import (
        read_docs_stream,
        stream_minhash_dup_hits,
    )
    from hadoop_log_analysis_spark.streaming.events_stream import (
        TMP,
        run_to_table,
        stamp_replay_order,
    )

    base = 1_704_067_200_000_000
    mn = 60_000_000
    text_x = "the same boilerplate text repeated verbatim every time"
    text_y = "a completely different document about something else entirely"
    text_z = "yet another unrelated third document with its own words here"
    horizon = 90 * mn
    # file-per-batch, in arrival order:
    #  A(0, X)        claims every X bucket
    #  B(80min, X)    within horizon of A -> 16 hits on A
    #  C(180min, X)   past A's horizon -> re-claims silently
    #  D(260min, X)   within horizon of C -> 16 hits on C
    #  E(700min, Y)   unrelated; advances watermark past C+horizon
    #  G(705min, Y)   batch with no X-bucket data -> timers fire,
    #                 C's buckets evicted
    #  F(300min, X)   LATE (watermark ~705min) but within horizon of C:
    #                 with state alive it would hit C; after eviction it
    #                 re-claims -> emits nothing (proves remove() ran)
    #  H(310min, X)   also late, within horizon of F: hits F — which
    #                 both proves applyInPandasWithState DELIVERS
    #                 late rows (no automatic late filtering; the
    #                 operator's in-order contract is the caller's)
    #                 and that F's re-claim really registered
    files = [
        (10, 0, text_x),
        (11, 80 * mn, text_x),
        (12, 180 * mn, text_x),
        (13, 260 * mn, text_x),
        (14, 700 * mn, text_y),
        (15, 705 * mn, text_z),
        (16, 300 * mn, text_x),
        (17, 310 * mn, text_x),
    ]
    drop = os.path.join(TMP, "docs_drop_ttlcase")
    shutil.rmtree(drop, ignore_errors=True)
    os.makedirs(drop)
    for i, (doc_id, off, text) in enumerate(files):
        with open(os.path.join(drop, f"part-{i:05d}.json"), "w") as f:
            f.write(json.dumps({
                "doc_id": doc_id, "ts_us": base + off,
                "text": text, "source": "s",
            }) + "\n")
    stamp_replay_order(drop)

    hits = stream_minhash_dup_hits(
        read_docs_stream(spark, drop, 1), horizon_us=horizon
    )
    out = run_to_table(hits, "test_mh_ttl", "append")
    got = sorted((r.doc_id, r.band_idx, r.winner_id) for r in out.collect())
    # F and H emit NOTHING: watermark filtering drops late input before
    # applyInPandasWithState (observed and pinned here — Spark filters
    # sub-watermark rows for stateful ops when a watermark is set, so
    # the late-feed caveat in the module docstring applies only to
    # out-of-order rows ABOVE the watermark).
    expected = sorted(
        [(11, b, 10) for b in range(16)] + [(13, b, 12) for b in range(16)]
    )
    assert got == expected, f"TTL horizon semantics diverged: {got[:8]}..."

    # EVICTION proof, read from the checkpoint itself (Spark 4 state
    # data source; the coordinator endpoint exists because this session
    # just ran the drain): the X buckets' entries — winner 10 then 12 —
    # must be GONE (watermark 700min passed C's 270min expiry at the
    # G batch, which carried no X data, so the timers fired), leaving
    # only E's and G's 16 buckets each, live because their expiries
    # exceed the final watermark.
    import glob

    app = spark.sparkContext.applicationId
    ckpt = sorted(glob.glob(os.path.join(TMP, f"stream_ckpt_test_mh_ttl_{app}")))[-1]
    live = (
        spark.read.format("statestore")
        .load(ckpt)
        .select("value.groupState.winner_id")
        .collect()
    )
    winners = sorted(r.winner_id for r in live)
    assert winners == [14] * 16 + [15] * 16, (
        f"expected only the Y/Z buckets live after eviction, got {winners}"
    )


@pytest.mark.parametrize(
    "qname, env_prefix",
    [
        ("q_stream_stateful_counts", "HLA_STREAM_COUNTS"),
        ("q_stream_sequence_match", "HLA_STREAM_SEQ"),
    ],
)
def test_stateful_pair_parity_at_folded_replay(spark, monkeypatch, qname,
                                               env_prefix):
    """r14 optimization pin: the two applyInPandasWithState drains got
    the q_stream_minhash_dedup treatment (per-query state-partition
    sizing + replay-fold knobs — their cost is per-group Python calls
    x batch count). The drained answer is a per-user max of monotone
    running values, so it must be batching-invariant; this pins the
    FOLDED replay (2 files, mFPT=3 — one microbatch, the measurement
    config) against the DuckDB oracle with the driver's exact
    comparator, so a regression in the in-batch (ts, event_id) sort or
    the monotonicity argument desyncs loudly. Also pins the loud
    validation of the new knobs."""
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle

    monkeypatch.setenv(f"{env_prefix}_DROP_FILES", "2")
    monkeypatch.setenv(f"{env_prefix}_MFPT", "3")
    monkeypatch.setenv(f"{env_prefix}_STATE_PARTITIONS", "4")
    spec = REGISTRY[qname]
    got = spec.fn(spark, SF001).toPandas()
    want = run_oracle(spec.oracle, SF001)
    problems = compare_frames(got, want)
    assert not problems, f"folded stateful drain desynced: {problems}"
    monkeypatch.setenv(f"{env_prefix}_STATE_PARTITIONS", "0")
    with pytest.raises(ValueError):
        spec.fn(spark, SF001)


def test_stream_dedup_parity_at_folded_replay(spark, monkeypatch):
    """r14 optimization pin: q_stream_dedup's replay-fold knobs. Every
    injected duplicate shares its original's event time and file
    slice, so folding only narrows the watermark movement between
    original and dup — the drained set must stay the unique rows.
    Pins the folded cadence against the DuckDB oracle with the
    driver's comparator, plus the loud knob validation."""
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle

    monkeypatch.setenv("HLA_STREAM_T5_DEDUP_DROP_FILES", "2")
    monkeypatch.setenv("HLA_STREAM_T5_DEDUP_MFPT", "3")
    spec = REGISTRY["q_stream_dedup"]
    got = spec.fn(spark, SF001).toPandas()
    want = run_oracle(spec.oracle, SF001)
    problems = compare_frames(got, want)
    assert not problems, f"folded dedup drain desynced: {problems}"
    monkeypatch.setenv("HLA_STREAM_T5_DEDUP_MFPT", "0")
    with pytest.raises(ValueError):
        spec.fn(spark, SF001)


@pytest.mark.parametrize(
    "qname",
    [
        "q_stream_hourly_errors",
        "q_stream_sliding_counts",
        "q_stream_sessions",
        "q_stream_ohlc",
    ],
)
def test_complete_mode_parity_at_folded_replay(spark, monkeypatch, qname):
    """r14 optimization pin: the complete-mode, no-watermark drains
    share HLA_STREAM_COMPLETE_{DROP_FILES,MFPT} (the r8 PSI law —
    complete mode re-emits the full aggregate and holds no watermark,
    so the drained result is a pure function of the total replayed
    data). Pins the folded cadence against the DuckDB oracle with the
    driver's comparator, plus the loud knob validation."""
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle

    monkeypatch.setenv("HLA_STREAM_COMPLETE_DROP_FILES", "2")
    monkeypatch.setenv("HLA_STREAM_COMPLETE_MFPT", "3")
    spec = REGISTRY[qname]
    got = spec.fn(spark, SF001).toPandas()
    want = run_oracle(spec.oracle, SF001)
    problems = compare_frames(got, want)
    assert not problems, f"folded complete-mode drain desynced: {problems}"
    monkeypatch.setenv("HLA_STREAM_COMPLETE_MFPT", "-1")
    with pytest.raises(ValueError):
        spec.fn(spark, SF001)


def test_stream_heavy_hitters_parity_at_folded_replay(spark, monkeypatch):
    """r14 optimization pin: q_stream_heavy_hitters' fold knobs.
    Misra-Gries emissions are cadence-dependent, but the exact recount
    thresholded at n/(k+1) filters extra candidates and the MG
    guarantee puts every true heavy hitter in any cadence's final
    state — so the drained ANSWER must be cadence-invariant. Pins the
    folded cadence against the oracle + the loud knob validation."""
    from hadoop_log_analysis_spark.oracle import compare_frames, run_oracle

    monkeypatch.setenv("HLA_STREAM_HH_DROP_FILES", "2")
    monkeypatch.setenv("HLA_STREAM_HH_MFPT", "3")
    spec = REGISTRY["q_stream_heavy_hitters"]
    got = spec.fn(spark, SF001).toPandas()
    want = run_oracle(spec.oracle, SF001)
    problems = compare_frames(got, want)
    assert not problems, f"folded MG drain desynced: {problems}"
    monkeypatch.setenv("HLA_STREAM_HH_DROP_FILES", "0")
    with pytest.raises(ValueError):
        spec.fn(spark, SF001)


def test_drain_failure_propagates_and_restores_session(spark):
    """events_stream.drain's failure path: an error raised inside a
    foreachBatch function must reach the caller, leave no active
    stream behind and restore spark.sql.shuffle.partitions — while the
    drain itself ran under the pinned state-partition count."""
    from hadoop_log_analysis_spark.streaming.events_stream import (
        derive_drop_dir,
        drain,
        read_events_stream,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    pinned = str(int(before) + 3)
    seen = []

    def fail(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("sink exploded on purpose")

    drop = derive_drop_dir(spark, SF0001)
    with pytest.raises(Exception, match="sink exploded on purpose"):
        drain(
            read_events_stream(spark, drop),
            "test_drain_failure",
            foreach_batch=fail,
            state_partitions=int(pinned),
        )
    assert seen == [pinned]
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
