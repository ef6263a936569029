"""File-source event streams derived from the events fixture (S7).

The batch/stream unification story (SURVEY.md §1.2): the same events
schema flows through both engines. A "drop directory" of JSON-lines
files is derived deterministically from ``events.parquet`` —
time-ordered files, so the stream replays the month roughly in event
order — and every T1-T7 operator consumes it through
``spark.readStream``.

Timestamps cross the JSON boundary as **epoch-microsecond bigints**
(``ts_us``), never as strings: deterministic, precision-exact, and
µs on both engine sides (DuckDB oracle uses ``epoch_us`` which also
truncates the fixture's ns — see memory/duckdb-ns-truncation).

Scale posture: the file source at 100 TB becomes a real queue
(Kafka) with identical downstream code; watermarks + state-store
(RocksDB provider) bound state. ``maxFilesPerTrigger`` here forces
multi-microbatch execution so tests exercise real incremental state,
not one giant batch.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TMP = os.path.join(_REPO, ".tmp")

# JSON-lines drop schema: ts as epoch-µs bigint (see module docstring).
DROP_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def stamp_replay_order(path: str) -> tuple[int, float]:
    """mtime-stamp a drop dir's part files strictly increasing in part
    order. The file source replays files in modification-time order; a
    single batch write stamps them identically, which would randomize
    replay order and break every time-ordered-replay contract (T4/T5
    watermarks, first-seen dedup, the bucketed joins' sentinels). Part
    numbering follows repartitionByRange order, so part-00000 is the
    earliest time slice. Returns (n_parts, base_mtime) so callers that
    append marker files (the sentinel writer) can stamp past the end."""
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".json")
    )
    base = (
        os.path.getmtime(os.path.join(path, parts[0]))
        if parts
        else os.path.getmtime(path)
    )
    for i, f in enumerate(parts):
        full = os.path.join(path, f)
        os.utime(full, (base + 10 * i, base + 10 * i))
    return len(parts), base


def derive_drop_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 8,
    with_dups: bool = False,
    with_sentinel: bool = False,
) -> str:
    """Write the events fixture as ``n_files`` time-ordered JSON files.

    Files are range-partitioned on ts (file 0 = earliest slice), so a
    ``maxFilesPerTrigger=1`` stream replays the month in order —
    watermarks advance monotonically like they would against a live
    feed. Built once per (sf, variant); deterministic content.

    ``with_dups``: additionally duplicate one in every 20 events
    (deterministic ``event_id % 20 == 0`` rule) for T5 dedup.

    ``with_sentinel``: append THREE final one-event marker files
    (event_id=-j, event_type='__sentinel', user_id=-1, ts = max +
    j*30 days). Outer stream-stream joins hold unmatched rows in state
    until the watermark passes their eviction time; at the end of a
    bounded replay the watermark sits at max_ts - delay, so those rows
    would never emit. The sentinels push the watermark past every
    eviction time, flushing the full outer result. Consumer contract
    (see q_stream_stream_left_join, the reference user): consume with
    maxFilesPerTrigger=1; your side filters must ADMIT '__sentinel'
    rows into the join inputs (Catalyst pushes both event_type filters
    and left-side join predicates below the EventTimeWatermark node,
    so any streaming-plan filter that drops sentinels also hides them
    from the watermark tracker); user_id=-1 guarantees sentinels never
    match real rows; strip sentinel output rows from the DRAINED batch
    result, never inside the streaming plan.
    """
    from hadoop_log_analysis_spark.sources.catalog import scan

    variant = ("dups" if with_dups else "plain") + (
        "_sentinel" if with_sentinel else ""
    )
    # n_files is part of the cache key: the bench replays the
    # stream-stream join over fewer/larger files to amortize the fixed
    # per-microbatch cost (VERDICT r4 item 7) while the parity tests
    # keep the default 8-file replay where batch boundaries are the
    # point. Same data, same drained result either way.
    path = os.path.join(TMP, f"stream_drop_{variant}_{n_files}f_{_tag(sf_dir)}")
    marker = os.path.join(path, "_READY")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)

    events = scan(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    if with_dups:
        dups = events.filter(F.col("event_id") % 20 == 0)
        events = events.unionByName(dups)
    (
        events.repartitionByRange(n_files, "ts_us")
        .sortWithinPartitions("ts_us", "event_id")
        .write.mode("overwrite")
        .json(path)
    )
    n_parts, base = stamp_replay_order(path)
    if with_sentinel:
        import json as _json

        # coalesce to epoch 0 on an empty feed: the sentinels still
        # advance the watermark and flush (empty) outer-join state.
        max_us = events.agg(
            F.coalesce(F.max("ts_us"), F.lit(0))
        ).collect()[0][0]
        # THREE sentinel files, each its own microbatch (consume with
        # maxFilesPerTrigger=1): the watermark computed from batch N's
        # data only takes effect in batch N+1, so a single final
        # sentinel would advance the watermark without any later batch
        # to evict/emit the flushed outer state — and with TWO sources
        # over the same directory the sources can sit one file apart,
        # costing one more batch (observed: 2 sentinels left the join's
        # min-watermark at max_real_ts - delay). Three guarantee the
        # last executed batch runs with watermark >= sentinel-1 - delay
        # even under a one-file source offset.
        for j in (1, 2, 3):
            sentinel = {
                "event_id": -j,
                "ts_us": max_us + j * 30 * 86400 * 1_000_000,
                "user_id": -1,
                "event_type": "__sentinel",
                "value": 0.0,
            }
            sfile = os.path.join(path, f"part-zz-sentinel-{j}.json")
            with open(sfile, "w") as fh:
                fh.write(_json.dumps(sentinel) + "\n")
            t = base + 10 * (n_parts + j)
            os.utime(sfile, (t, t))
    open(marker, "w").close()
    return path


def read_events_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """S7: streaming file source over a drop directory -> typed events.

    Emits the batch-identical column set (event_id, ts, user_id,
    event_type, value) with ``ts`` as TimestampType (UTC session, so
    instants match the batch ntz values exactly).
    """
    raw = (
        spark.readStream.schema(DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )
    return raw.select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def ckpt_path(name: str, app_id: str) -> str:
    """The checkpoint directory ``drain`` uses for a stream ``name``
    and Spark application id. Shared so measurement tooling
    (scripts/stream_state_skew.py) derives the SAME path instead of
    hard-coding the convention — a rename there must break loudly,
    not silently profile an empty directory."""
    return os.path.join(TMP, f"stream_ckpt_{name}_{app_id}")


# Every replay knob the streaming queries read, by full name. A family
# resolves only the names listed here; a value it has no knob for is
# the constant its query passes. HLA_STREAM_STATE_PARTITIONS is the
# shared state-task count for drains whose family does not size it.
REPLAY_ENV = (
    "HLA_STREAM_COMPLETE_DROP_FILES",
    "HLA_STREAM_COMPLETE_MFPT",
    "HLA_STREAM_T5_DEDUP_DROP_FILES",
    "HLA_STREAM_T5_DEDUP_MFPT",
    "HLA_STREAM_COUNTS_DROP_FILES",
    "HLA_STREAM_COUNTS_MFPT",
    "HLA_STREAM_COUNTS_STATE_PARTITIONS",
    "HLA_STREAM_SEQ_DROP_FILES",
    "HLA_STREAM_SEQ_MFPT",
    "HLA_STREAM_SEQ_STATE_PARTITIONS",
    "HLA_STREAM_JOIN_DROP_FILES",
    "HLA_STREAM_JOIN_MFPT",
    "HLA_STREAM_HH_DROP_FILES",
    "HLA_STREAM_HH_MFPT",
    "HLA_STREAM_PSI_DROP_FILES",
    "HLA_STREAM_DEDUP_DROP_FILES",
    "HLA_STREAM_DEDUP_MFPT",
    "HLA_STREAM_KNN_MFPT",
    "HLA_STREAM_STATE_PARTITIONS",
)


def _env_int(name: str, default: int) -> int:
    """The one reader of HLA_STREAM_* variables: ``default`` when
    unset, else a positive int. A nonsensical value fails loudly
    instead of silently hanging, zeroing or emptying a drain."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError:
        val = 0  # not an integer: rejected below with the same message
    if val < 1:
        raise ValueError(f"{name} must be an integer >= 1, got {raw!r}")
    return val


@dataclass(frozen=True)
class Replay:
    """How a query replays its drop directory: ``files`` drop files,
    ``mfpt`` of them per microbatch (maxFilesPerTrigger), and the
    ``state_partitions`` its drain pins."""

    files: int
    mfpt: int
    state_partitions: int


def replay(
    family: str | None = None,
    files: int = 8,
    mfpt: int = 1,
    state_partitions: int | None = None,
) -> Replay:
    """Resolve ``family``'s replay: each value is its
    ``HLA_STREAM_<family>_{DROP_FILES,MFPT,STATE_PARTITIONS}`` override
    when that name is in REPLAY_ENV, else the query's default. A family
    that sizes its own state passes ``state_partitions``; otherwise the
    drain pins HLA_STREAM_STATE_PARTITIONS, else 8."""

    def knob(suffix: str, default: int) -> int:
        name = f"HLA_STREAM_{family}_{suffix}"
        return _env_int(name, default) if name in REPLAY_ENV else default

    if state_partitions is None:
        state_partitions = _env_int("HLA_STREAM_STATE_PARTITIONS", 8)
    else:
        state_partitions = knob("STATE_PARTITIONS", state_partitions)
    return Replay(
        files=knob("DROP_FILES", files),
        mfpt=knob("MFPT", mfpt),
        state_partitions=state_partitions,
    )


def _drain_timeout(default_sec: int) -> int:
    """HLA_STREAM_DRAIN_TIMEOUT_SEC raises the drain deadline on slow
    or noisy hosts: the heaviest skew-probe drain sits near 300 s and
    can cross it under host-neighbor jitter. A timeout is a HARNESS
    bound, not part of any query's semantics."""
    return _env_int("HLA_STREAM_DRAIN_TIMEOUT_SEC", default_sec)


def drain(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    state_partitions: int | None = None,
    timeout_sec: int = 300,
    resume: bool = False,
) -> StreamingQuery:
    """Run a streaming DataFrame to completion: the one place a stream
    is started. Returns the terminated query (its ``recentProgress``
    holds the per-microbatch progress).

    ``trigger(availableNow=True)`` processes everything currently in
    the source as real incremental microbatches (bounded by the
    source's maxFilesPerTrigger), then stops — the deterministic way
    to verify a streaming pipeline.

    Sink: the memory table ``name``, or ``foreach_batch(batch_df,
    batch_id)`` per microbatch when given. foreachBatch delivery is
    AT-LEAST-once (a mid-batch failure replays the batch), so a
    foreachBatch sink keys its output on batch_id and overwrites,
    making replays idempotent.

    Checkpoint: ``ckpt_path(name, app)``, cleared first unless
    ``resume`` (a stale checkpoint would no-op a re-run). The
    application id keeps concurrent sessions from racing one rmtree
    against another's in-flight batch-0 state write.

    State partitions: ``spark.sql.shuffle.partitions`` is pinned for
    the drain and restored afterwards. It sizes the state-store TASK
    COUNT, which a fresh checkpoint fixes at batch 0; the
    per-microbatch cost of these bounded replays is state tasks, not
    data, so the count is sized to the (tiny) state volume exactly as
    a production job would. ``None`` resolves HLA_STREAM_STATE_PARTITIONS,
    else 8. Results are partition-count invariant (hash parity is the
    oracle on every streaming query).

    Timeout: ``_drain_timeout(timeout_sec)``; on expiry the query is
    stopped and RuntimeError raised — a partial sink is never returned.
    """
    if state_partitions is None:
        state_partitions = replay().state_partitions
    timeout_sec = _drain_timeout(timeout_sec)
    spark = sdf.sparkSession
    ckpt = ckpt_path(name, spark.sparkContext.applicationId)
    if not resume:
        shutil.rmtree(ckpt, ignore_errors=True)
    writer = (
        sdf.writeStream.queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise RuntimeError(
                f"stream {name!r} did not drain within {timeout_sec}s"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return q


def run_to_table(
    sdf: DataFrame,
    name: str,
    output_mode: str,
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain ``sdf`` into the memory table ``name`` (see ``drain``)
    and return that table."""
    drain(
        sdf,
        name,
        output_mode,
        state_partitions=state_partitions,
        timeout_sec=timeout_sec,
    )
    return sdf.sparkSession.table(name)
