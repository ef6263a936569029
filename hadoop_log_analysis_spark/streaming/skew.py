"""Streaming skew defense: time-bucketed stream-stream interval join.

The r12 measurement (scripts/stream_state_skew.py, STREAM_STATE_SKEW
_r12.json) quantified the one skew surface the engine documented but
did not defend: a stream-stream join's state store is hash-partitioned
BY JOIN KEY, so a hot key's buffered rows all land in one state
partition — max/med state bytes hit 2.80x under a 20%-share key and
2.12x under a Zipf head, exactly the spatial key-concentration law.
AQE cannot help (there is no adaptive re-plan inside a streaming
stage), and the temporal bound (watermark x interval caps a key's
RESIDENT rows) bounds memory but not the imbalance.

``bucketed_interval_join`` is the shipped defense — the streaming
analog of ``operators.windows.sessionize_split`` (the batch window
class has the same no-engine-mechanism property). The equality key is
widened to ``(key, time_bucket)``:

* the RIGHT side computes ``bucket = event_time div W`` (one row, one
  bucket);
* the LEFT side is exploded into the ``ceil(I/W)+1`` candidate
  buckets its interval ``[ts, ts+I]`` can reach (with the default
  ``W = I`` exactly TWO rows: ``bucket`` and ``bucket+1``);
* the join adds ``l.bucket = r.bucket`` to the original key equality
  and time-range condition.

State for a hot key is then spread across its live time buckets —
bucketing follows event time, so successive microbatches' state for
the same hot key hashes to DIFFERENT state partitions. The price is a
2x replication of the left side's rows and state (the usual
skew-defense trade, same class as salting a batch join); worth paying
exactly when one key's rate rivals a partition.

Exactness (inner matches): the bucket function ``t div W`` is
monotone, so for any match ``r.ts in [l.ts, l.ts+I]`` the right row's
bucket lies in the left row's candidate sequence — every original
match survives; and a right row has exactly ONE bucket, so at most
one left duplicate can equi-match it — no match duplicates.

Outer semantics need a drained-side merge (``merge_bucketed_left``):
Spark emits a NULL row per UNMATCHED LEFT DUPLICATE, so a left row
matched in one bucket but not the other yields a spurious
``(left, NULL)``, and a fully unmatched left row yields one NULL per
duplicate. Both collapse under the rule "emit ``(id, NULL)`` iff the
id has no match at all" — a batch aggregation over the OUTPUT (not
the corpus), sized by result rows. Precondition: ``left_id`` is
unique AND non-NULL per left row (an event id; the fixture contract
— a repeated or NULL id would collapse distinct unmatched rows in
the merge), otherwise
row multiplicity of all-NULL ids is not recoverable from the output
alone. The NULL half is enforced LOUDLY at execution time (r14,
ADVICE r13 — ``merge_bucketed_left`` raises on a NULL id instead of
silently merging); the uniqueness half stays a documented contract
(undetectable from the output alone — multiplicity is
width-dependent). At 100 TB the merge is the same output-keyed dedup a
downstream foreachBatch sink would run; here it runs on the drained
batch table, exactly where q_stream_stream_left_join already strips
its watermark sentinels.

Verified output-invisible by q_stream_stream_left_join_bucketed
carrying the byte-identical DuckDB oracle of the plain join (the
sessionize_auto proof pattern), swept on the hot-key and Zipf probes;
the state-spread effect is measured by scripts/stream_state_skew.py
(plain vs bucketed rows side by side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_log_analysis_spark.streaming.events_stream import _env_int


def bucket_seconds_env(default_sec: int) -> int:
    """HLA_STREAM_BUCKET_SECONDS overrides the registered bucketed
    queries' bucket width so the probes can sweep the knob without
    code edits. Output is width-invariant (tests/test_properties.py
    sweeps it; the oracles hash-enforce it), so overriding never
    changes answers — only the state-spread/duplication trade. Read
    through the streaming env reader: width 0 would NULL every bucket
    and silently empty the join, so nonsense fails loudly."""
    return _env_int("HLA_STREAM_BUCKET_SECONDS", default_sec)


def bucketed_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    interval_seconds: int,
    watermark: str,
    bucket_seconds: int | None = None,
    how: str = "leftOuter",
) -> DataFrame:
    """Stream-stream interval join (``r.ts in [l.ts, l.ts+I]``) with a
    time-bucket-widened equality key (module docstring).

    ``left`` / ``right`` are the UN-watermarked shaped streams (the
    watermark is applied here, AFTER the bucket projection, so the
    event-time tag is on the exact columns the join condition reads).
    ``bucket_seconds`` defaults to ``interval_seconds`` — the widest
    bucket that still bounds left duplication at 2x; narrower buckets
    spread a hot key's state finer at the cost of more duplicates
    (``ceil(I/W)+1`` per left row). At 100 TB pick
    ``W ~ I / (target spread factor - 1)``.
    """
    if interval_seconds < 1:
        raise ValueError(f"interval_seconds must be >= 1, got {interval_seconds}")
    w = bucket_seconds if bucket_seconds is not None else interval_seconds
    if w < 1:
        raise ValueError(f"bucket_seconds must be >= 1, got {bucket_seconds}")
    # The duplicate-left construction is exact ONLY for join types
    # whose output is per-MATCH plus (for left outer) per-left-row NULLs
    # the merge can collapse. Semi/anti emit per LEFT ROW (a row whose
    # two duplicates match two different right rows would emit twice in
    # a semi; an anti would emit a matched row's unmatched duplicate),
    # and full outer adds right-side NULLs the merge does not model —
    # all three would be SILENTLY wrong, so refuse them loudly.
    if how.lower().replace("_", "") not in ("inner", "leftouter", "left"):
        raise ValueError(
            f"bucketed_interval_join supports inner/leftOuter only, got {how!r}"
        )
    w_us = w * 1_000_000
    i_us = interval_seconds * 1_000_000
    # integer `div` (not floor(double/)): exact at any magnitude, and
    # monotone either side of the epoch — candidate coverage only needs
    # monotonicity, not boundary alignment
    # explode_OUTER, not explode: a NULL left timestamp yields a NULL
    # candidate sequence, and plain explode would DROP the row — but a
    # left-outer interval join keeps a NULL-ts left row (its range
    # condition is NULL -> unmatched -> emitted with NULL right side).
    # explode_outer keeps it with a NULL bucket that can never
    # equi-match, restoring plain semantics for both join types.
    lb = (
        left.withColumn(
            "__lbkt",
            F.explode_outer(
                F.sequence(
                    F.expr(f"unix_micros(`{left_ts}`) div {w_us}"),
                    F.expr(f"(unix_micros(`{left_ts}`) + {i_us}) div {w_us}"),
                )
            ),
        ).withWatermark(left_ts, watermark)
    )
    rb = (
        right.withColumn(
            "__rbkt", F.expr(f"unix_micros(`{right_ts}`) div {w_us}")
        ).withWatermark(right_ts, watermark)
    )
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col("__lbkt") == F.col("__rbkt"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {interval_seconds} SECOND"))
    )
    return lb.join(rb, cond, how).drop("__lbkt", "__rbkt")


def merge_bucketed_left(
    out: DataFrame,
    left_id: str,
    right_id: str,
    payload_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Collapse per-duplicate NULL rows of a drained bucketed LEFT
    outer join to plain left-outer semantics: keep every match, and
    emit ``(left_id, NULL-right)`` exactly once iff the id matched
    nothing in ANY bucket. Output-sized batch step (module docstring).

    ``payload_cols`` (r14 — the r13 verdict's generalization item)
    names additional columns to carry through; output column order is
    ``(left_id, *payload_cols, right_id)``. LEFT-side payloads are
    constant per ``left_id`` by construction (every bucket duplicate
    replicates the same left row), so the NULL-only branch recovers
    them with ``first()`` inside the same single aggregation — one
    pass either way, no join back against the corpus. RIGHT-side
    payload columns work through the SAME ``first()``: a NULL-only
    id's rows are all right-NULL, so ``first()`` yields exactly the
    NULL a plain left-outer join emits for an unmatched row, and
    matched rows pass right payloads through untouched.

    Precondition (module docstring): ``left_id`` unique AND non-NULL
    per LEFT INPUT row. A NULL id is now refused LOUDLY at execution
    time (ADVICE r13 — silently collapsing distinct unmatched rows
    into one NULL output row would break the byte-identical-oracle
    guarantee for any caller that violates the fixture contract); the
    guard is woven into the ``left_id`` output column itself so column
    pruning cannot elide it. Repeated ids remain undetectable from the
    drained output alone (row multiplicity is width-dependent) — that
    half stays a documented contract.
    """
    for c in payload_cols:
        if c in (left_id, right_id):
            raise ValueError(
                f"payload_cols must not repeat the id columns, got {c!r}"
            )
        if c not in out.columns:
            raise ValueError(
                f"payload column {c!r} not in drained output {out.columns}"
            )
    # loud NULL-id guard: raise_error lives INSIDE the left_id column
    # every branch reads, so Catalyst cannot prune it (a dropped
    # assert_true side-column would be optimized away)
    guarded = out.withColumn(
        left_id,
        F.when(
            F.col(left_id).isNull(),
            F.raise_error(
                F.lit(
                    f"merge_bucketed_left: NULL {left_id} in drained "
                    "output — violates the unique-non-NULL left-id "
                    "precondition (streaming/skew.py module docstring); "
                    "distinct unmatched left rows would silently "
                    "collapse into one NULL row"
                )
            ),
        ).otherwise(F.col(left_id)),
    )
    payload = list(payload_cols)
    matched = guarded.filter(F.col(right_id).isNotNull()).select(
        left_id, *payload, right_id
    )
    # ids with zero non-NULL matches, via one aggregation — a self
    # anti-join over the drained view would both re-scan it and trip
    # Spark's self-join attribute dedup on memory-sink plans. first()
    # is exact for left payloads (constant per id) AND right payloads
    # (all-NULL within a null-only group — docstring).
    aggs = [F.count(right_id).alias("__n_matches")] + [
        F.first(c).alias(c) for c in payload
    ]
    null_only = (
        guarded.groupBy(left_id)
        .agg(*aggs)
        .filter(F.col("__n_matches") == 0)
        .select(left_id, *payload)
        .withColumn(right_id, F.lit(None).cast(out.schema[right_id].dataType))
    )
    return matched.unionByName(null_only)
