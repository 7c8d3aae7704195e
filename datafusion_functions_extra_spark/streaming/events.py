"""Structured Streaming variants of the event-stream operators.

Batch forms live in :mod:`..operators.sessions`; these are the
``readStream`` -> windowed-aggregate -> ``writeStream`` formulations a
production pipeline runs on a live event feed:

* tumbling windows via ``F.window`` with a watermark bounding state for
  late data;
* gap sessionization via Spark's native ``F.session_window`` — the
  streaming-safe equivalent of the batch lag+cumsum plan (same boundary
  rule: a new session starts when the gap since the previous event
  *exceeds* the threshold).

The file source replays the driver's events parquet, so the streaming
plans are exercised end-to-end locally with ``availableNow`` triggers; on
a cluster the same code points at a directory/Kafka source.  State stays
bounded by the watermark at any scale — the shuffle is keyed on
(window/session, keys) exactly like the batch plans.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: events.parquet physical schema template; the ts slot depends on the
#: physical type the generator used for this dataset (see _events_ts_type)
EVENTS_SCHEMA_TEMPLATE = (
    "event_id bigint, ts {ts_type}, user_id bigint, event_type string, "
    "value double, props string"
)

#: target input bytes per streaming state partition.  Stateful streaming
#: fixed cost scales with (state stores x micro-batches): every
#: partition pays store open/commit/maintenance per batch whether or not
#: rows arrive (measured here: a ZERO-row finalize batch of a
#: stream-stream join cost ~0.5s PER PARTITION), so partitions must
#: follow the data volume, not the core count — at 100 TB/day this
#: divisor yields thousands of partitions (capped below), while a
#: bounded local replay gets the handful it needs.
_STREAM_PART_BYTES = 8 * 1024 * 1024


#: analyzed-plan node names whose per-GROUP compute runs in the Python
#: worker — these need at least the session parallelism in state
#: partitions or one worker serializes every group (ADVICE r10 item 3:
#: match the known Python-stateful operators, not one literal).
_PY_STATEFUL_NODES = (
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)


def _drain_partitions(
    stream_bytes: int,
    default_parallelism: int,
    *,
    python_stateful: bool = False,
    state_heavy: bool = False,
) -> int:
    """Shuffle-partition (= state-store instance) count for one drain:
    ``ceil(bytes / _STREAM_PART_BYTES)`` capped at 32x the parallelism,
    floored at the parallelism for Python-stateful plans (per-group
    Python compute needs the cores) and for state-heavy sketch
    aggregations (state keys scale with sketch width x open windows,
    not input bytes).  Pure so the derivation is unit-testable."""
    cap = 32 * default_parallelism
    parts = max(1, min(-(-stream_bytes // _STREAM_PART_BYTES), cap))
    if python_stateful or state_heavy:
        parts = max(parts, default_parallelism)
    return parts


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table with a proper microsecond ``ts``.

    File sources need an explicit schema, and the generator has shipped
    ``ts`` as both TIMESTAMP(NANOS) and timestamp[us] (NTZ) across
    dataset versions — so probe the parquet footer (pyarrow, driver-side,
    O(1)) and build the same conversion the batch catalog applies:

    * nanos → read as long under ``nanosAsLong``, exact integer ``div``
      (epoch nanos exceed double's 2^53 mantissa, so float division would
      land ~1.6% of timestamps one microsecond off);
    * timestamp[us] NTZ → declare timestamp_ntz, reinterpret the
      wall-clock in the UTC session tz (epoch values unchanged).

    A caller that drains the stream passes the file's byte size to
    :func:`run_available_now` as ``input_bytes``.
    """
    import os

    import pyarrow.parquet as pa_pq

    ts_type = pa_pq.read_schema(os.path.join(sf_dir, "events.parquet")).field(
        "ts"
    ).type
    is_nanos = str(ts_type) in ("timestamp[ns]", "int64")
    if is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = EVENTS_SCHEMA_TEMPLATE.format(ts_type="bigint")
    elif getattr(ts_type, "tz", None) is None:
        schema = EVENTS_SCHEMA_TEMPLATE.format(ts_type="timestamp_ntz")
    else:
        schema = EVENTS_SCHEMA_TEMPLATE.format(ts_type="timestamp")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if is_nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """count/sum(value) per (tumbling window, keys) with late-data bound.

    The watermark lets Spark evict window state once event time passes
    window_end + watermark — the piece that makes this run forever on an
    unbounded feed.  (No countDistinct here: distinct aggregation is
    unsupported in update-mode streaming; use approx_count_distinct if an
    estimate is acceptable.)
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def streaming_session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-(user, session) rollup via native ``session_window`` — windows
    merge while consecutive events are within ``gap``; a strictly larger
    gap starts a new session (same rule as the batch lag+cumsum plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_counts(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Overlapping-window aggregation on a stream: each event expands
    into window/slide windows (2 here), state per open window, evicted
    by the watermark.  The streaming twin of the batch
    ``events_sliding_windows`` suite query — same window expansion, same
    keyed shuffle, plus bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_moment_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """The reference aggregates on a stream: windowed skewness /
    kurtosis / kurtosis_pop over event values, using the exact same
    Column builders as batch (functions/aggregates.py).

    This works UNCHANGED because the builders decompose into
    count + raw power sums — algebraic, mergeable partial state
    (the reference's own accumulator layout, src/kurtosis.rs:87-101) —
    which is precisely the property streaming windowed aggregation
    requires: per-micro-batch partials merge monoidally into window
    state, the finishing expression runs at emit.  A median or exact
    percentile could not do this; the moment family can.
    """
    from ..functions.aggregates import kurtosis, kurtosis_pop, skewness
    from ..functions.rounding import r6n

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.col("value")).alias("n"),
            r6n(skewness("value")).alias("skew_value"),
            r6n(kurtosis("value")).alias("kurt_value"),
            r6n(kurtosis_pop("value")).alias("kpop_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "skew_value",
            "kurt_value",
            "kpop_value",
        )
    )


def streaming_ohlc(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Hourly OHLC bars maintained on a stream — the reference
    ``min_by``/``max_by`` (composite struct ordering for deterministic
    open/close picks) running as STREAMING window state.

    Works unchanged from the batch form (`suite.events_ohlc_bars`)
    because ``max_by(x, k)`` is an algebraic aggregate with a mergeable
    two-slot state (current best key, value at it): per-micro-batch
    partials merge by keeping the larger key — exactly the monoid
    property streaming windowed aggregation requires, same argument as
    the moment family in :func:`streaming_moment_stats`.
    """
    from ..functions.aggregates import max_by, min_by
    from ..functions.rounding import r6n

    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            min_by(F.col("value"), ordk).alias("open_value"),
            max_by(F.col("value"), ordk).alias("close_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            r6n(F.sum("value")).alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("bar_ts"),
            "event_type",
            "open_value",
            "close_value",
            "high_value",
            "low_value",
            "volume",
            "n_events",
        )
    )


def streaming_gram_ols(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window linear-regression STATE maintained on a stream: the
    five Gram sums (n, Sx, Sy, Sxx, Sxy) of ``value`` cents against
    minutes-since-window-start, per (window, event_type).

    The model itself (slope/intercept) is NOT computed here — only its
    sufficient statistics, which are plain counts and sums of integer
    products: a commutative monoid, so per-micro-batch partials merge
    into window state exactly like the moment family
    (:func:`streaming_moment_stats`).  The closed-form finish runs on
    the drained batch (``suite.events_streaming_gram_ols``), the same
    split as the batch ``lineitem_ols_price_model``: 100 TB of stream
    history costs five longs per open window, and the solve is O(1) per
    emitted row.  All sums stay exact 64-bit integers (x <= 59, y is
    integer cents), so batch replay and any micro-batch partition of the
    input fold to bit-identical state.
    """
    x = F.floor(
        (F.unix_micros(F.col("ts")) % F.lit(3600000000)) / F.lit(60000000)
    ).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", watermark)
        .select("ts", "event_type", x.alias("x"), y.alias("y"))
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sx",
            "sy",
            "sxx",
            "sxy",
        )
    )


#: fixed histogram geometry for streaming percentiles: 256 bins of 256
#: cents each (covers value in [0, 655.36) — the events domain) — the
#: edges must be STATIC literals because a stream cannot run the batch
#: sibling's min/max pre-pass
BINNED_STREAM_BINS = 256
BINNED_STREAM_WIDTH_CENTS = 256


def streaming_binned_histogram(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window fixed-bin value histogram maintained as STREAMING
    state: (window_start, event_type, bin, c).  Bin counts are a SUM
    monoid, so micro-batch partials merge into window state exactly
    like the moment family — this is the streaming sibling of
    ``suite.price_quantiles_binned``, trading its exact min/max edges
    (impossible on a stream) for static literal edges.  The percentile
    finish (first bin whose cumulative count reaches ceil(p*n)) runs on
    the drained batch in ``suite.events_streaming_binned_quantiles``;
    state is O(bins) integers per open (window, type)."""
    y = F.round(F.col("value") * 100).cast("long")
    b = (
        F.least(
            F.lit(BINNED_STREAM_BINS - 1),
            F.greatest(
                F.lit(0), F.floor(y / F.lit(BINNED_STREAM_WIDTH_CENTS))
            ),
        )
        .cast("int")
        .alias("bin")
    )
    return (
        events.withWatermark("ts", watermark)
        .select("ts", "event_type", b)
        .groupBy(F.window("ts", window).alias("w"), "event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "bin", "c"
        )
    )


def streaming_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every (left, right) event pair for
    the same user where the right event lands within ``within_minutes``
    after the left — the attribution join (clicks x purchases) as a
    genuine two-stream join rather than the stream-static shortcut.

    Both sides carry watermarks and the join condition bounds right_ts
    relative to left_ts on both ends, so Spark can compute the state
    retention window per side and evict — the requirement for a
    stream-stream inner join to run unbounded (without the time bound
    the state would grow forever).  Output is append-mode only.
    """
    left = (
        events.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    right = (
        events.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    cond = F.expr(
        "l_user = r_user AND right_ts >= left_ts "
        f"AND right_ts <= left_ts + INTERVAL {int(within_minutes)} MINUTES"
    )
    return left.join(right, cond).select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        F.unix_micros("left_ts").alias("left_ts_us"),
        F.unix_micros("right_ts").alias("right_ts_us"),
    )


def streaming_interval_join_outer(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: like
    :func:`streaming_interval_join`, but every left event is emitted
    even when NO right event lands in its window — the unconverted
    rows, which is what funnel/abandonment analytics actually consumes
    (the inner join only tells you about successes).

    Outer semantics on two streams require the engine to PROVE a left
    row can no longer match before emitting its null row: the watermark
    plus the two-sided time bound define that horizon, so null rows
    appear only once the right-side watermark passes
    ``left_ts + within``.  Same state-retention contract as the inner
    join; a drained availableNow replay therefore matches the batch
    left join exactly (pinned in tests/test_r6c_outer_join.py)."""
    left = (
        events.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    right = (
        events.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    cond = F.expr(
        "l_user = r_user AND right_ts >= left_ts "
        f"AND right_ts <= left_ts + INTERVAL {int(within_minutes)} MINUTES"
    )
    return left.join(right, cond, "leftOuter").select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        F.unix_micros("left_ts").alias("left_ts_us"),
        F.unix_micros("right_ts").alias("right_ts_us"),
    )


def streaming_enrich(
    events: DataFrame, dim: DataFrame, on: str = "event_type"
) -> DataFrame:
    """Stream-static enrichment join: the static side is re-read per
    micro-batch and broadcast (explicitly hinted — at any scale the dim
    is the small side by construction), so the stream is never shuffled
    for the join.  The standard pattern for attaching reference data
    (rates, geo, type weights) to a live feed."""
    return events.join(F.broadcast(dim), on, "left")


def streaming_scd2_enrich(
    events: DataFrame, scd2: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static TEMPORAL enrichment: attach the dimension attribute
    that was valid AT each event's EVENT time, against an SCD2 interval
    table (key, attr, valid_from_us, valid_to_us NULL = current) — the
    streaming consumer of the ``events_scd2_intervals`` historization
    output, and the pattern behind "join the live feed to the customer
    tier they HAD when the event happened" (a plain latest-snapshot
    join silently rewrites history).

    The join keeps the KEY equality as the hash-join key with the
    interval bounds as a residual filter, so the static side broadcasts
    and the stream is never shuffled; SCD2 intervals are disjoint per
    key by construction, so each event matches at most one version
    (left join: events before the first version pass through with NULL
    attrs).  Stateless per micro-batch — no watermark or state store
    involved; re-reading the static side each batch is what picks up
    dimension updates between batches."""
    ev = events.withColumn("_ts_us", F.unix_micros(F.col("ts")))
    cond = (
        (F.col(key) == F.col("_scd_key"))
        & (F.col("_ts_us") >= F.col("valid_from_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("_ts_us") < F.col("valid_to_us"))
        )
    )
    dim = F.broadcast(
        scd2.withColumnRenamed(key, "_scd_key")
    )
    return ev.join(dim, cond, "left").drop("_ts_us", "_scd_key")


def streaming_dedup(
    docs: DataFrame,
    key_col: str,
    id_col: str,
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Stateful streaming exact-dedup: emit only the FIRST row seen per
    key, across micro-batches, via ``applyInPandasWithState``.

    State is the set of seen keys *within each hash group* — Spark
    partitions the stream by ``key_col``, so each grouped-state task holds
    only its shard of the key space; the state store scales horizontally
    like any keyed aggregation.  An optional processing-time timeout evicts
    idle keys for unbounded streams (accepting re-admission of very old
    duplicates, the standard streaming-dedup trade).

    This is the streaming analog of ``operators.dedup.exact_dedup`` —
    batch replays (availableNow) produce the same kept-set when ids arrive
    in order; a live stream keeps whichever row arrived first.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = docs.schema
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )

    def dedup_fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            (seen,) = state.get
        else:
            seen = False
        # Concatenate ALL Arrow chunks before choosing the winner: a
        # key's micro-batch rows can span record batches arriving in
        # shuffle order, and "min id of the first chunk" would be
        # nondeterministic — same fix class as streaming_cusum.  The
        # kept row is the min-id row of the key's FIRST micro-batch,
        # which makes a single-batch availableNow replay exactly
        # min-per-key (the oracle-able contract).
        if not seen:
            chunks = [pdf for pdf in pdf_iter if not pdf.empty]
            if chunks:
                seen = True
                yield pd.concat(chunks, ignore_index=True).sort_values(
                    id_col
                ).head(1)
        state.update((seen,))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)

    return docs.groupBy(key_col).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=timeout,
    )


def latest_wins(
    df: DataFrame, keys: tuple[str, ...], ts_col: str, tiebreak_col: str
) -> DataFrame:
    """One row per key: all non-key columns taken from the most recent
    row by (ts, tiebreak) — the CDC compaction aggregate (no window
    sort; one hash aggregate via max_by on an ordering struct)."""
    from ..functions.aggregates import max_by

    ordk = F.struct(F.col(ts_col).alias("o"), F.col(tiebreak_col).alias("t"))
    others = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(
        *[max_by(F.col(c), ordk).alias(c) for c in others]
    )


def foreach_batch_upsert(
    sdf: DataFrame,
    base_path: str,
    keys: tuple[str, ...],
    ts_col: str,
    tiebreak_col: str,
    retain: int = 2,
):
    """Streaming CDC upsert sink via ``foreachBatch``: each micro-batch is
    merged (latest-wins) into a parquet *snapshot*, and a ``_LATEST``
    pointer file flips atomically to the new snapshot directory — the
    poor-man's table format (versioned snapshots + pointer) that gives
    readers snapshot isolation without Delta/Iceberg.  Readers follow the
    pointer; snapshots older than the previous one are pruned inline
    after each pointer flip (current + previous are kept, so a reader
    mid-scan on the just-replaced snapshot never loses its files).

    Returns the started streaming query (caller awaits termination).
    State per batch is the compacted key space, not the stream history.

    Crash-safety: each snapshot path carries a per-attempt uuid suffix, so
    a retried/restarted batch can never write into the directory the
    lazily-read previous snapshot is being scanned from (overwriting the
    read path mid-merge would corrupt the snapshot); the checkpoint lives
    under ``base_path`` so a restart resumes batch ids instead of
    replaying from 0 against an already-advanced pointer.  Pointer I/O
    uses driver-local file ops — for a real multi-node cluster, swap the
    pointer read/flip for the same protocol over the object store /
    DFS client (single-writer rename, which S3/HDFS/ABFS all provide).
    """
    import os

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ptr = os.path.join(base_path, "_LATEST")
        prev = None
        if os.path.exists(ptr):
            with open(ptr) as f:
                prev = f.read().strip()
        current = spark.read.parquet(prev) if prev else None
        merged = (
            current.unionByName(batch_df) if current is not None else batch_df
        )
        snap = os.path.join(
            base_path, f"snap_{batch_id}_{uuid.uuid4().hex[:8]}"
        )
        if prev == snap:  # defense-in-depth: never overwrite the read path
            raise RuntimeError(f"snapshot collision on {snap}")
        latest_wins(merged, keys, ts_col, tiebreak_col).write.mode(
            "overwrite"
        ).parquet(snap)
        with open(ptr + ".tmp", "w") as f:
            f.write(snap)
        os.replace(ptr + ".tmp", ptr)
        # prune: keep the newest ``retain`` snapshots by batch id (always
        # including the new current and the previous — crash-safety for a
        # reader that resolved the pointer just before the flip).  The
        # default retain=2 bounds disk to two compacted copies; a larger
        # retain buys TIME TRAVEL via read_snapshot_as_of at the cost of
        # one table copy per retained version.
        import shutil

        def _bid(name: str) -> int:
            try:
                return int(name.split("_")[1])
            except (IndexError, ValueError):
                return -1

        snaps = sorted(
            (e for e in os.listdir(base_path) if e.startswith("snap_")),
            key=_bid,
            reverse=True,
        )
        keep = {os.path.basename(p) for p in (snap, prev) if p}
        keep.update(snaps[: max(retain, 2)])
        for entry in snaps:
            if entry not in keep:
                shutil.rmtree(
                    os.path.join(base_path, entry), ignore_errors=True
                )

    return (
        sdf.writeStream.foreachBatch(apply)
        .option(
            "checkpointLocation", os.path.join(base_path, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )


def read_snapshot_as_of(
    spark, base_path: str, version: int | None = None
) -> DataFrame:
    """Time-travel reader for the snapshot+pointer CDC table written by
    :func:`foreach_batch_upsert`: ``version=None`` follows the
    ``_LATEST`` pointer (snapshot isolation at now); an integer reads
    the newest RETAINED snapshot whose batch id is <= version — Delta's
    ``versionAsOf`` re-expressed over plain parquet.  History depth is
    whatever the sink's ``retain`` kept; asking for an older version
    raises (the honest failure, matching table formats after VACUUM)."""
    import os

    if version is None:
        ptr = os.path.join(base_path, "_LATEST")
        with open(ptr) as f:
            return spark.read.parquet(f.read().strip())
    best = None
    best_bid = -1
    for entry in os.listdir(base_path):
        if not entry.startswith("snap_"):
            continue
        try:
            bid = int(entry.split("_")[1])
        except (IndexError, ValueError):
            continue
        if best_bid < bid <= version:
            best, best_bid = entry, bid
    if best is None:
        raise FileNotFoundError(
            f"no retained snapshot with batch id <= {version} under "
            f"{base_path} (increase the sink's retain= to keep history)"
        )
    return spark.read.parquet(os.path.join(base_path, best))


def run_available_now(
    sdf: DataFrame,
    table_name: str | None = None,
    output_mode: str = "complete",
    *,
    input_bytes: int | None = None,
    state_heavy: bool = False,
) -> DataFrame:
    """Drain all currently-available input through the streaming plan into
    an in-memory sink and return the result as a batch DataFrame.

    This is the local-test/driver bridge: ``availableNow`` processes every
    existing file then stops, so the call is deterministic and bounded.
    Stateful flatMap operators (``streaming_dedup``) require
    ``output_mode='append'``.

    Sizing comes from the caller, which knows its source.
    ``input_bytes`` (the streamed file's size) sets the shuffle-partition
    (= state store) count by :func:`_drain_partitions`: stateful
    streaming pays a fixed open/commit cost per store per micro-batch, so
    the count follows the volume, floored at the parallelism for
    per-group Python state.  ``state_heavy`` floors it at the parallelism
    too, for sketch aggregations (``streaming_hll_users``,
    ``streaming_cms_values``) whose state keys scale with sketch width,
    not bytes (r11: ~300k keys in one store took 7.4s vs 1.4s across 32).
    With neither, the session's partition count stands.  The conf is
    restored and the checkpoint dir deleted when the drain ends; the
    memory sink keeps its rows in the driver, so the returned table still
    reads them.  Results are partitioning-invariant.
    """
    name = table_name or f"stream_out_{uuid.uuid4().hex[:8]}"
    spark = sdf.sparkSession
    prev_parts = None
    if input_bytes is not None or state_heavy:
        # Python-stateful operators do real per-GROUP compute in the
        # Python worker — for those the state partition count must also
        # cover the cores, or one worker serializes every group
        # (measured 4x slower on the dedup op); pure JVM state (joins,
        # windowed aggs) is fixed-cost-dominated and wants the
        # bytes-derived count alone.
        analyzed = sdf._jdf.queryExecution().analyzed().toString()
        py_stateful = any(n in analyzed for n in _PY_STATEFUL_NODES)
        parts = _drain_partitions(
            input_bytes or 0,
            spark.sparkContext.defaultParallelism,
            python_stateful=py_stateful,
            state_heavy=state_heavy,
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    ckpt = tempfile.mkdtemp(prefix="dfx-stream-ckpt-")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# r11 note: a round-robin repartition of the stream before the sketch
# builders' per-event md5 ("widen the map side") was tried and REVERTED:
# measured on the HLL drain, widen+1 state partition was CATASTROPHIC
# (7.5s vs 2.0s without — random partial-agg states stop collapsing and
# one reducer merges 32 partials per key) and neutral at 32 partitions
# (1.84 vs 1.78s).  The state-heavy partition floor
# (``run_available_now(..., state_heavy=True)``) is the whole win; the
# hash parallelizes with the state partitions themselves.


def streaming_hll_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed HLL register maintenance on a stream: per (window,
    event_type, bucket), the max rank — the identical relation
    ``operators/sketches.hll_registers`` builds in batch, because HLL
    registers are an algebraic MAX monoid, exactly the property
    streaming windowed aggregation requires (same argument as
    ``streaming_moment_stats`` for the moment family).  The estimate is
    finished downstream (``hll_estimate``) once windows close; state per
    open window is <= 256 small ints per group — the sketch's whole
    point, on or off a stream.

    Register state scales with sketch width, not input bytes, so drain
    it with ``run_available_now(..., input_bytes=..., state_heavy=True)``.
    """
    from ..functions.text import bind_once
    from ..operators.sketches import HLL_M, HLL_P, _hll_rho
    from ..operators.similarity import hash60

    h = hash60(F.col("user_id").cast("string"))
    keyed = (
        events.withWatermark("ts", watermark)
        .select(
            "ts",
            "event_type",
            bind_once(
                h,
                lambda hb: F.struct(
                    (hb % F.lit(HLL_M)).alias("bucket"),
                    _hll_rho(F.shiftright(hb, HLL_P)).alias("rho"),
                ),
            ).alias("s"),
        )
        .select("ts", "event_type", "s.bucket", "s.rho")
    )
    return (
        keyed.groupBy(F.window("ts", window), "event_type", "bucket")
        .agg(F.max("rho").alias("r"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "bucket",
            "r",
        )
    )


def streaming_cms_values(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Windowed count-min sketch maintenance on a stream: per (window,
    r, c), the summed counter — CMS counters are a SUM monoid, the
    second sketch family (after the HLL MAX monoid of
    ``streaming_hll_users``) that streaming windowed aggregation
    carries natively.  Counters sketch the event value frequency
    distribution (``value_col`` cast to string, same keying as the batch
    ``cms_build``); state per open window is depth x width counters.

    Counter state scales with sketch width, not input bytes, so drain
    it with ``run_available_now(..., input_bytes=..., state_heavy=True)``.
    """
    from ..operators.similarity import MERSENNE_P, hash60
    from ..operators.sketches import CMS_DEPTH, _cms_col

    h = (hash60(F.col(value_col).cast("string")) % F.lit(MERSENNE_P)).alias("h")
    rows = F.array(
        *[
            F.struct(F.lit(r).alias("r"), _cms_col(F.col("h"), r).alias("c"))
            for r in range(CMS_DEPTH)
        ]
    )
    return (
        events.withWatermark("ts", watermark)
        .select("ts", h)
        .select("ts", F.explode(rows).alias("rc"))
        .groupBy(F.window("ts", window), F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "r", "c", "cnt")
    )


def streaming_value_histogram(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = "value",
    key_col: str = "event_type",
    width_cents: int = 2000,
    n_bins: int = 256,
) -> DataFrame:
    """Windowed fixed-bin value histogram maintenance on a stream: per
    (window, key, bin) the row count — bin counts are a SUM monoid, the
    THIRD sketch family streaming windowed aggregation carries natively
    (after the HLL register MAX of ``streaming_hll_users`` and the CMS
    counter SUM of ``streaming_cms_values``).  Fixed integer-cent bin
    edges (``least(cents // width, n_bins - 1)``, negatives clamped to
    bin 0) make the histogram mergeable across windows, batches, and
    engines with no data-dependent state — the streamable form of the
    binned-percentile device (``price_quantiles_binned``): any quantile
    is a post-hoc crossing-rule read over at most ``n_bins`` counters
    per open group."""
    b = F.least(
        F.expr(
            f"CAST(greatest(CAST(round({value_col} * 100) AS BIGINT), 0)"
            f" DIV {width_cents} AS BIGINT)"
        ),
        F.lit(n_bins - 1).cast("long"),
    ).alias("bin")
    return (
        events.withWatermark("ts", watermark)
        .select("ts", key_col, b)
        .groupBy(F.window("ts", window), F.col(key_col), F.col("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "bin",
            "cnt",
        )
    )


def streaming_cusum(
    events: DataFrame,
    mu0: float,
    k: float = 10.0,
    h: float = 120.0,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key CUSUM change-point detection on the event stream via
    ``applyInPandasWithState`` — the second custom stateful operator
    (after ``streaming_dedup``), for semantics windowed aggregation
    cannot express: the statistic is a SEQUENTIAL fold over each key's
    value history (Page 1954),

        s+ := max(0, s+ + (x - mu0 - k));  s- := max(0, s- + (mu0 - x - k))

    with an alarm row emitted (and both sides reset) whenever a side
    exceeds ``h`` — the drift monitor that catches slow shifts a
    per-window mean race misses.

    State per key is two doubles; the stream partitions by key, so the
    state store scales like any keyed aggregation.  Rows are folded in
    (ts, event_id) order within each micro-batch, so a time-ordered
    replay (availableNow over time-split files) reproduces the batch
    fold exactly — pinned against a pandas replica in
    tests/test_streaming.py.  The per-row Python loop is the declared
    Arrow-batched boundary that stateful custom operators are allowed
    (SURVEY §2.2b multimodal/dedup precedent): the fold is inherently
    sequential per key, there is nothing for codegen to vectorize.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = [key_col, "event_id", "direction", "stat"]

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            sp, sn = state.get
        else:
            sp, sn = 0.0, 0.0
        # A key's micro-batch rows can span multiple Arrow record batches
        # (spark.sql.execution.arrow.maxRecordsPerBatch), and the chunks
        # arrive in shuffle order — concatenate ALL chunks first and sort
        # ONCE so the fold sees the key's full micro-batch in global
        # (ts, event_id) order; per-chunk sorting would fold chunks in
        # arrival order and corrupt the trajectory at scale.
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            alarms = []
            for row in pdf.itertuples():
                x = float(getattr(row, value_col))
                sp = max(0.0, sp + (x - mu0 - k))
                sn = max(0.0, sn + (mu0 - x - k))
                if sp > h:
                    alarms.append((key[0], row.event_id, "up", round(sp, 6)))
                    sp, sn = 0.0, 0.0
                elif sn > h:
                    alarms.append((key[0], row.event_id, "down", round(sn, 6)))
                    sp, sn = 0.0, 0.0
            if alarms:
                yield pd.DataFrame(alarms, columns=out_cols)
        state.update((sp, sn))

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} bigint, event_id bigint, direction string, stat double",
        stateStructType="s_pos double, s_neg double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_spacesaving_topk(
    events: DataFrame,
    m: int = 8,
    key_col: str = "event_type",
    item_col: str = "user_id",
) -> DataFrame:
    """Per-key SpaceSaving heavy hitters (Metwally, Agrawal & El Abbadi
    2005) maintained as STREAMING state via ``applyInPandasWithState``
    — the third custom stateful operator (after ``streaming_dedup``
    and ``streaming_cusum``): the counter table is a SEQUENTIAL fold
    (each arrival either increments its counter or evicts the current
    minimum, inheriting its count as the error bound), which windowed
    aggregation cannot express and whose state is O(m) per key — the
    bounded-memory answer to "top users per event type" on an
    unbounded stream.

    Guarantees (checked in tests/test_streaming.py against exact batch
    counts): est >= exact >= est - err for every emitted item, and any
    item with true count > N/m is guaranteed present.  Each micro-batch
    emits the key's CURRENT top table (update semantics downstream —
    latest batch wins); rows fold in (ts, event_id) order after a
    full-chunk concat (the ``streaming_cusum`` ordering discipline).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            items, counts, errs = state.get
            table = {
                i: [c, e] for i, c, e in zip(items, counts, errs)
            }
        else:
            table = {}
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for row in pdf.itertuples():
                it = int(getattr(row, item_col))
                if it in table:
                    table[it][0] += 1
                elif len(table) < m:
                    table[it] = [1, 0]
                else:
                    # evict the minimum-count item (ties: smallest item
                    # id, so the fold is deterministic), inherit count
                    ev = min(table, key=lambda i: (table[i][0], i))
                    cmin = table[ev][0]
                    del table[ev]
                    table[it] = [cmin + 1, cmin]
            rows = [
                (key[0], it, c, e, c - e)
                for it, (c, e) in sorted(
                    table.items(), key=lambda kv: (-kv[1][0], kv[0])
                )
            ]
            yield pd.DataFrame(
                rows,
                columns=[key_col, "item", "est", "err", "guaranteed"],
            )
        state.update(
            (
                list(table.keys()),
                [c for c, _ in table.values()],
                [e for _, e in table.values()],
            )
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{key_col} string, item bigint, est bigint, err bigint,"
            " guaranteed bigint"
        ),
        stateStructType=(
            "items array<bigint>, counts array<bigint>, errs array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_window_funnel(
    events: DataFrame,
    window_us: int = 7 * 86_400_000_000,
) -> DataFrame:
    """Per-user windowed strict-order funnel (view -> click -> purchase
    within ``window_us`` of the chain's opening view) maintained as
    STREAMING state via ``applyInPandasWithState`` — the fourth custom
    stateful operator, and the streaming twin of the batch
    ``events_window_funnel`` query (same pinned semantics: strict
    (ts, event_id) precedence, anchor = latest view before the click,
    purchase probes the max anchor over qualifying clicks).

    The fold is prefix-decomposable, so per-user state is THREE longs
    (latest view anchor, best qualifying-click anchor, level reached)
    no matter how long the stream runs; each micro-batch emits the
    user's current level (update semantics — latest wins, levels are
    monotone).  Parity with the batch query is pinned in pytest by
    draining the same events through an availableNow file stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            anchor, best, level = state.get
        else:
            anchor, best, level = -1, -1, 0
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            us_col = pdf["ts"].astype("datetime64[us]").astype("int64")
            for t, us in zip(pdf["event_type"], us_col):
                us = int(us)
                if (
                    t == "click"
                    and anchor >= 0
                    and us - anchor <= window_us
                ):
                    level = max(level, 2)
                    best = max(best, anchor)
                if (
                    t == "purchase"
                    and best >= 0
                    and us - best <= window_us
                ):
                    level = max(level, 3)
                if t == "view":
                    level = max(level, 1)
                    anchor = max(anchor, us)
            yield pd.DataFrame(
                [(int(key[0]), int(level))],
                columns=["user_id", "level"],
            )
        state.update((int(anchor), int(best), int(level)))

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, level int",
        stateStructType="anchor bigint, best bigint, level int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
