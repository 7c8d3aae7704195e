"""Structured Streaming tests: the streaming plans must reproduce their
batch counterparts when drained over the same files (availableNow)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datafusion_functions_extra_spark.operators import sessions as SS
from datafusion_functions_extra_spark.sources.catalog import load_table
from datafusion_functions_extra_spark.streaming import (
    read_events_stream,
    run_available_now,
    streaming_dedup,
    streaming_session_stats,
    streaming_tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_dedup_matches_batch(spark):
    from datafusion_functions_extra_spark.operators.dedup import content_key, exact_dedup

    docs_schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_DIR)
    )
    keyed = stream.withColumn("__key", content_key(F.col("text")))
    deduped = streaming_dedup(keyed, "__key", "doc_id")
    got = {r.doc_id for r in run_available_now(deduped, output_mode="append").collect()}

    batch = load_table(spark, SF_DIR, "documents")
    want = {r.doc_id for r in exact_dedup(batch, "text", "doc_id").collect()}
    assert got == want


def test_streaming_is_streaming(spark):
    s = read_events_stream(spark, SF_DIR)
    assert s.isStreaming
    assert dict(s.dtypes)["ts"] == "timestamp"


def test_streaming_tumbling_matches_batch(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stream = streaming_tumbling_counts(read_events_stream(spark, SF_DIR))
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in run_available_now(stream).collect()
    }
    # the drain deleted its checkpoint dir; the memory sink still reads
    assert got and not list(tmp_path.iterdir())
    e = load_table(spark, SF_DIR, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("s"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
    )
    want = {(r.ws, r.event_type): (r.n, r.s) for r in batch.collect()}
    assert got == want


def test_streaming_sessions_match_batch(spark):
    stream = streaming_session_stats(read_events_stream(spark, SF_DIR))
    got = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value)
        for r in run_available_now(stream).collect()
    }
    e = load_table(spark, SF_DIR, "events")
    batch = SS.session_window_stats(e)
    want = {
        (r.user_id, r.session_start_us): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    got_us = {(u, int(ts.timestamp() * 1_000_000)): v for (u, ts), v in got.items()}
    assert got_us == want


def test_batch_session_window_equals_lag_cumsum(spark):
    e = load_table(spark, SF_DIR, "events")
    native = SS.session_window_stats(e)
    lag = SS.session_stats(e).select(
        "user_id",
        F.unix_micros("t_start").alias("session_start_us"),
        "n_events",
        "sum_value",
    )
    n = {tuple(r) for r in native.collect()}
    l = {tuple(r) for r in lag.collect()}
    assert n == l


def test_streaming_sliding_matches_batch(spark):
    from datafusion_functions_extra_spark.streaming import streaming_sliding_counts

    stream = read_events_stream(spark, SF_DIR)
    got = {
        (str(r.window_start), r.n_events, r.sum_value)
        for r in run_available_now(streaming_sliding_counts(stream)).collect()
    }

    e = load_table(spark, SF_DIR, "events")
    batch = (
        e.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    want = {
        (str(r.window_start), r.n_events, r.sum_value) for r in batch.collect()
    }
    assert got == want
    # 30-min windows sliding 15 min: every event lands in exactly 2 windows
    assert sum(n for _, n, _ in got) == 2 * e.count()


def test_streaming_enrich_broadcasts_static_dim(spark):
    from datafusion_functions_extra_spark.streaming import streaming_enrich

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = read_events_stream(spark, SF_DIR)
    enriched = streaming_enrich(stream, dim).withColumn(
        "weighted", F.col("value") * F.coalesce(F.col("weight"), F.lit(0.0))
    )
    out = run_available_now(
        enriched.select("event_id", "event_type", "weighted"),
        output_mode="append",
    )

    e = load_table(spark, SF_DIR, "events")
    want = (
        e.join(dim, "event_type", "left")
        .select(
            "event_id",
            (F.col("value") * F.coalesce(F.col("weight"), F.lit(0.0))).alias("w"),
        )
    )
    got_rows = {(r.event_id, r.weighted) for r in out.collect()}
    want_rows = {(r.event_id, r.w) for r in want.collect()}
    assert got_rows == want_rows


def test_foreach_batch_upsert_matches_batch_cdc(spark, tmp_path):
    """Three micro-batches of the events changelog upserted through the
    snapshot+pointer sink must equal one-shot batch compaction."""
    import os

    from datafusion_functions_extra_spark.streaming import (
        foreach_batch_upsert,
        latest_wins,
    )

    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    # split the changelog into 3 files so maxFilesPerTrigger=1 gives 3 batches
    src = str(tmp_path / "src")
    e.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    q = foreach_batch_upsert(
        stream, sink, keys=("user_id", "event_type"), ts_col="ts",
        tiebreak_col="event_id",
    )
    q.awaitTermination()

    with open(os.path.join(sink, "_LATEST")) as f:
        latest_path = f.read().strip()
    got = {
        (r.user_id, r.event_type, r.event_id, r.value)
        for r in spark.read.parquet(latest_path).collect()
    }
    want = {
        (r.user_id, r.event_type, r.event_id, r.value)
        for r in latest_wins(
            e, ("user_id", "event_type"), "ts", "event_id"
        ).collect()
    }
    assert got == want and len(got) > 0
    # pruning: only current + previous snapshots may remain on disk —
    # without it the sink accumulates a full table copy per micro-batch
    snaps = [d for d in os.listdir(sink) if d.startswith("snap_")]
    assert len(snaps) == 2
    assert os.path.basename(latest_path) in snaps


def test_streaming_interval_join_matches_batch(spark):
    from datafusion_functions_extra_spark.streaming import (
        read_events_stream,
        run_available_now,
        streaming_interval_join,
    )

    stream = streaming_interval_join(read_events_stream(spark, SF_DIR))
    got = {
        (r.user_id, r.left_id, r.right_id, r.left_ts_us, r.right_ts_us)
        for r in run_available_now(stream, output_mode="append").collect()
    }

    e = load_table(spark, SF_DIR, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    cond = F.expr(
        "l_user = r_user AND right_ts >= left_ts "
        "AND right_ts <= left_ts + INTERVAL 30 MINUTES"
    )
    want = {
        (r.l_user, r.left_id, r.right_id, r.lus, r.rus)
        for r in clicks.join(purchases, cond)
        .select(
            "l_user",
            "left_id",
            "right_id",
            F.unix_micros("left_ts").alias("lus"),
            F.unix_micros("right_ts").alias("rus"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_moment_stats_match_batch(spark):
    """The six reference aggregates' power-sum decomposition is mergeable
    state, so the SAME Column builders must produce identical windowed
    results whether partials arrive via micro-batches or one batch scan."""
    from datafusion_functions_extra_spark.functions.aggregates import (
        kurtosis,
        kurtosis_pop,
        skewness,
    )
    from datafusion_functions_extra_spark.functions.rounding import r6n
    from datafusion_functions_extra_spark.streaming import (
        read_events_stream,
        run_available_now,
        streaming_moment_stats,
    )

    stream = streaming_moment_stats(read_events_stream(spark, SF_DIR))
    got = {
        (r.window_start, r.event_type): (r.n, r.skew_value, r.kurt_value, r.kpop_value)
        for r in run_available_now(stream).collect()
    }

    e = load_table(spark, SF_DIR, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.col("value")).alias("n"),
            r6n(skewness("value")).alias("s"),
            r6n(kurtosis("value")).alias("k"),
            r6n(kurtosis_pop("value")).alias("kp"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s", "k", "kp")
    )
    want = {(r.ws, r.event_type): (r.n, r.s, r.k, r.kp) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_hll_registers_match_batch(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_extra_spark.operators import sketches as SKCH
    from datafusion_functions_extra_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        streaming_hll_users,
    )

    stream_regs = run_available_now(
        streaming_hll_users(read_events_stream(spark, SF_DIR))
    )
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch_regs = (
        SKCH.hll_registers(
            e.withColumn("w", F.window("ts", "1 hour")),
            "user_id",
            ["w", "event_type"],
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "bucket", "r"
        )
    )
    s = {(r.window_start, r.event_type, r.bucket): r.r for r in stream_regs.collect()}
    b = {(r.window_start, r.event_type, r.bucket): r.r for r in batch_regs.collect()}
    assert s == b  # identical register relation on and off the stream
    # finishing the stream's registers yields the batch estimate
    est_s = SKCH.hll_estimate(
        stream_regs.groupBy("window_start", "event_type", "bucket").agg(
            F.max("r").alias("r")
        ),
        ["window_start", "event_type"],
    )
    est_b = SKCH.hll_estimate(batch_regs, ["window_start", "event_type"])
    vs = {(r.window_start, r.event_type): r.hll_est for r in est_s.collect()}
    vb = {(r.window_start, r.event_type): r.hll_est for r in est_b.collect()}
    assert vs == vb


def test_streaming_cms_counters_match_batch(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_extra_spark.operators.similarity import (
        MERSENNE_P,
        hash60,
    )
    from datafusion_functions_extra_spark.operators.sketches import (
        CMS_DEPTH,
        _cms_col,
    )
    from datafusion_functions_extra_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        streaming_cms_values,
    )

    stream_cms = run_available_now(
        streaming_cms_values(read_events_stream(spark, SF_DIR))
    )
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    h = (hash60(F.col("value").cast("string")) % F.lit(MERSENNE_P)).alias("h")
    rows = F.array(
        *[
            F.struct(F.lit(r).alias("r"), _cms_col(F.col("h"), r).alias("c"))
            for r in range(CMS_DEPTH)
        ]
    )
    batch_cms = (
        e.select(F.window("ts", "1 hour").alias("w"), h)
        .select("w", F.explode(rows).alias("rc"))
        .groupBy(
            F.col("w.start").alias("window_start"),
            F.col("rc.r").alias("r"),
            F.col("rc.c").alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = {(r.window_start, r.r, r.c): r.cnt for r in stream_cms.collect()}
    b = {(r.window_start, r.r, r.c): r.cnt for r in batch_cms.collect()}
    assert s == b  # identical counters on and off the stream


def test_streaming_cusum_matches_sequential_replica(spark, tmp_path):
    """CUSUM alarms from a 3-batch time-ordered replay must equal the pure
    sequential fold over each user's full history — state carries the
    running statistics across micro-batch boundaries."""
    import os

    import pandas as pd

    from datafusion_functions_extra_spark.streaming.events import (
        run_available_now,
        streaming_cusum,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values("ts")
    MU0, K, H = 50.0, 10.0, 120.0

    # 3 time-split file batches, oldest file first (mtime-ordered source)
    src = str(tmp_path / "src")
    os.makedirs(src)
    cuts = [len(ev) // 3, 2 * len(ev) // 3, len(ev)]
    lo = 0
    t0 = 1_000_000.0
    for i, hi in enumerate(cuts):
        p = os.path.join(src, f"b{i}.parquet")
        ev.iloc[lo:hi].to_parquet(p, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(p, (t0 + i, t0 + i))
        lo = hi

    sdf = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = {
        (r.user_id, r.event_id, r.direction, r.stat)
        for r in run_available_now(
            streaming_cusum(sdf, MU0, K, H), output_mode="append"
        ).collect()
    }

    expected = set()
    for uid, grp in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        sp = sn = 0.0
        for row in grp.itertuples():
            x = float(row.value)
            sp = max(0.0, sp + (x - MU0 - K))
            sn = max(0.0, sn + (MU0 - x - K))
            if sp > H:
                expected.add((uid, row.event_id, "up", round(sp, 6)))
                sp = sn = 0.0
            elif sn > H:
                expected.add((uid, row.event_id, "down", round(sn, 6)))
                sp = sn = 0.0
    assert len(expected) > 0  # the fixture must actually trip alarms
    assert got == expected


def test_snapshot_time_travel(spark, tmp_path):
    """retain>2 keeps snapshot history; read_snapshot_as_of(version) must
    reproduce the table state as of that micro-batch, and the latest
    read must follow the pointer."""
    import os

    from datafusion_functions_extra_spark.streaming import (
        foreach_batch_upsert,
        latest_wins,
        read_snapshot_as_of,
    )

    e = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    src = str(tmp_path / "src")
    e.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    q = foreach_batch_upsert(
        stream, sink, keys=("user_id", "event_type"), ts_col="ts",
        tiebreak_col="event_id", retain=10,
    )
    q.awaitTermination()
    snaps = sorted(d for d in os.listdir(sink) if d.startswith("snap_"))
    assert len(snaps) == 3  # all three batches retained

    # as-of the FIRST batch: its snapshot is exactly the compaction of
    # whatever single source file batch 0 read
    v0 = read_snapshot_as_of(spark, sink, version=0)
    first_snap = [s for s in snaps if s.startswith("snap_0_")]
    assert len(first_snap) == 1
    direct = spark.read.parquet(os.path.join(sink, first_snap[0]))
    assert v0.count() == direct.count() > 0

    # latest == full batch compaction, and version=big resolves to last
    want = {
        (r.user_id, r.event_type, r.event_id)
        for r in latest_wins(
            e, ("user_id", "event_type"), "ts", "event_id"
        ).collect()
    }
    got_latest = {
        (r.user_id, r.event_type, r.event_id)
        for r in read_snapshot_as_of(spark, sink).collect()
    }
    got_v99 = {
        (r.user_id, r.event_type, r.event_id)
        for r in read_snapshot_as_of(spark, sink, version=99).collect()
    }
    assert got_latest == want == got_v99
    # version older than retention raises
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot_as_of(spark, sink, version=-1)


def test_metrics_recorder_captures_progress(spark):
    """The StreamingQueryListener metrics recorder must capture one row
    per micro-batch with plausible input-row counts and expose them as
    a DataFrame."""
    import time

    from datafusion_functions_extra_spark.streaming import (
        read_events_stream,
        record_metrics,
        run_available_now,
        streaming_tumbling_counts,
    )

    rec = record_metrics(spark)
    try:
        sdf = streaming_tumbling_counts(read_events_stream(spark, SF_DIR))
        out = run_available_now(sdf)
        n_out = out.count()
        # listener events are delivered asynchronously on the driver
        deadline = time.time() + 30
        while not rec.rows and time.time() < deadline:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)
    assert n_out > 0
    assert rec.rows, "no progress events captured"
    df = rec.progress_df(spark)
    got = df.collect()
    assert sum(r.num_input_rows for r in got) > 0
    assert all(r.batch_id >= 0 for r in got)
