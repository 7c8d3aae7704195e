"""Round-8 advisory/verdict fixes pinned as tests:

- CDC chunking on payloads SHORTER than ``CDC_WINDOW`` (the r7 advisor
  boundary bug: a boundary scan from byte 8 to L descends for L<8 and
  taps index 0 / negative indices — crash or silent mis-chunking;
  DuckDB's ``generate_series(8, L)`` is empty).  Short payloads must
  yield exactly one whole-payload chunk, as the DuckDB oracle does.
- float ``mode`` edge semantics vs the reference's bit-pattern
  accumulator (``/root/reference/src/common/mode/native.rs:142-261``):
  Spark's NormalizeFloatingNumbers treats ``-0.0 == 0.0`` as one groupBy
  key (the reference keeps two f64 bit patterns) while NaN groups with
  NaN on BOTH engines.  DuckDB normalizes zeros the same way Spark does,
  so the repo pins the normalized semantics; this test documents the one
  deliberate micro-deviation.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from datafusion_functions_extra_spark.functions import multimodal as MM
from datafusion_functions_extra_spark.operators.mode import mode_agg


def test_cdc_chunks_short_payload_single_whole_chunk(spark, cdc_oracle):
    # payloads of 1..7 bytes (below CDC_WINDOW=8) plus boundary cases 8, 9
    rows = [(n, bytes(range(n))) for n in (1, 2, 7, 8, 9)]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = MM.cdc_chunks_np(df, "payload", "doc_id").collect()
    assert sorted(tuple(r) for r in out) == cdc_oracle(rows)
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    # short payloads: exactly one chunk covering the whole payload
    for n in (1, 2, 7):
        chunks = by_id[n]
        assert len(chunks) == 1, f"p{n}: expected whole-payload chunk"
        assert chunks[0]["chunk_bytes"] == n
    # >= window payloads still tile exactly
    for n in (8, 9):
        assert sum(c["chunk_bytes"] for c in by_id[n]) == n


def test_cdc_chunks_empty_payload_no_rows(spark, cdc_oracle):
    rows = [(0, b"")]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    # L=0: boundary list is [0] after the final-byte fallback; the one
    # "chunk" has zero bytes — accept either zero rows or one empty chunk,
    # but never a crash, and agree with the oracle
    out = MM.cdc_chunks_np(df, "payload", "doc_id").collect()
    assert all(r["chunk_bytes"] == 0 for r in out)
    assert sorted(tuple(r) for r in out) == cdc_oracle(rows)


def test_float_mode_zero_normalization_and_nan_grouping(spark):
    # Three -0.0 vs two +0.0 vs four NaN vs three 1.5
    vals = [-0.0] * 3 + [0.0] * 2 + [float("nan")] * 4 + [1.5] * 3
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = mode_agg(df, None, "v").collect()[0][0]
    # Spark (and DuckDB) normalize -0.0 == 0.0 into ONE key of count 5,
    # beating NaN's 4.  The reference's FloatModeAccumulator hashes raw
    # f64 bit patterns, so it would see {-0.0:3, 0.0:2, NaN:4, 1.5:3} and
    # return NaN.  The repo deliberately pins the normalized semantics
    # (matches the DuckDB oracle; documented in operators/mode.py).
    assert got == 0.0 and not math.isnan(got)

    # NaN groups with NaN on both engines: with zeros removed NaN wins
    df2 = spark.createDataFrame(
        [(v,) for v in [float("nan")] * 4 + [1.5] * 3], ["v"]
    )
    got2 = mode_agg(df2, None, "v").collect()[0][0]
    assert math.isnan(got2)


def test_lsh_eval_metrics_stop_shingle_cap(spark):
    # 60 docs sharing one boilerplate prefix (a hot shingle with df=60)
    # plus one genuine near-dup pair on rare shingles.  With eval_max_df
    # below the boilerplate df, the hot shingle contributes ZERO
    # ground-truth candidates (no quadratic blowup), while the rare-path
    # truth pair is still found: the df cap kills hot keys, not recall.
    from datafusion_functions_extra_spark.operators import similarity as SIM

    boiler = [
        (f"b{i}", f"shared boiler plate unique{i} tail{i} word{i}")
        for i in range(60)
    ]
    base = "rare alpha beta gamma delta epsilon zeta theta iota kappa " * 3
    dup = [("d1", base + "one"), ("d2", base + "two")]
    df = spark.createDataFrame(boiler + dup, ["doc_id", "text"])
    row = SIM.lsh_eval_metrics(df, "text", "doc_id", 0.5, eval_max_df=4).collect()[0]
    assert row["n_truth"] == 1  # only the rare near-dup pair
    # sanity: the uncapped candidate index would have produced 60*59/2
    # boilerplate candidates; none survive the cap (verified indirectly —
    # truth is exact, so any surviving boilerplate pair with Jaccard<0.5
    # could only inflate the candidate set, never n_truth)
    sh = df.select(
        "doc_id",
        F.array_distinct(SIM._shingles_or_whole(F.col("text"))).alias("shs"),
    )
    ix = sh.select("doc_id", F.explode("shs").alias("s"))
    capped = ix.groupBy("s").count().where(F.col("count") <= 4)
    ix_c = ix.join(capped.select("s"), "s")
    n_cand = (
        ix_c.select(F.col("doc_id").alias("a"), "s")
        .join(ix_c.select(F.col("doc_id").alias("b"), "s"), "s")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    assert n_cand <= 10  # bounded: no 60-choose-2 hot-key explosion


def test_lsh_eval_metrics_default_cap_noop_at_sf0001(spark):
    # default eval_max_df=256 is 10x the max observed shingle df at
    # sf0.1 (25) — assert it changes nothing vs effectively-uncapped on
    # the real sf0.001 corpus
    from datafusion_functions_extra_spark.operators import similarity as SIM

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = SIM.lsh_eval_metrics(d, "text", "doc_id", 0.5).collect()[0].asDict()
    b = SIM.lsh_eval_metrics(
        d, "text", "doc_id", 0.5, eval_max_df=10**9
    ).collect()[0].asDict()
    assert a == b


def test_register_all_warns_about_no_partial_aggregation(spark, caplog):
    # VERDICT r7 item 5: SQL-surface honesty — the extra_* SQL UDAF forms
    # skip partial aggregation, and register_all must say so loudly (and
    # be silenceable with warn=False).
    import logging

    from datafusion_functions_extra_spark.functions import registry

    with caplog.at_level(logging.WARNING, logger=registry.log.name):
        names = registry.register_all(spark)
    assert any("partial aggregation" in r.message for r in caplog.records)
    assert f"extra_mode" in names

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=registry.log.name):
        registry.register_all(spark, warn=False)
    assert not any("partial aggregation" in r.message for r in caplog.records)
