"""Round-10 optimization tests: the Arrow-batched NumPy workers (WAV round
trip, CDC chunking, byte histograms) must produce row-identical output to
an independent reference — every quantity is integer or md5, so any
mismatch is a logic bug, not float drift.

The WAV runners are pinned against DuckDB replaying the closed-form
waveform (``audio.sample_expr``, the suite's oracle fragments) without
touching bytes; the CDC chunker against DuckDB running
``multimodal.cdc_chunks_sql`` over the same payload bytes; the byte
histogram against the explode -> groupBy Spark expression plan.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from datafusion_functions_extra_spark.functions import audio as AUD
from datafusion_functions_extra_spark.functions import audio_np as ANP
from datafusion_functions_extra_spark.functions import multimodal as MM


@pytest.fixture(scope="module")
def spark():
    from datafusion_functions_extra_spark.sources import get_spark

    s = get_spark("test-r10-arrow-np", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


#: ids exercising every modulus class the waveform/payload depends on
#: (doc_id % 3 rate, % 4 container, % 7 remaster pick, % 13 slope,
#: % 200 length) plus the large-id clone offset range
_IDS = [0, 1, 2, 3, 6, 7, 13, 25, 48, 49, 50, 199, 200, 201, 777, 4999]


def _ids_df(spark):
    return spark.createDataFrame(
        [(i,) for i in _IDS], "doc_id bigint"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _duck(sql: str) -> list[tuple]:
    """Run ``sql`` in DuckDB over a ``documents`` table holding _IDS."""
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT)")
        con.executemany("INSERT INTO documents VALUES (?)", [(i,) for i in _IDS])
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def _smp_cte(length: str) -> str:
    """Closed-form samples 0..length-1 of each doc, as DuckDB list ``smp``."""
    s = AUD.sample_expr("doc_id", "k")
    return f"""
w AS (
  SELECT doc_id, (doc_id % {AUD.N_MOD} + {AUD.N_BASE})::BIGINT AS n,
         list_transform(generate_series(0, {length} - 1), k -> {s}) AS smp
  FROM documents
)"""


def test_wav_fingerprints_match_jvm(spark):
    d = _ids_df(spark)
    # the sign sequence does not depend on the (positive) amplitude scale,
    # so both scales must reproduce the scale-8 closed-form fingerprint
    ref = _duck(
        f"""
WITH {_smp_cte(f"(doc_id % {AUD.N_MOD} + {AUD.N_BASE})")}
SELECT doc_id, n,
       md5(CAST(n AS VARCHAR) || ':' || array_to_string(
         list_transform(smp, x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
         ''))
FROM w
"""
    )
    for scale in (8, 4):
        assert _rows(ANP.wav_fingerprints(d, "doc_id", scale)) == ref


def test_wav_stats_match_jvm(spark):
    from datafusion_functions_extra_spark.suite import _audio_oracle

    ref = _duck(_audio_oracle())
    assert _rows(ANP.wav_stats(_ids_df(spark), "doc_id")) == ref


def test_silence_segments_match_jvm(spark):
    from datafusion_functions_extra_spark.suite import (
        _QUIET_ABS,
        _silence_oracle,
    )

    ref = _duck(_silence_oracle())
    got = ANP.silence_segments(_ids_df(spark), _QUIET_ABS, "doc_id")
    assert _rows(got) == ref


def test_dft_twiddle_sums_match_jvm(spark):
    from datafusion_functions_extra_spark.suite import (
        _AUDIO_DFT_WINDOW,
        _PGRAM_PERIODS,
        _twiddle,
    )

    sums = ", ".join(
        f"list_sum(list_transform(generate_series(0, {_AUDIO_DFT_WINDOW - 1}),"
        f" k -> smp[k + 1] * ({_twiddle(pp, kind)}::BIGINT[])[(k % {pp}) + 1]))"
        f"::BIGINT"
        for pp in _PGRAM_PERIODS
        for kind in ("cos", "sin")
    )
    ref = _duck(f"WITH {_smp_cte(str(_AUDIO_DFT_WINDOW))} SELECT doc_id, {sums} FROM w")
    got = ANP.dft_twiddle_sums(
        _ids_df(spark), _PGRAM_PERIODS, _twiddle, _AUDIO_DFT_WINDOW, "doc_id"
    )
    assert _rows(got) == ref


def _payloads_df(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return d.select(
        "doc_id",
        MM.synth_payload(
            F.col("doc_id"), F.col("n_chars"), F.col("text")
        ).alias("payload"),
    ).withColumn("mime", MM.sniff_mime(F.col("payload")))


def test_cdc_chunks_np_matches_jvm(spark, cdc_oracle):
    p = _payloads_df(spark)
    rows = p.collect()
    mime = {r.doc_id: r.mime for r in rows}
    ref = sorted(
        (i, mime[i], h, n)
        for i, h, n in cdc_oracle([(r.doc_id, r.payload) for r in rows])
    )
    got = MM.cdc_chunks_np(p, "payload", "doc_id", keep_cols=("mime",))
    assert _rows(got) == ref


def test_cdc_chunks_np_short_payloads(spark, cdc_oracle):
    """Payloads shorter than the window form one whole-payload chunk."""
    rows = [(1, bytearray(b"abc")), (2, bytearray(b"\x00" * 7)),
            (3, bytearray(b"x" * 8)), (4, bytearray(b"0123456789abcdef"))]
    p = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = _rows(MM.cdc_chunks_np(p, "payload", "doc_id"))
    assert got == cdc_oracle(rows)
    assert [n for i, _, n in got if i in (1, 2)] == [3, 7]


def test_byte_histogram_np_matches_jvm(spark):
    p = _payloads_df(spark)
    hx = p.select(
        "doc_id",
        "mime",
        F.hex(F.col("payload")).alias("h"),
        MM.payload_size(F.col("payload")).cast("long").alias("n"),
    )
    jvm = (
        hx.select(
            "doc_id",
            "mime",
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n").cast("int")),
                    lambda i: F.conv(
                        F.substring(F.col("h"), i * 2 - 1, 2), 16, 10
                    ).cast("long"),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", "mime", "n", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    got = MM.byte_histogram_np(p, "payload", "doc_id", keep_cols=("mime",))
    assert _rows(jvm) == _rows(got)
