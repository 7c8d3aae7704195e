"""Round-6 additions: span-level benchmark decontamination, the
amplitude-scaled WAV variant behind audio fingerprint near-dups, and the
token-fertility table's invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_functions_extra_spark.operators import decontaminate as DECON


def test_bench_span_overlap_locates_leak(spark):
    train = spark.createDataFrame(
        [
            # tokens 3..7 ("the quick brown fox jumps") overlap the bench
            (1, "intro words the quick brown fox jumps tail words"),
            (2, "completely unrelated content about spark engines"),
            # shorter than 3 tokens -> whole-text fallback, matches bench
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over it"), (101, "tiny doc")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.span_start, r.span_end, r.n_tokens)
        for r in DECON.bench_span_overlap(train, bench).collect()
    }
    # doc 1: shingle starts 3,4,5 hit -> merged island tokens 3..7
    assert rows[1] == (3, 7, 5)
    # doc 2: clean
    assert 2 not in rows
    # doc 3: whole-text fallback hit at position 1 (span width = k)
    assert rows[3][0] == 1
    # doc-level screen agrees on WHICH docs are contaminated
    flagged = {
        r.doc_id
        for r in DECON.ngram_overlap_flags(train, bench, n=3).collect()
    }
    assert set(rows) == flagged


def test_bench_span_overlap_rejects_other_widths(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="shingle width"):
        DECON.bench_span_overlap(df, df, k=5)


def test_synth_wav_scale_preserves_signs_changes_bytes(spark):
    import numpy as np

    from datafusion_functions_extra_spark.functions import audio_np as ANP

    for d in range(20):
        h8 = ANP._synth_wav_bytes(d, 8)
        h4 = ANP._synth_wav_bytes(d, 4)
        assert h8 != h4  # different volume, bytes
        s8 = np.frombuffer(h8[44:], dtype="<i2")
        s4 = np.frombuffer(h4[44:], dtype="<i2")
        assert ((s8 >= 0) == (s4 >= 0)).all()  # same recording structure
    # the fingerprint decoded back from each scale's bytes agrees
    ids = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    fp8 = ANP.wav_fingerprints(ids, "doc_id", 8).collect()
    fp4 = ANP.wav_fingerprints(ids, "doc_id", 4).collect()
    assert sorted(fp8) == sorted(fp4) and len(fp8) == 20


def test_synth_wav_scale4_stdlib_wave_conformance():
    import io
    import wave

    from datafusion_functions_extra_spark.functions import audio as AUD
    from datafusion_functions_extra_spark.functions.audio_np import (
        _synth_wav_bytes,
    )

    with wave.open(io.BytesIO(_synth_wav_bytes(7, 4))) as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == AUD.RATE_CHOICES[7 % 3]
        assert w.getnframes() == 7 % AUD.N_MOD + AUD.N_BASE


def test_neyman_allocation_invariants(spark):
    from datafusion_functions_extra_spark import suite

    rows = suite.QUERIES["orders_neyman_allocation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r.alloc for r in rows) == 1000  # largest remainder is exact
    assert all(r.alloc >= 0 for r in rows)
    # allocation ordering follows N_h * sigma_h ordering
    by_weight = sorted(rows, key=lambda r: r.n_rows * r.sigma_micro)
    allocs = [r.alloc for r in by_weight]
    assert allocs == sorted(allocs)


def test_doremi_weights_invariants(spark):
    from datafusion_functions_extra_spark import suite

    rows = suite.QUERIES["corpus_doremi_weights"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert abs(sum(r.base_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.doremi_share for r in rows) - 1.0) < 1e-4
    # harder-than-average sources must gain weight, easier ones shrink
    mean_loss = sum(r.loss_micro for r in rows) / len(rows)
    for r in rows:
        if r.loss_micro > mean_loss + 1000:  # clearly harder
            assert r.doremi_share > r.base_share - 1e-6


def test_padding_efficiency_monotone(spark):
    from datafusion_functions_extra_spark import suite

    rows = {
        r.n_buckets: r
        for r in suite.QUERIES["docs_padding_efficiency"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {1, 4, 16}
    # same corpus in every granularity
    assert len({r.total_tokens for r in rows.values()}) == 1
    # more buckets can only cut padding waste
    assert rows[1].padded_tokens >= rows[4].padded_tokens >= rows[16].padded_tokens


def test_ivf_balance_consistency(spark):
    from datafusion_functions_extra_spark import suite

    r = suite.QUERIES["embedding_ivf_balance"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r.min_cell <= r.max_cell
    assert r.n_cells >= 1 and r.n_vectors >= r.n_cells
    assert r.imbalance >= 1.0 - 1e-9
    # probe fraction is bounded by the fattest cell's share
    assert 0.0 < r.probe1_frac <= r.max_cell / r.n_vectors + 1e-9
