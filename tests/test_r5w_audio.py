"""Round-5w audio family: the self-encoded PCM WAV container must be
readable by Python's stdlib `wave` module (public-format conformance),
and the decoded samples must equal the closed-form waveform."""

import io
import struct
import wave

import pytest


@pytest.fixture(scope="module")
def sf():
    return "/root/testdata/sf0.001"


def _expected_samples(d: int) -> list[int]:
    n = d % 200 + 50
    return [
        (((d % 13 + 3) * k * 97 + d * 31) % 4096 - 2048) * 8
        for k in range(n)
    ]


def test_wav_container_is_stdlib_readable(sf):
    import pandas as pd

    from datafusion_functions_extra_spark.functions import audio as AUD
    from datafusion_functions_extra_spark.functions.audio_np import (
        _synth_wav_bytes,
    )

    ids = pd.read_parquet(f"{sf}/documents.parquet")["doc_id"].head(7)
    assert len(ids)
    for d in map(int, ids):
        with wave.open(io.BytesIO(_synth_wav_bytes(d, 8))) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == AUD.RATE_CHOICES[d % 3]
            n = d % 200 + 50
            assert w.getnframes() == n
            raw = w.readframes(n)
        got = list(struct.unpack(f"<{n}h", raw))
        assert got == _expected_samples(d)


def test_audio_stats_match_python(spark, sf):
    from datafusion_functions_extra_spark.suite import QUERIES

    got = {
        r.doc_id: (
            r.n_channels,
            r.sample_rate,
            r.bits_per_sample,
            r.n_samples,
            r.data_bytes,
            r.peak_abs,
            r.energy,
            r.zero_crossings,
        )
        for r in QUERIES["audio_wav_stats"](spark, sf).collect()
    }
    import pandas as pd

    from datafusion_functions_extra_spark.functions import audio as AUD

    docs = pd.read_parquet(f"{sf}/documents.parquet")
    want = {}
    for d in docs["doc_id"]:
        d = int(d)
        s = _expected_samples(d)
        zc = sum(
            1 for a, b in zip(s, s[1:]) if (a >= 0) != (b >= 0)
        )
        want[d] = (
            1,
            AUD.RATE_CHOICES[d % 3],
            16,
            len(s),
            2 * len(s),
            max(abs(x) for x in s),
            sum(x * x for x in s),
            zc,
        )
    assert got == want
