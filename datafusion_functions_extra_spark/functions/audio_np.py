"""Arrow-batched WAV encode -> parse -> decode pipelines (guide §4.2).

Each runner builds the closed-form integer waveform of :mod:`.audio` into
a byte-exact RIFF/PCM WAV, parses the header and decodes the int16 body
BACK from the bytes, and folds integer stats — over Arrow batches with
NumPy byte arithmetic, so a task processes its whole partition with a
handful of vectorized passes.

Bit-exactness is by construction: every quantity here is INTEGER
(samples, header fields, energies, run lengths, DFT twiddle sums bounded
far below 2**63) or an md5 over an exactly-specified byte string
(``md5(concat(cast(n AS string), ':', signs))``), so no floating-point op
exists to drift.  The waveform constants are imported from :mod:`.audio`,
whose :func:`.audio.sample_expr` the DuckDB oracles replay without
touching bytes; pytest pins every runner against those oracles and the
container against Python's stdlib ``wave`` reader.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame

from .audio import N_BASE, N_MOD, RATE_CHOICES


def _synth_wav_bytes(d: int, scale: int) -> bytes:
    """Byte-exact mono 16-bit PCM WAV for doc ``d``: 44-byte
    RIFF/fmt/data header with little-endian size/rate fields, then the
    closed-form samples.  ``scale`` is the amplitude multiplier (8 gives
    :func:`.audio.sample_expr`'s range); another scale is the SAME
    recording re-mastered at another volume — byte-different payloads
    with identical sign structure.

    PRECONDITION: ``d`` (the doc id) must be non-negative — Python's
    ``%`` follows the divisor's sign while the SQL remainder of
    :func:`.audio.sample_expr` follows the dividend's, so the two only
    agree on non-negative ids (ADVICE r10 item 5; suite doc_ids are
    non-negative by construction, and tests/test_r11_opts.py pins the
    guard)."""
    if d < 0:
        raise ValueError("WAV synth requires non-negative doc id (sign of %)")
    n = d % N_MOD + N_BASE
    rate = RATE_CHOICES[d % 3]
    data_bytes = 2 * n
    k = np.arange(n, dtype=np.int64)
    s = (((d % 13 + 3) * k * 97 + d * 31) % 4096 - 2048) * scale
    header = (
        b"RIFF"
        + struct.pack("<I", data_bytes + 36)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_bytes)
    )
    return header + s.astype("<i2").tobytes()


def _parse_decode(wav: bytes) -> tuple[dict, np.ndarray]:
    """Header parse + PCM decode from the BYTES (the round-trip leg)."""
    meta = {
        "n_channels": int.from_bytes(wav[22:24], "little"),
        "sample_rate": int.from_bytes(wav[24:28], "little"),
        "bits_per_sample": int.from_bytes(wav[34:36], "little"),
        "data_bytes": int.from_bytes(wav[40:44], "little"),
    }
    smp = np.frombuffer(
        wav[44 : 44 + meta["data_bytes"]], dtype="<i2"
    ).astype(np.int64)
    return meta, smp


def _roundtrip_iter(ids, scale: int):
    for did in ids:
        d = int(did)
        meta, smp = _parse_decode(_synth_wav_bytes(d, scale))
        yield d, meta, smp


def _ids(df: DataFrame, id_col: str) -> DataFrame:
    """Project to the id column and widen a narrow scan to the session
    parallelism — the per-clip decode below is exactly the
    expensive-projection case ``widen_for_compute`` exists for (the
    bench-scale parquet is one row group = ONE scan partition)."""
    from ..sources.catalog import widen_for_compute

    return widen_for_compute(df.select(id_col))


def wav_fingerprints(
    df: DataFrame, id_col: str, scale: int = 8
) -> DataFrame:
    """(id, n_samples, fp) — md5 over the length-prefixed sign sequence
    of the decoded samples, ``md5(concat(cast(n AS string), ':', signs))``
    with ``signs`` one '1'/'0' per sample."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, ns, fps = [], [], []
            for d, meta, smp in _roundtrip_iter(pdf[id_col], scale):
                n = meta["data_bytes"] >> 1
                # '1'/'0' per sample, vectorized: sign bytes -> ascii
                signs = (
                    (smp >= 0).astype(np.uint8) + ord("0")
                ).tobytes().decode("ascii")
                ids.append(d)
                ns.append(n)
                fps.append(
                    hashlib.md5(f"{n}:{signs}".encode()).hexdigest()
                )
            yield pd.DataFrame(
                {id_col: ids, "n_samples": ns, "fp": fps}
            )

    return _ids(df, id_col).mapInPandas(
        run, f"{id_col} bigint, n_samples bigint, fp string"
    )


def wav_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Integer per-clip stats from the decoded samples — the
    :func:`suite.audio_wav_stats` body (peak, energy, zero crossings)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for d, meta, smp in _roundtrip_iter(pdf[id_col], 8):
                sgn = smp >= 0
                rows.append(
                    (
                        d,
                        meta["n_channels"],
                        meta["sample_rate"],
                        meta["bits_per_sample"],
                        meta["data_bytes"] >> 1,
                        meta["data_bytes"],
                        int(np.abs(smp).max()),
                        int((smp * smp).sum()),
                        int((sgn[:-1] != sgn[1:]).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "n_channels",
                    "sample_rate",
                    "bits_per_sample",
                    "n_samples",
                    "data_bytes",
                    "peak_abs",
                    "energy",
                    "zero_crossings",
                ],
            )

    return _ids(df, id_col).mapInPandas(
        run,
        f"{id_col} bigint, n_channels bigint, sample_rate bigint, "
        "bits_per_sample bigint, n_samples bigint, data_bytes bigint, "
        "peak_abs bigint, energy bigint, zero_crossings bigint",
    )


def silence_segments(
    df: DataFrame, quiet_abs: int, id_col: str = "doc_id"
) -> DataFrame:
    """Quiet-run segmentation (loud-index gap trick) over the decoded
    samples — the :func:`suite.audio_silence_segments` body."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for d, meta, smp in _roundtrip_iter(pdf[id_col], 8):
                n = meta["data_bytes"] >> 1
                # 1-based loud indices with 0 / n+1 sentinels
                loud = np.flatnonzero(np.abs(smp) >= quiet_abs) + 1
                lp = np.concatenate(([0], loud, [n + 1]))
                gaps = lp[1:] - lp[:-1] - 1
                rows.append(
                    (
                        d,
                        n,
                        n - (len(lp) - 2),
                        int((gaps >= 1).sum()),
                        int(gaps.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col,
                    "n_samples",
                    "n_quiet",
                    "n_runs",
                    "longest_quiet_run",
                ],
            )

    return _ids(df, id_col).mapInPandas(
        run,
        f"{id_col} bigint, n_samples bigint, n_quiet bigint, "
        "n_runs bigint, longest_quiet_run bigint",
    )


def dft_twiddle_sums(
    df: DataFrame,
    periods: list[int],
    twiddle,
    window: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-clip integer DFT twiddle sums over the first ``window``
    decoded samples: sc_p = Σ s_k·cos_p[k mod p], ss_p likewise — the
    26 exact-integer aggregates of :func:`suite.audio_spectral_centroid`
    (|s·tw| ≤ 16376·1000 and ≤ 48 terms, far inside int64).  The decimal
    power products, centroid ratio and argmax stay in the JVM."""
    import pandas as pd

    cols = [f"{kind}_{p}" for p in periods for kind in ("sc", "ss")]
    # per-period twiddle value per sample position k (k mod p indexes)
    tabs = {
        p: (
            np.asarray(twiddle(p, "cos"), dtype=np.int64),
            np.asarray(twiddle(p, "sin"), dtype=np.int64),
        )
        for p in periods
    }

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        k = np.arange(window, dtype=np.int64)
        idx = {p: (k % p) for p in periods}
        for pdf in batches:
            rows = []
            for d, meta, smp in _roundtrip_iter(pdf[id_col], 8):
                s = smp[:window]
                m = len(s)
                row = [d]
                for p in periods:
                    ci, si = tabs[p]
                    ii = idx[p][:m]
                    row.append(int((s * ci[ii]).sum()))
                    row.append(int((s * si[ii]).sum()))
                rows.append(tuple(row))
            yield pd.DataFrame(rows, columns=[id_col, *cols])

    schema = ", ".join([f"{id_col} bigint"] + [f"{c} bigint" for c in cols])
    return _ids(df, id_col).mapInPandas(run, schema)
