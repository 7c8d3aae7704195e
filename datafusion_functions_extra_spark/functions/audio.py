"""Closed-form audio waveform shared by the audio family's Spark path and
its DuckDB oracles.

The reference engine has no audio surface; this family covers the audio
leg of a multimodal training-data pipeline: validate containers, read
sample rate / channel / width metadata, and compute cheap per-clip
signal statistics (energy, zero-crossing rate, peak) for quality
filtering — the audio analog of the text quality score.

Like the image family (multimodal.synth_payload / dhash64), payloads
are SELF-ENCODED: a deterministic integer waveform per doc_id is packed
into a byte-exact 44-byte-header PCM WAV, then parsed and decoded BACK
from the bytes.  That encode -> parse -> decode pipeline runs in
Arrow-batched NumPy workers (:mod:`.audio_np`).  This module holds only
the waveform definition: the parameters below, which both sides import,
and :func:`sample_expr`, the SQL text the suite oracles use to recompute
every statistic from the closed form without touching bytes — so a hash
match certifies the whole byte round trip against ground truth.
"""

from __future__ import annotations

#: waveform parameters — shared literal text with the suite oracle
N_BASE, N_MOD = 50, 200  #: n_samples = doc_id % 200 + 50
RATE_CHOICES = (8000, 12000, 16000)  #: sample_rate = choices[doc_id % 3]


def sample_expr(d: str, k: str) -> str:
    """Closed-form int16 sample value (SQL text, valid in Spark AND
    DuckDB): a deterministic modular sawtooth, range [-16384, 16376]."""
    return f"((({d} % 13 + 3) * {k} * 97 + {d} * 31) % 4096 - 2048) * 8"
