"""Round-10 optimization tests: internals changed for speed must stay
bit-identical to their reference semantics.

Covers the single-pass SimHash rewrite, the index-side truth counting in
``lsh_eval_metrics`` (shared rare + stop shingles), and the
``widen_for_compute`` scan widening (row-identical, partition count up).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from datafusion_functions_extra_spark.functions import text as TX
from datafusion_functions_extra_spark.operators import similarity as SIM
from datafusion_functions_extra_spark.sources import widen_for_compute


def _simhash32_ref(text: str) -> int:
    """Pure-Python reference of the documented SimHash semantics: bit j
    set iff sum over whitespace tokens of (+1 if bit j of hash60(token)
    else -1) is strictly positive.  Mirrors normalize_text (lower, trim,
    whitespace-collapse) and the md5-based hash60."""
    import re

    norm = re.sub(r"\s+", " ", text).strip().lower()
    toks = norm.split(" ")
    sums = [0] * 32
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for j in range(32):
            sums[j] += 1 if (h >> j) & 1 else -1
    out = 0
    for j in range(32):
        if sums[j] > 0:
            out |= 1 << j
    return out


def test_simhash32_single_pass_matches_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "hello world",
        "x",
        "  Mixed   CASE    and   spacing  ",
        "repeat repeat repeat repeat repeat",
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "t"])
    got = {
        r["id"]: r["s"]
        for r in df.select("id", SIM.simhash32(F.col("t")).alias("s")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _simhash32_ref(t), f"text {i!r}"


def test_lsh_eval_metrics_mixed_rare_and_stop_shingles(spark):
    # A candidate pair that shares BOTH rare shingles (drives candidate
    # generation + c_rare) and a hot boilerplate shingle above the df cap
    # (must still count toward the intersection via the stop-shingle
    # arrays): the r10 index-side counting must reproduce the full-array
    # Jaccard exactly.  10 filler docs push one shingle over the cap.
    hot = "common boiler plate"
    filler = [(f"f{i}", f"{hot} xx{i} yy{i} zz{i}") for i in range(10)]
    # d1/d2: share the hot shingle AND enough rare shingles for >= 0.5
    rare = "alpha beta gamma delta epsilon zeta"
    d = [("zd1", f"{hot} {rare} one"), ("zd2", f"{hot} {rare} two")]
    df = spark.createDataFrame(filler + d, ["doc_id", "text"])
    row = SIM.lsh_eval_metrics(df, "text", "doc_id", 0.5, eval_max_df=4).collect()[0]
    # exact check against brute-force distinct-shingle Jaccard
    sh = {
        r["doc_id"]: set(r["shs"])
        for r in df.select(
            "doc_id",
            F.array_distinct(TX.shingles_or_whole("text")).alias("shs"),
        ).collect()
    }
    a, b = sh["zd1"], sh["zd2"]
    jac = len(a & b) / len(a | b)
    assert (row["n_truth"] >= 1) == (jac >= 0.5)
    # the pair's intersection includes the >cap hot shingle, so if truth
    # found it, the stop-shingle leg contributed (c_rare alone is less
    # than the full intersection)
    hot_shingles = {
        s for s, in (
            df.select(F.explode(TX.shingles_or_whole("text")).alias("s"))
            .groupBy("s").count().where(F.col("count") > 4).select("s").collect()
        )
    }
    assert hot_shingles & (a & b), "fixture must share a stop shingle"


def test_widen_for_compute_rows_identical(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 3 % 17).alias("v")
    ).coalesce(1)
    w = widen_for_compute(df)
    assert w.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert set(map(tuple, w.collect())) == set(map(tuple, df.collect()))
    # already-wide inputs pass through without an extra exchange
    wide = df.repartition(spark.sparkContext.defaultParallelism)
    assert widen_for_compute(wide) is wide
