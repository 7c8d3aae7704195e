"""Round-10 optimization: the Arrow-batched exact kNN pair scorer.

``knn_np.emb_pair_scorer`` replaces the JVM broadcast-nested-loop +
interpreted HOF dot with NumPy block scoring whose arithmetic is
bit-identical by construction (sequential per-dimension accumulation, no matmul
reassociation, no FMA).  These tests pin the two load-bearing claims:

1. ``knn_np.round6_scaled`` is an exact replica of JVM ``round(double, 6)``
   (``BigDecimal.valueOf(d).setScale(6, HALF_UP)``) — checked against a
   pure-Decimal reference on random values, exact .5 boundaries, and
   nextafter-perturbed boundary neighbors (the fast path's danger zone).
2. The worker top-5 selection equals the suite's row_number window over
   the full symmetric scored relation, row for row, at sf0.001.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from datafusion_functions_extra_spark import suite
from datafusion_functions_extra_spark.functions import knn_np
from datafusion_functions_extra_spark.sources import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test-r10-knn", cpus=4)
    yield s


def _ref_round6_scaled(x: float) -> int:
    # Java: BigDecimal.valueOf(d) == new BigDecimal(Double.toString(d));
    # Python repr() is the same shortest-decimal representation.
    q6 = Decimal("0.000001")
    return int(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP).scaleb(6))


def test_round6_scaled_random():
    rng = np.random.default_rng(7)
    x = rng.uniform(-1.0, 1.0, 20000)
    got = knn_np.round6_scaled(x)
    for i in range(0, len(x), 997):  # spot-check a stride plus full sum below
        assert got[i] == _ref_round6_scaled(float(x[i]))
    ref = np.array([_ref_round6_scaled(float(v)) for v in x])
    assert (got == ref).all()


def test_round6_scaled_boundaries():
    # exact .5 boundaries in the last digit, both signs, plus their
    # nextafter neighbors — the band/fast-path handoff zone
    cases = []
    for k in (0, 1, 3, 499999, 999999, 1024):
        for s in (1.0, -1.0):
            b = s * (k + 0.5) / 1e6
            cases.extend([b, np.nextafter(b, 0.0), np.nextafter(b, s * 2.0)])
    cases.extend([0.0, 1.0, -1.0, 0.9999995, -0.9999995])
    x = np.array(cases)
    got = knn_np.round6_scaled(x)
    ref = np.array([_ref_round6_scaled(float(v)) for v in x])
    assert (got == ref).all()


def test_top5_matches_full_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w5 = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    full = (
        suite._knn_scored_sym(spark, SF)
        .withColumn("rk", F.row_number().over(w5))
        .where(F.col("rk") <= 5)
    )
    thin = (
        suite._knn_top5_sym(spark, SF)
        .withColumn("rk", F.row_number().over(w5))
        .where(F.col("rk") <= 5)
    )
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in thin.collect()}
    assert a == b and len(a) > 0
