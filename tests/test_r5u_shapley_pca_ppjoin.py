"""Round-5u operators: exact Shapley channel attribution, two-component
PCA with deflation, PPJoin positional filtering."""

import math
from collections import Counter

import pytest


@pytest.fixture(scope="module")
def sf():
    return "/root/testdata/sf0.001"


def _r6(x):
    return round(x + 1e-9, 6)


def test_shapley_matches_python_and_efficiency(spark, sf):
    from datafusion_functions_extra_spark.suite import (
        _MATTR_CONV,
        _MATTR_ROUNDS,
        QUERIES,
    )

    got = {
        r.channel: r
        for r in QUERIES["events_shapley_attribution"](spark, sf).collect()
    }

    pdf = (
        spark.read.parquet(f"{sf}/events.parquet")
        .selectExpr("user_id", "event_type", "ts", "event_id")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    tr = Counter()
    for _, g in pdf.groupby("user_id"):
        seq = list(g["event_type"])
        cut = seq.index(_MATTR_CONV) + 1 if _MATTR_CONV in seq else len(seq)
        seq = seq[:cut]
        tr[("__start", seq[0])] += 1
        for a, b in zip(seq, seq[1:]):
            tr[(a, b)] += 1
        if seq[-1] != _MATTR_CONV:
            tr[(seq[-1], "__end")] += 1
    rowm = Counter()
    for (a, _b), c in tr.items():
        rowm[a] += c
    ts_ = sorted({a for (a, _b) in tr})
    n = len(ts_)
    q0 = [[_r6(tr.get((a, b), 0) / rowm[a]) for b in ts_] for a in ts_]
    r0 = [_r6(tr.get((a, _MATTR_CONV), 0) / rowm[a]) for a in ts_]
    chans = [t for t in ts_ if t != "__start"]
    nc = len(chans)

    def v(mask):
        def kept(t):
            return t == "__start" or (mask >> chans.index(t)) & 1 == 1

        q = [
            [
                q0[i][j] if kept(ts_[i]) and kept(ts_[j]) else 0.0
                for j in range(n)
            ]
            for i in range(n)
        ]
        r = [r0[i] if kept(ts_[i]) else 0.0 for i in range(n)]
        hv = list(r)
        for _ in range(_MATTR_ROUNDS):
            hv = [
                _r6(r[i] + sum(q[i][j] * hv[j] for j in range(n)))
                for i in range(n)
            ]
        return hv[ts_.index("__start")]

    vals = {m: v(m) for m in range(1 << nc)}
    phi_nano = Counter()
    for m, vm in vals.items():
        for ci in range(nc):
            if (m >> ci) & 1:
                continue
            s = bin(m).count("1")
            w = (
                math.factorial(s)
                * math.factorial(nc - 1 - s)
                / math.factorial(nc)
            )
            phi_nano[chans[ci]] += round(
                w * (vals[m | (1 << ci)] - vm) * 1e9
            )
    total = sum(phi_nano.values())

    assert set(got) == set(chans)
    for c in chans:
        assert got[c].shapley_credit == pytest.approx(
            _r6(phi_nano[c] / 1e9), abs=1e-9
        )
        if total > 0:
            assert got[c].credit_share == pytest.approx(
                _r6(phi_nano[c] / total), abs=1e-9
            )
    # efficiency axiom: credits sum to v(grand coalition) - v(empty),
    # up to the pinned nano/6-dp rounding
    assert sum(phi_nano.values()) / 1e9 == pytest.approx(
        vals[(1 << nc) - 1] - vals[0], abs=1e-4
    )


def test_pca_two_components(spark, sf):
    from datafusion_functions_extra_spark.suite import QUERIES

    rows = QUERIES["embedding_pca_two_components"](spark, sf).collect()
    c1 = {r.pos: r for r in rows if r.component == 1}
    c2 = {r.pos: r for r in rows if r.component == 2}
    assert len(c1) == len(c2) == 64

    top = {
        r.pos: r
        for r in QUERIES["embedding_pca_top_component"](spark, sf).collect()
    }
    # component 1 IS the existing top component (same trajectory)
    for pos, r in top.items():
        assert c1[pos].loading == pytest.approx(r.loading, abs=1e-9)
        assert c1[pos].explained_ratio == pytest.approx(
            r.explained_ratio, abs=1e-9
        )

    w1 = [c1[p].loading for p in sorted(c1)]
    w2 = [c2[p].loading for p in sorted(c2)]
    # unit norms (up to 6-dp trajectory rounding)
    assert sum(x * x for x in w1) == pytest.approx(1.0, abs=1e-3)
    assert sum(x * x for x in w2) == pytest.approx(1.0, abs=1e-3)
    # deflation makes the second component near-orthogonal to the first
    # (the pinned 6-dp trajectory rounding leaves a small residual,
    # larger on tiny corpora where the spectrum is flat)
    assert abs(sum(a * b for a, b in zip(w1, w2))) < 0.05
    # eigenvalue ordering
    evr1 = c1[0].explained_ratio
    evr2 = c2[0].explained_ratio
    assert evr1 >= evr2 > 0
    assert evr1 + evr2 <= 1.0 + 1e-6


def test_ppjoin_matches_brute_force(spark, sf):
    """Both exact-Jaccard suite entries (AllPairs' name runs PPJoin) equal
    a Python all-pairs brute force over the real shingle sets: the
    length and positional prunes change the plan, not the result."""
    from pyspark.sql import functions as F

    from datafusion_functions_extra_spark.functions.text import (
        shingles_or_whole,
    )
    from datafusion_functions_extra_spark.suite import QUERIES, load_table

    pct = 60
    sets = {
        r.doc_id: set(r.g)
        for r in load_table(spark, sf, "documents")
        .select(
            "doc_id", F.array_distinct(shingles_or_whole("text")).alias("g")
        )
        .collect()
    }
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if inter and 100 * inter >= pct * union:
                want[(a, b)] = (inter, _r6(inter / union))
    assert want
    for name in ("ppjoin_jaccard_pairs", "prefix_filter_jaccard_pairs"):
        got = {
            (r.id_a, r.id_b): (r.n_inter, r.jacc)
            for r in QUERIES[name](spark, sf).collect()
        }
        assert set(got) == set(want), name
        for k, (inter, jacc) in want.items():
            assert got[k][0] == inter, (name, k)
            assert got[k][1] == pytest.approx(jacc, abs=1e-9), (name, k)
