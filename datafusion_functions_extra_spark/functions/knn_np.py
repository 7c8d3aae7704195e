"""The exact-kNN pair scorer the suite hands to ``mapInPandas``; its
worker calls :func:`round6_scaled`, so ``functions/__init__.py``
registers this module for by-value pickling."""

from __future__ import annotations


#: output schema of the exact pair scorer (raw = UNROUNDED unit dot; the
#: 6-dp snap stays a JVM F.round so the published `cos` column is produced
#: by exactly the same expression as before the r10 rewrite)
PAIR_SCORE_SCHEMA = (
    "vec_id long, true_label int, neighbor_id long, n_label int, raw double"
)


def round6_scaled(x):
    """Exact replica of JVM ``round(double, 6)`` (Spark's
    ``BigDecimal.valueOf(d).setScale(6, HALF_UP)``) as a scaled int64:
    returns round6(x) * 1e6 as integers.  Fast path: half-away-from-zero
    on x*1e6 — exact except within ~1e-10 of a .5 boundary, where the
    double multiply's rounding (<=2^-52*1e6) or the shortest-decimal-repr
    delta (<=ulp(x)*1e6) could flip the bucket; a 1e-8 guard band routes
    those rows through Python's Decimal on repr(x), which IS Java's
    ``Double.toString`` shortest decimal, with ROUND_HALF_UP == Java
    HALF_UP.  Used only to SELECT rows worker-side; the emitted value is
    re-rounded by the JVM, so a fast-path bug could at worst mis-select,
    never mis-value — and selection is oracle-verified per query."""
    import numpy as np

    y = x * 1e6
    n = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5))
    band = np.abs((y - np.floor(y)) - 0.5) < 1e-8
    if band.any():
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        exact = [
            int(
                Decimal(repr(float(v)))
                .quantize(q6, rounding=ROUND_HALF_UP)
                .scaleb(6)
            )
            for v in x[band]
        ]
        n[band] = exact
    return n.astype(np.int64)


def emb_pair_scorer(sf_dir, top_k):
    """Arrow-batched exact cosine pair scorer over the embeddings table
    (guide §4.2: Spark distributes the query vectors; NumPy scores whole
    blocks).  Each task reads the full (small, eval-harness-sized)
    embeddings parquet once — the same all-vectors-everywhere economics
    as the broadcast join it replaces — and scores its batch of query
    vectors against every other vector.

    SCALE GATE (r11, VERDICT r10 issue 3): the per-TASK full-table read
    is O(N) memory per task and O(N x tasks) re-read — correct ONLY for
    the eval-sized exact-kNN harness this feeds (quadratic by design;
    the production path is the ANN variant, embedding_knn_shapley_ann).
    At corpus scale the guide §4.5 shape is: load the reference matrix
    once per WORKER via a module-global keyed on (pid, path) — or
    broadcast it — never per task; this helper must not be pointed at a
    production-sized table as-is.

    Bit-exactness contract (verified 0 mismatches over all 1,999,000
    sf0.1 half-pairs vs the prior JVM HOF plan): float32 -> float64 cast
    is exact; the norm is a SEQUENTIAL fold acc+=x_i*x_i over dims (same
    order as SIM._norm's F.aggregate), unit division elementwise, and the
    dot a sequential fold acc+=u_i*v_i (same as SIM._dot) — NumPy
    elementwise multiply/add are the same IEEE-754 double ops the JVM
    executes, with no FMA fusion and no matmul reassociation, so every
    raw dot is bit-identical.

    top_k=None emits all half pairs (neighbor_id > vec_id);
    top_k=k emits each query vector's exact top-k neighbors by
    (round6(cos) DESC, neighbor_id ASC) — the suite's round-before-rank
    convention — selected worker-side via round6_scaled."""

    def score(batches):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet",
            columns=["vec_id", "embedding", "label"],
        )
        ids = t.column("vec_id").to_numpy()
        labels = t.column("label").to_numpy()
        X = np.array(
            t.column("embedding").to_pylist(), dtype=np.float32
        ).astype(np.float64)
        acc = np.zeros(len(X))
        for i in range(X.shape[1]):
            acc = acc + X[:, i] * X[:, i]
        U = X / np.sqrt(acc)[:, None]
        pos = {int(v): k for k, v in enumerate(ids)}
        ids64 = ids.astype(np.int64)
        for pdf in batches:
            q = pdf["vec_id"].to_numpy()
            rows = np.array([pos[int(v)] for v in q], dtype=np.int64)
            A = U[rows]
            d = np.zeros((len(rows), len(U)))
            for i in range(U.shape[1]):
                d = d + A[:, i][:, None] * U[:, i][None, :]
            if top_k is None:
                r, c = np.nonzero(ids[None, :] > q[:, None])
            else:
                r6i = round6_scaled(d)
                # composite int64 sort key: round6-scaled cos DESC then
                # neighbor id ASC (gap 1e7 >> max id); self sorts last
                key = -r6i * np.int64(10_000_000) + ids64[None, :]
                key[ids64[None, :] == q.astype(np.int64)[:, None]] = np.iinfo(
                    np.int64
                ).max
                order = np.argsort(key, axis=1, kind="stable")[:, :top_k]
                keep = (
                    np.take_along_axis(key, order, axis=1)
                    != np.iinfo(np.int64).max
                )
                r = np.repeat(np.arange(len(rows)), order.shape[1])[
                    keep.ravel()
                ]
                c = order.ravel()[keep.ravel()]
            yield pd.DataFrame(
                {
                    "vec_id": q[r],
                    "true_label": labels[rows][r].astype("int32"),
                    "neighbor_id": ids[c],
                    "n_label": labels[c].astype("int32"),
                    "raw": d[r, c],
                }
            )

    return score
