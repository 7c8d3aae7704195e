"""Distributed k-means (Lloyd iterations) over an embedding column.

The iterative-ML shape on Spark: each iteration is
  assign  — corpus x broadcast(centroids) scored declaratively, argmin
            per vector via one keyed aggregate;
  update  — per-(cluster, dim) mean over the exploded assignments,
            re-assembled into centroid arrays (k x dim rows, tiny).
Centroid relations stay k-row DataFrames end to end — no driver
``collect()`` loop; Spark MLlib's k-means does the same broadcast-
assign/aggregate-update dance imperatively, this is the DataFrame-
declarative equivalent the DuckDB oracle can replicate exactly.

Determinism across engines (the oracle constraint): distances and
centroid means are rounded to 6 dp at every step, argmin ties break on
cluster id, and the initial centroids are corpus rows (deterministic
ids), so both engines walk the identical trajectory.

At 100 TB: assignment is the unavoidable corpus x k scan (k small);
the update aggregate shuffles (cluster, dim) pairs — k*dim rows of
state, independent of corpus size.  Iterations are bounded (2 here);
production would loop until centroid movement < eps, checkpointing
the small centroid relation each round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import leaf
from .similarity import EMBEDDING_DIM, IVF_CENTROID_IDS, _as_double
from ..functions.rounding import r6n, r6n_sql

#: fixed Lloyd iteration count for the suite query
KMEANS_ITERS = 2


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, vec, cluster, dist): nearest centroid per vector,
    distance rounded to 6 dp, ties -> smallest cluster id."""
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "vec",
        "cid",
        F.round(_sq_dist(F.col("vec"), F.col("cvec")), 6).alias("dist"),
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct(F.col("dist"), F.col("cid"))).alias("b"),
        F.first("vec").alias("vec"),  # constant within the group
    )
    return best.select(
        "vec_id", "vec", F.col("b.cid").alias("cluster"), F.col("b.dist").alias("dist")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cluster, dim) means rounded to 6 dp,
    reassembled into (cid, cvec) arrays."""
    dims = assigned.select(
        F.col("cluster").alias("cid"), F.posexplode("vec").alias("pos", "val")
    )
    # avg is a cross-partition sum/count — boundary-nudged rounding keeps
    # the iterated trajectory identical to the oracle (functions/rounding.py)
    means = dims.groupBy("cid", "pos").agg(r6n(F.avg("val")).alias("m"))
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("cvec")
    )


def kmeans_assign(
    emb: DataFrame,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, dist) after ``n_iters`` Lloyd iterations seeded
    from the corpus rows ``centroid_ids`` (cluster = rank of seed id)."""
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    w = Window.orderBy("vec_id")
    centroids = (
        vecs.where(F.col("vec_id").isin(list(centroid_ids)))
        .select(
            (F.row_number().over(w) - 1).alias("cid"), F.col("vec").alias("cvec")
        )
    )
    assigned = _assign(vecs, centroids)
    for _ in range(n_iters - 1):
        centroids = _update(assigned)
        assigned = _assign(vecs, centroids)
    return assigned.select("vec_id", "cluster", "dist")


def _kmeans_cte_body(
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBEDDING_DIM,
) -> str:
    """WITH-body CTE chain ending in ``a{n_iters}(vec_id, vec, cid, dist)``
    — shared by :func:`kmeans_oracle_sql` and the SemDeDup oracle so the
    two queries can never walk different trajectories."""
    ids = ", ".join(str(i) for i in centroid_ids)
    dist = (
        f"round(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (v.vec[i] - c.cvec[i]) * (v.vec[i] - c.cvec[i]))), 6)"
    )
    parts = [
        f"""
v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
      FROM embeddings),
c1 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec AS cvec
       FROM v WHERE vec_id IN ({ids}))"""
    ]
    for it in range(1, n_iters + 1):
        parts.append(
            f"""
d{it} AS (
  SELECT v.vec_id, v.vec, c.cid, {dist} AS dist
  FROM v, c{it} c
),
a{it} AS (
  SELECT vec_id, vec, cid, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, cid ASC) AS rn
    FROM d{it}
  ) WHERE rn = 1
)"""
        )
        if it < n_iters:
            parts.append(
                f"""
u{it} AS (
  SELECT cid, g.i AS pos, {r6n_sql(f'avg(vec[g.i])')} AS m
  FROM a{it}, generate_series(1, {dim}) g(i)
  GROUP BY cid, g.i
),
c{it + 1} AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM u{it} GROUP BY cid)"""
            )
    return ",".join(parts)


def kmeans_oracle_sql(
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBEDDING_DIM,
) -> str:
    """DuckDB mirror: identical seeding, rounding, and tie-breaks."""
    body = _kmeans_cte_body(centroid_ids, n_iters, dim)
    return f"WITH {body}\nSELECT vec_id, cid AS cluster, dist FROM a{n_iters}"


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI) — the vector-compression half of
# IVF-PQ indexes (FAISS's workhorse layout).
# ---------------------------------------------------------------------------

#: PQ layout for the suite query: 64-dim vectors split into 4 subspaces
#: of 16 dims, 8-centroid codebook per subspace (2 bytes of code per
#: vector at this size; 1 byte each with k=256 in production)
PQ_SUBSPACES = 4
PQ_SUB_DIM = EMBEDDING_DIM // PQ_SUBSPACES
PQ_SEED_IDS: tuple[int, ...] = tuple(range(100, 108))
PQ_ITERS = 2


def _pq_train_sub(vecs: DataFrame, seed_ids, n_iters: int):
    """(codebook, codes) for ONE subspace: Lloyd iterations identical in
    shape to :func:`kmeans_assign`, returning the FINAL centroid relation
    alongside the final assignment."""
    w = Window.orderBy("vec_id")
    centroids = (
        vecs.where(F.col("vec_id").isin(list(seed_ids)))
        .select(
            (F.row_number().over(w) - 1).alias("cid"), F.col("vec").alias("cvec")
        )
    )
    for _ in range(n_iters - 1):
        centroids = _update(_assign(vecs, centroids))
    # the final k-row centroid relation is consumed twice (codebook
    # output AND the final assign) — eager-checkpoint it so each
    # subspace's Lloyd chain executes once AND collapses to an 8-row
    # leaf in every consumer's analyzed plan (r10: a lazy persist
    # re-inlined four subspaces' Lloyd chains into a 1,390-line /
    # 122-Exchange pq_adc_topk plan)
    centroids = leaf(centroids)
    return centroids, _assign(vecs, centroids)


def pq_codebooks_and_codes(
    emb: DataFrame,
    n_sub: int = PQ_SUBSPACES,
    sub_dim: int = PQ_SUB_DIM,
    seed_ids: tuple[int, ...] = PQ_SEED_IDS,
    n_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train per-subspace codebooks and encode the corpus.

    Returns ``(codebooks, codes)``: ``codebooks`` is the (sub, cid,
    cvec) relation — n_sub x k rows, the entire index metadata, always
    broadcastable; ``codes`` is (vec_id, sub, code) — the compressed
    corpus, n_sub small integers per vector (the 100 TB point: 8 B of
    code replaces 256 B of float32, and every downstream distance scan
    touches only codes + the broadcast codebook).  Each subspace slice
    trains independently with the deterministic Lloyd recipe of
    :func:`kmeans_assign` (6-dp rounding, min-(dist, cid) ties, corpus-row
    seeds) so the DuckDB oracle can replay the exact trajectory."""
    books = None
    codes = None
    for sub in range(n_sub):
        vecs = emb.select(
            F.col(id_col).alias("vec_id"),
            _as_double(F.slice(F.col(vec_col), sub * sub_dim + 1, sub_dim)).alias(
                "vec"
            ),
        )
        centroids, assigned = _pq_train_sub(vecs, seed_ids, n_iters)
        b = centroids.select(F.lit(sub).alias("sub"), "cid", "cvec")
        c = assigned.select(
            "vec_id", F.lit(sub).alias("sub"), F.col("cluster").alias("code")
        )
        books = b if books is None else books.unionAll(b)
        codes = c if codes is None else codes.unionAll(c)
    return books, codes


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_sub: int = PQ_SUBSPACES,
    sub_dim: int = PQ_SUB_DIM,
    seed_ids: tuple[int, ...] = PQ_SEED_IDS,
    n_iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: (q_id,
    neighbor_id, adc_dist, rank).

    The query keeps its exact sub-vectors; per (query, sub, centroid)
    partial squared distances form a (|Q| x n_sub x k)-row LOOKUP TABLE
    — broadcast — and each corpus vector's distance is the sum of
    n_sub table entries selected by its codes: a broadcast hash join on
    (sub, code) + one keyed sum, never a per-pair vector scan.  Partial
    distances are fixed-point micro-units (round(d * 1e6) as BIGINT) so
    the 4-term sum is INTEGER-exact and the ranking deterministic across
    engines and summation orders; ties break on neighbor id."""
    from pyspark.sql import Window as W

    books, codes = pq_codebooks_and_codes(
        emb, n_sub, sub_dim, seed_ids, n_iters, id_col, vec_col
    )
    qsubs = None
    for sub in range(n_sub):
        qs = emb.where(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("q_id"),
            F.lit(sub).alias("sub"),
            _as_double(F.slice(F.col(vec_col), sub * sub_dim + 1, sub_dim)).alias(
                "qv"
            ),
        )
        qsubs = qs if qsubs is None else qsubs.unionAll(qs)
    pd = qsubs.join(books, "sub").select(
        "q_id",
        "sub",
        F.col("cid").alias("code"),
        F.round(_sq_dist(F.col("qv"), F.col("cvec")) * 1_000_000)
        .cast("long")
        .alias("pdi"),
    )
    adc = (
        codes.join(F.broadcast(pd), ["sub", "code"])
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("neighbor_id"))
        .agg((F.sum("pdi") / 1_000_000.0).alias("adc_dist"))
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "q_id", "neighbor_id", "adc_dist", F.col("rank").cast("int").alias("rank")
        )
    )


def _pq_sub_cte(sub: int, sub_dim: int, seed_ids, n_iters: int) -> str:
    """Per-subspace Lloyd CTE chain (prefix ``s{sub}_``) mirroring
    :func:`_pq_train_sub` — the sliced-input sibling of
    :func:`_kmeans_cte_body`."""
    p = f"s{sub}_"
    lo, hi = sub * sub_dim + 1, (sub + 1) * sub_dim
    ids = ", ".join(str(i) for i in seed_ids)
    dist = (
        f"round(list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (v.vec[i] - c.cvec[i]) * (v.vec[i] - c.cvec[i]))), 6)"
    )
    parts = [
        f"""
{p}v AS (SELECT vec_id, list_transform(embedding[{lo}:{hi}], x -> x::DOUBLE) AS vec
      FROM embeddings),
{p}c1 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec AS cvec
       FROM {p}v WHERE vec_id IN ({ids}))"""
    ]
    for it in range(1, n_iters + 1):
        parts.append(
            f"""
{p}d{it} AS (
  SELECT v.vec_id, v.vec, c.cid, {dist} AS dist
  FROM {p}v v, {p}c{it} c
),
{p}a{it} AS (
  SELECT vec_id, vec, cid, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist ASC, cid ASC) AS rn
    FROM {p}d{it}
  ) WHERE rn = 1
)"""
        )
        if it < n_iters:
            parts.append(
                f"""
{p}u{it} AS (
  SELECT cid, g.i AS pos, {r6n_sql(f'avg(vec[g.i])')} AS m
  FROM {p}a{it}, generate_series(1, {sub_dim}) g(i)
  GROUP BY cid, g.i
),
{p}c{it + 1} AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM {p}u{it} GROUP BY cid)"""
            )
    return ",".join(parts)


def pq_adc_topk_oracle_sql(
    query_ids: list[int],
    k: int = 5,
    n_sub: int = PQ_SUBSPACES,
    sub_dim: int = PQ_SUB_DIM,
    seed_ids: tuple[int, ...] = PQ_SEED_IDS,
    n_iters: int = PQ_ITERS,
) -> str:
    """DuckDB mirror of :func:`pq_adc_topk`: identical per-subspace
    trajectories, fixed-point partial distances, integer-exact sums."""
    subs = ",".join(
        _pq_sub_cte(sub, sub_dim, seed_ids, n_iters) for sub in range(n_sub)
    )
    codes = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, cid AS code FROM s{s}_a{n_iters}"
        for s in range(n_sub)
    )
    books = " UNION ALL ".join(
        f"SELECT {s} AS sub, cid, cvec FROM s{s}_c{n_iters}"
        for s in range(n_sub)
    )
    qids = ", ".join(str(i) for i in query_ids)
    qsubs = " UNION ALL ".join(
        f"SELECT vec_id AS q_id, {s} AS sub, "
        f"list_transform(embedding[{s * sub_dim + 1}:{(s + 1) * sub_dim}], "
        f"x -> x::DOUBLE) AS qv "
        f"FROM embeddings WHERE vec_id IN ({qids})"
        for s in range(n_sub)
    )
    pdist = (
        f"round(list_sum(list_transform(generate_series(1, {sub_dim}), "
        f"i -> (q.qv[i] - b.cvec[i]) * (q.qv[i] - b.cvec[i]))) * 1000000)"
    )
    return f"""
WITH {subs},
codes AS ({codes}),
books AS ({books}),
qs AS ({qsubs}),
pd AS (
  SELECT q.q_id, b.sub, b.cid AS code, CAST({pdist} AS BIGINT) AS pdi
  FROM qs q JOIN books b ON q.sub = b.sub
),
adc AS (
  SELECT pd.q_id, c.vec_id AS neighbor_id, sum(pdi) / 1000000.0 AS adc_dist
  FROM codes c JOIN pd ON c.sub = pd.sub AND c.code = pd.code
  WHERE c.vec_id <> pd.q_id
  GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc
)
SELECT q_id, neighbor_id, adc_dist, rank::INT AS rank FROM r WHERE rank <= {k}
"""


#: SemDeDup within-cluster cosine cut — above the corpus p99 (~0.29) so the
#: drop set is the true near-duplicate tail, not the bulk
SEMDEDUP_THRESHOLD = 0.3


def semdedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, kept) — SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): semantic deduplication by clustering embeddings
    (k-means, shared trajectory with :func:`kmeans_assign`) then dropping,
    *within each cluster only*, any vector that has a smaller-id neighbor
    at cosine >= ``threshold`` (deterministic min-id keep, the same rule
    as the MinHash ``near_dup_clusters`` keep step).

    The pair search is restricted to cluster blocks — cost
    sum_c n_c^2 instead of corpus^2, and each block's self-join is a
    plain equi-join on the cluster id.  At 100 TB the cluster count
    scales with the corpus (k ~ n / target_block_size, e.g. ~100k
    clusters) so blocks stay bounded; here k is the suite's fixed 16-seed
    IVF grid to keep the oracle trajectory exact.  Cosines are rounded to
    6 dp before the threshold compare (cross-engine determinism, same as
    ``embedding_near_dup_pairs``).
    """
    from .similarity import cosine

    # r10: persist the trajectory and the (assignment, vec) relation —
    # the cluster-blocked self-join reads j from BOTH sides and the final
    # select references assigned a third time; unpinned, each reference
    # re-executed the full n_iters Lloyd trajectory (measured 8.7s -> 3.3s
    # warm at sf0.1, bit-identical output)
    assigned = kmeans_assign(emb, centroid_ids, n_iters, id_col, vec_col).persist()
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    j = assigned.join(vecs, "vec_id").persist()
    a = j.select(
        F.col("vec_id").alias("id_a"), F.col("cluster"), F.col("vec").alias("v_a")
    )
    b = j.select(
        F.col("vec_id").alias("id_b"), F.col("cluster"), F.col("vec").alias("v_b")
    )
    dropped = (
        a.join(b, "cluster")
        .where(F.col("id_b") < F.col("id_a"))
        .where(F.round(cosine(F.col("v_a"), F.col("v_b")), 6) >= F.lit(threshold))
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("is_dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("is_dropped").isNull().alias("kept"),
        )
    )


def semdedup_oracle_sql(
    threshold: float = SEMDEDUP_THRESHOLD,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBEDDING_DIM,
) -> str:
    """DuckDB mirror of :func:`semdedup` over the shared k-means CTE body."""
    cos = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> a.vec[i] * b.vec[i])) / "
        f"(sqrt(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> a.vec[i] * a.vec[i]))) * "
        f"sqrt(list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> b.vec[i] * b.vec[i]))))"
    )
    body = _kmeans_cte_body(centroid_ids, n_iters, dim)
    return f"""
WITH {body},
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM a{n_iters} a JOIN a{n_iters} b
    ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE round({cos}, 6) >= {threshold}
)
SELECT a.vec_id, a.cid AS cluster, d.vec_id IS NULL AS kept
FROM a{n_iters} a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


def kmeans_silhouette(
    emb: DataFrame,
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, n_vecs, mean_silhouette): simplified (centroid-based)
    silhouette per k-means cluster (Rousseeuw 1987's score with the
    cluster-mean distance replaced by the distance to the cluster
    CENTROID — the O(n*k) variant that scales where the classic O(n^2)
    pairwise form cannot): a = dist to own centroid, b = min dist to any
    other centroid, s = (b - a) / max(a, b).

    Runs the same Lloyd trajectory as :func:`kmeans_assign` (identical
    seeding, 6-dp-rounded distances and centroid means), then ONE extra
    broadcast cross of vectors x k centroids for the b-distances — so
    the oracle can replay it exactly from the shared
    :func:`_kmeans_cte_body` chain."""
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    w = Window.orderBy("vec_id")
    centroids = (
        vecs.where(F.col("vec_id").isin(list(centroid_ids)))
        .select(
            (F.row_number().over(w) - 1).alias("cid"), F.col("vec").alias("cvec")
        )
    )
    assigned = _assign(vecs, centroids)
    for _ in range(n_iters - 1):
        centroids = _update(assigned)
        assigned = _assign(vecs, centroids)
    # the final centroid relation is consumed twice (the last assign
    # above and the all-pairs scoring below) — pin it so both consumers
    # see one materialization (k rows; the §9.1 double-consumer lesson)
    centroids = leaf(centroids)
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cid",
        F.round(_sq_dist(F.col("vec"), F.col("cvec")), 6).alias("dist"),
    )
    b = (
        scored.join(assigned.select("vec_id", "cluster"), "vec_id")
        .where(F.col("cid") != F.col("cluster"))
        .groupBy("vec_id")
        .agg(F.min("dist").alias("bsq"))
    )
    a_d = F.sqrt(F.col("asq"))
    b_d = F.sqrt(F.col("bsq"))
    mx = F.greatest(a_d, b_d)
    s = (
        assigned.select("vec_id", "cluster", F.col("dist").alias("asq"))
        .join(b, "vec_id")
        .select(
            "cluster",
            F.when(mx == 0, F.lit(0.0)).otherwise((b_d - a_d) / mx).alias("sil"),
        )
    )
    return s.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        r6n(F.avg("sil")).alias("mean_silhouette"),
    )


def kmeans_silhouette_oracle_sql(
    centroid_ids: tuple[int, ...] = IVF_CENTROID_IDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMBEDDING_DIM,
) -> str:
    """DuckDB mirror off the shared Lloyd CTE chain: ``d{n}`` already
    holds every (vector, centroid) distance for the final round, so b is
    one anti-self min over it."""
    body = _kmeans_cte_body(centroid_ids, n_iters, dim)
    n = n_iters
    return f"""
WITH {body},
bmin AS (
  SELECT d.vec_id, min(d.dist) AS bsq
  FROM d{n} d JOIN a{n} a ON a.vec_id = d.vec_id AND d.cid <> a.cid
  GROUP BY 1
),
sil AS (
  SELECT a.cid,
         CASE WHEN greatest(sqrt(a.dist), sqrt(b.bsq)) = 0 THEN 0.0
              ELSE (sqrt(b.bsq) - sqrt(a.dist))
                   / greatest(sqrt(a.dist), sqrt(b.bsq)) END AS sil
  FROM a{n} a JOIN bmin b USING (vec_id)
)
SELECT cid AS cluster, count(*)::BIGINT AS n_vecs,
       {r6n_sql('avg(sil)')} AS mean_silhouette
FROM sil GROUP BY 1
"""
