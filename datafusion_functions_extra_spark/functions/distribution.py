"""Global distribution primitives without single-partition windows.

A global cumulative sum (the backbone of exact percentiles, CDF tables,
and budget curricula) is usually written as ``sum(x) OVER (ORDER BY k)``
— which Spark executes by moving the WHOLE relation to one partition
(``WindowExec: No Partition Defined``).  Fine for a 10-row rollup, a
driver-killer for an unbounded one.  :func:`global_cumsum` is the
two-phase form that scales: range-repartition on the key so partition p
holds a contiguous key slice, cumulative-sum LOCALLY in parallel, then
lift per-partition totals into broadcast offsets (a <= #partitions-row
relation — the only globally-ordered structure).  Same trick as
``functions.text.build_vocab``'s ranking, factored out because exact
distribution queries keep needing it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import leaf


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    ascending: bool = True,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` in ``order_col``
    order (inclusive of the current row), without ever collapsing the
    relation to one partition.

    Rows must be unique per ``order_col`` (aggregate first — a cumsum
    over a histogram, which is the scalable shape anyway): range
    boundaries can split equal keys between partitions, which would make
    the local cumsum order-dependent for ties.
    """
    return global_cumsum_multi(
        df, order_col, {out_col: value_col}, ascending=ascending
    )


def global_cumsum_multi(
    df: DataFrame,
    order_col: str,
    cols: dict[str, str],
    ascending: bool = True,
) -> DataFrame:
    """:func:`global_cumsum` over SEVERAL value columns in one pass:
    ``cols`` maps each output column to the value column it accumulates.
    One range shuffle + one pinned layout serves every cumulative sum —
    a Lorenz-curve style query needing both a count CDF and a value CDF
    pays a single two-phase pass instead of two."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # EAGER materialization is a correctness requirement, not an
    # optimization: the ranged relation is consumed TWICE (offsets +
    # join), and ``repartitionByRange`` picks its boundaries by
    # SAMPLING.  Normally exchange reuse makes both consumers share one
    # materialized stage, but a cached (InMemoryTableScan) subtree can
    # defeat the reuse, giving each consumer its OWN range shuffle with
    # slightly different sampled boundaries — local cumsums from one
    # layout then join offsets from another, silently corrupting the
    # global sum (observed at 8 shuffle partitions under
    # docs_perplexity_prune's cached score relation).  localCheckpoint
    # pins one layout for every consumer; the relation is histogram-
    # sized by contract, so the checkpoint job is cheap at any scale.
    ranged = (
        df.repartitionByRange(n_part, *order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(leaf)
    )
    wl = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_names = list(cols)
    local = ranged
    for i, out_col in enumerate(out_names):
        local = local.withColumn(f"_lcum{i}", F.sum(cols[out_col]).over(wl))
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_pid")
        .agg(*[F.sum(cols[o]).alias(f"_n{i}") for i, o in enumerate(out_names)])
        .select(
            "_pid",
            *[
                F.coalesce(F.sum(f"_n{i}").over(wo), F.lit(0)).alias(f"_off{i}")
                for i in range(len(out_names))
            ],
        )
    )
    joined = local.join(F.broadcast(offsets), "_pid")
    for i, out_col in enumerate(out_names):
        joined = joined.withColumn(
            out_col, F.col(f"_off{i}") + F.col(f"_lcum{i}")
        )
    drop = ["_pid"] + [f"_lcum{i}" for i in range(len(out_names))] + [
        f"_off{i}" for i in range(len(out_names))
    ]
    return joined.drop(*drop)


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str,
) -> DataFrame:
    """Add ``out_col`` = global contiguous 1-based ``row_number`` in
    ``order_cols`` order, via the same two-phase shape as
    :func:`global_cumsum`: range repartition -> parallel per-partition
    local rank -> broadcast per-partition row-count offsets.  The key
    tuple must be unique per row (a distinct/aggregated relation) so
    range boundaries cannot split ties.  This is ``build_vocab``'s
    ranking, factored out for any operator that needs a total order over
    an unbounded relation (frequency ranks for prefix-filter similarity
    joins, leaderboards) without a single-partition window.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # eager pin of the sampled range layout — see global_cumsum for the
    # double-consumer boundary-mismatch failure mode this prevents
    ranged = (
        df.repartitionByRange(n_part, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(leaf)
    )
    wl = Window.partitionBy("_pid").orderBy(*order_cols)
    local = ranged.withColumn("_lrn", F.row_number().over(wl))
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(wo), F.lit(0)))
        .select("_pid", "_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_off")
    )


def discrete_percentile_cutoffs(
    hist: DataFrame,
    key_col: str,
    count_col: str,
    quantiles: list[float],
) -> DataFrame:
    """One-row DataFrame of discrete percentile cutoffs ``p_<i>`` over a
    (key, count) histogram, using the explicit lower-order-statistic rank
    ``floor(q * (n - 1)) + 1`` (1-indexed) — the convention both Spark
    and DuckDB reproduce exactly from the same integer arithmetic (no
    engine-internal interpolation).  The histogram gets a two-phase
    :func:`global_cumsum`; everything after is a single tiny aggregate.
    """
    cum = global_cumsum(hist, key_col, count_col, "_cum")
    tot = hist.agg(F.sum(count_col).alias("_tot"))
    withn = cum.crossJoin(F.broadcast(tot))
    aggs = []
    for i, q in enumerate(quantiles):
        num = int(round(q * 100))
        rank = F.floor(F.lit(num) * (F.col("_tot") - 1) / F.lit(100)) + 1
        aggs.append(
            F.min(
                F.when(F.col("_cum") >= rank, F.col(key_col))
            ).alias(f"p_{i}")
        )
    return withn.agg(*aggs)


def rank_sum_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """One-row (n_pos, n_neg, n_scores, auc): ROC AUC of ``score_col``
    as a ranker for binary ``label_col`` via the rank-sum identity
    AUC = (2R⁺ - P(P+1)) / (2PQ) (Mann & Whitney 1947), with midrank
    tie handling.

    Scale shape: the input reduces to a (score -> n, n_pos) histogram;
    the only ordered pass is a two-phase :func:`global_cumsum` over
    distinct scores, and every rank quantity stays in exact integer
    arithmetic (2x-scaled midranks: 2*midrank = 2*cum - n + 1) until
    the single final division — so two engines computing this agree
    bit-for-bit up to that one rounded ratio.
    """
    from .rounding import r6n

    # the histogram is consumed twice (the cumsum AND the totals row);
    # checkpoint it so the input subtree — often a full scoring scan plus
    # an LSH label join — executes once (r10).  Histogram-sized by
    # contract, so the materialization is cheap at any scale.
    h = (
        df.groupBy(score_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("long")).alias("n_pos"),
        )
        .transform(leaf)
    )
    c = global_cumsum(h, score_col, "n", "cum")
    u = c.agg(
        F.sum(
            F.col("n_pos") * (F.lit(2) * F.col("cum") - F.col("n") + F.lit(1))
        ).alias("num2")
    )
    tot = h.agg(
        F.sum("n_pos").cast("long").alias("p"),
        F.sum(F.col("n") - F.col("n_pos")).cast("long").alias("q"),
        F.count(F.lit(1)).alias("ns"),
    )
    return u.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("n_pos"),
        F.col("q").alias("n_neg"),
        F.col("ns").alias("n_scores"),
        r6n(
            (F.col("num2") - F.col("p") * (F.col("p") + 1)).cast("double")
            / (F.lit(2.0) * F.col("p") * F.col("q"))
        ).alias("auc"),
    )
