"""Session scoping for iterative driver loops."""

from __future__ import annotations


def loop_conf(spark, *leaves):
    """Context manager scoping an iterative driver loop (components,
    pagerank, greedy selection, GD): AQE off + a static shuffle-partition
    count derived from the materialized input LEAVES' own partitioning
    (itself AQE-coalesced from bytes when the leaf was checkpointed) —
    scale-adaptive, not a constant: a 100 TB edge leaf keeps its
    thousands of partitions, a bench-scale graph gets 1.

    Why: with AQE on, EVERY eager localCheckpoint inside a loop
    materializes each of its 2-4 exchanges as a separate job and re-plans
    between them (spatial_dbscan measured 107 jobs/query, r11); the loop
    relations are leaves whose sizes are already known, so per-round
    re-optimization buys nothing.  With AQE off, a round's lazy
    checkpoints chain and the round's one action (or the consumer's final
    collect) executes them as ONE job.  Session confs are saved/restored
    (the streaming drain's pattern); results are partitioning-invariant
    (keyed joins/aggregates).
    """
    from contextlib import contextmanager

    @contextmanager
    def _scope():
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        parts = max(df.rdd.getNumPartitions() for df in leaves)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    return _scope()
