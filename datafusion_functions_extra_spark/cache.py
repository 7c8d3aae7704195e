"""How intermediates are materialized: every leaf goes through :func:`leaf`,
lazy inside a :func:`loop_conf` scope and eager everywhere else."""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

#: True while a loop_conf scope is open
_IN_LOOP: ContextVar[bool] = ContextVar("in_loop", default=False)


def leaf(df):
    """Truncate ``df``'s lineage to a ``localCheckpoint`` (flat plans, each
    leaf computed once; SURVEY §11.1 states the fault-tolerance trade).
    Outside :func:`loop_conf` the checkpoint job runs now, so consumers
    plan against a materialized relation; inside it the checkpoint is
    lazy, so a round's leaves chain and the round's one action (or the
    consumer's final collect) executes them as one job."""
    return df.localCheckpoint(eager=not _IN_LOOP.get())


@contextmanager
def loop_conf(spark, *leaves):
    """Scope an iterative driver loop (components, pagerank, greedy
    selection, GD): AQE off + a static shuffle-partition count derived
    from the materialized input LEAVES' own partitioning (itself
    AQE-coalesced from bytes when the leaf was checkpointed) —
    scale-adaptive, not a constant: a 100 TB edge leaf keeps its
    thousands of partitions, a bench-scale graph gets 1.  Every
    :func:`leaf` taken inside the scope is lazy.

    Why: with AQE on, EVERY eager checkpoint inside a loop materializes
    each of its 2-4 exchanges as a separate job and re-plans between them
    (spatial_dbscan measured 107 jobs/query, r11); the loop relations are
    leaves whose sizes are already known, so per-round re-optimization
    buys nothing.  Session confs are saved/restored (the streaming
    drain's pattern); results are partitioning-invariant (keyed
    joins/aggregates).
    """
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(df.rdd.getNumPartitions() for df in leaves)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    token = _IN_LOOP.set(True)
    try:
        yield
    finally:
        _IN_LOOP.reset(token)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
