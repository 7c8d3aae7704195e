"""cache.loop_conf and cache.leaf contract.

Inside a loop_conf scope AQE is off and the shuffle partition count is
the widest leaf's partition count; on the way out, even when the body
raises, both session confs return to their prior values.  ``leaf`` runs
its checkpoint job before it returns everywhere except inside a
loop_conf scope, where it runs none.  No module of the package calls
``localCheckpoint`` except through ``leaf``."""

from __future__ import annotations

import ast
import pathlib
import time

import pytest

import datafusion_functions_extra_spark
from datafusion_functions_extra_spark.cache import leaf, loop_conf


def test_loop_conf_scopes_and_restores_session_confs(spark):
    aqe, parts = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    prev = (spark.conf.get(aqe), spark.conf.get(parts))
    leaves = [spark.range(0, 10, 1, n) for n in (3, 7, 2)]
    with pytest.raises(RuntimeError, match="loop body failed"):
        with loop_conf(spark, *leaves):
            assert spark.conf.get(aqe) == "false"
            assert spark.conf.get(parts) == "7"
            raise RuntimeError("loop body failed")
    assert (spark.conf.get(aqe), spark.conf.get(parts)) == prev


def _leaf_jobs(spark, group):
    """Take a leaf of a fresh DataFrame under job group ``group`` and
    return how many jobs it ran.  A marker job in a second group runs
    after it; status events arrive in order, so once the marker shows,
    every job the leaf ran shows too."""
    sc = spark.sparkContext
    df = spark.range(0, 100, 1, 2).selectExpr("id * 2 AS v")
    try:
        sc.setJobGroup(group, group)
        out = leaf(df)
        sc.setJobGroup(group + "-marker", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.time() < deadline, "marker job never reported"
        time.sleep(0.05)
    assert sorted(r.v for r in out.collect()) == list(range(0, 200, 2))
    return len(tracker.getJobIdsForGroup(group))


def test_leaf_is_eager_outside_loop_conf_and_lazy_inside(spark):
    assert _leaf_jobs(spark, "leaf-before") >= 1
    seed = spark.range(0, 10, 1, 2)
    with loop_conf(spark, seed):
        assert _leaf_jobs(spark, "leaf-inside") == 0
    assert _leaf_jobs(spark, "leaf-after") >= 1
    with pytest.raises(RuntimeError, match="loop body failed"):
        with loop_conf(spark, seed):
            raise RuntimeError("loop body failed")
    assert _leaf_jobs(spark, "leaf-after-raise") >= 1


def _local_checkpoint_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]


def test_no_local_checkpoint_outside_cache():
    """Every materialization goes through cache.leaf: a direct
    ``.localCheckpoint(`` call anywhere else in the package (comments
    and docstrings do not count) is a second decision point."""
    pkg = pathlib.Path(datafusion_functions_extra_spark.__file__).parent
    found = {}
    for p in sorted(pkg.rglob("*.py")):
        if p != pkg / "cache.py" and (lines := _local_checkpoint_calls(p)):
            found[str(p.relative_to(pkg))] = lines
    assert found == {}
    assert _local_checkpoint_calls(pkg / "cache.py")
