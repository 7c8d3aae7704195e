"""cache.loop_conf contract: inside the scope AQE is off and the shuffle
partition count is the widest leaf's partition count; on the way out,
even when the body raises, both session confs return to their prior
values."""

from __future__ import annotations

import pytest

from datafusion_functions_extra_spark.cache import loop_conf


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
