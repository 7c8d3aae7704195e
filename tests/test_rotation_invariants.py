"""Order invariant of ``suite.QUERIES``: the declared rows-only sketch
queries (no oracle, so no hash to earn) come last, after every hash-able
query.  This is a property of the module's import-time state, so the
test needs no SparkSession.
"""

from __future__ import annotations

from datafusion_functions_extra_spark import suite

ROWS_ONLY = {"price_quantiles_approx", "approx_distinct_users"}


def test_rows_only_dead_last():
    names = list(suite.QUERIES)
    ranks = {n: i for i, n in enumerate(names)}
    n_total = len(names)
    for n in ROWS_ONLY:
        assert n in suite.QUERIES and n not in suite.ORACLES
        r = ranks[n]
        assert r >= n_total - len(ROWS_ONLY), (
            f"{n} is not dead-last (rank {r}/{n_total}) — it can never "
            "earn a hash, so an earlier slot is a wasted oracle check"
        )
