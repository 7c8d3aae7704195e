"""Capture INNER-ROUND plans for checkpoint-loop queries (VERDICT r10
item 6: the final plan of a loop query is just leaves, so join-strategy
claims about the per-round work were unauditable from plans/).

Monkeypatches DataFrame.localCheckpoint to record the formatted plan of
every DataFrame being checkpointed while a query builds/runs, then
writes the recorded plans to plans/<out-dir>/<name>_rounds.txt.  Every
leaf of the package goes through cache.leaf, which makes exactly one
localCheckpoint call, so the count it writes is the query's leaf count
(eager and lazy alike).

Usage: python tools/dump_loop_plans.py --names a,b --out-dir plans/r11
       [--sf-dir DIR] [--max-plans 4]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out-dir", default="plans/r11")
    ap.add_argument("--max-plans", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql.classic.dataframe import DataFrame

    from datafusion_functions_extra_spark import suite
    from datafusion_functions_extra_spark.sources import get_spark

    spark = get_spark("dump-loop-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out_dir, exist_ok=True)

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def recording(self, eager=True):
        try:
            txt = self._sc._jvm.PythonSQLUtils.explainString(
                self._jdf.queryExecution(), "formatted"
            )
            captured.append(txt)
        except Exception as exc:  # noqa: BLE001 — capture must never break the query
            captured.append(f"<explain failed: {exc}>")
        return orig(self, eager=eager)

    DataFrame.localCheckpoint = recording
    try:
        for name in args.names.split(","):
            captured.clear()
            df = suite.QUERIES[name](spark, args.sf_dir)
            # touch the final plan too so lazy loops are fully built
            final = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.out_dir, f"{name}_rounds.txt")
            with open(path, "w") as f:
                n = len(captured)
                f.write(
                    f"== {name}: {n} localCheckpoint call(s) during build; "
                    f"first {min(n, args.max_plans)} inner plans below, "
                    "then the final (consumer-visible) plan ==\n\n"
                )
                for i, txt in enumerate(captured[: args.max_plans]):
                    f.write(f"---- checkpoint {i} ----\n{txt}\n")
                f.write(f"---- final plan ----\n{final}\n")
            print(f"wrote {path} ({n} checkpoints captured)")
            spark.catalog.clearCache()
    finally:
        DataFrame.localCheckpoint = orig
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
