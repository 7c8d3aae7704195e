"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 (or --sf-dir), then compares row count, sorted column names, and
order-insensitive values.  Floats are compared bit-exact first (what a
value-hash sees) and with 1e-9 relative tolerance second, so any query
relying on tolerance is flagged before the driver sees it.

Usage: python tools/check_correctness.py [--sf-dir DIR] [--only name[,name]]
"""

from __future__ import annotations

import argparse
import math
import struct
import sys
import time

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _dtype_kind(dt) -> str:
    """Collapse a pandas dtype to the class the driver's value-hash is
    sensitive to: int 99111 and float 99111.0 format differently, so an
    int-vs-float mismatch (e.g. DuckDB sum(BIGINT) -> HUGEINT -> float64)
    is a hash FAIL even when values compare numerically equal."""
    k = getattr(dt, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> dict:
    out = {"name": name, "rows": len(spark_pd) == len(duck_pd)}
    if not out["rows"]:
        out["detail"] = f"rows spark={len(spark_pd)} duck={len(duck_pd)}"
        return out
    s, d = normalize(spark_pd), normalize(duck_pd)
    out["schema"] = list(s.columns) == list(d.columns)
    if not out["schema"]:
        out["detail"] = f"cols spark={list(s.columns)} duck={list(d.columns)}"
        return out
    # dtype-class gate: the driver's hash serializes values, so an int64
    # column on one side vs float64 on the other fails there even though a
    # numeric comparison passes.  Make the local replica dominate.
    for c in s.columns:
        sk, dk = _dtype_kind(s[c].dtype), _dtype_kind(d[c].dtype)
        if sk != dk:
            out["schema"] = False
            out["detail"] = (
                f"dtype col {c}: spark={s[c].dtype}({sk}) != duck={d[c].dtype}({dk})"
            )
            return out
    exact = True
    approx = True
    worst = 0.0
    for c in s.columns:
        for a, b in zip(s[c].tolist(), d[c].tolist()):
            if a is None and b is None:
                continue
            if isinstance(a, float) or isinstance(b, float):
                # NaN and NULL both surface as float('nan') in a float64
                # pandas column, so they are indistinguishable here — but
                # they are also indistinguishable to the driver (same
                # toPandas/fetchdf materialization), so treating them as
                # equal matches the hash.  A *value* vs nan/NULL mismatch
                # still fails below.
                an = a is None or (isinstance(a, float) and math.isnan(a))
                bn = b is None or (isinstance(b, float) and math.isnan(b))
                if an or bn:
                    if an != bn:
                        exact = approx = False
                        out.setdefault(
                            "detail", f"col {c}: null/nan {a!r} != {b!r}"
                        )
                    continue
                # Bit-pattern compare, not ==: the driver's value-hash
                # serializes the float, so 0.0 vs -0.0 (identical under ==)
                # is a hash FAIL there — r03 proved it live on
                # events_user_trend.  NaNs were carved out above.
                if struct.pack(">d", a) != struct.pack(">d", b):
                    exact = False
                    diff = abs(a - b) / max(1.0, abs(b))
                    worst = max(worst, diff)
                    if diff > 1e-9:
                        approx = False
                    elif a == b:
                        # bit mismatch with numeric equality == signed zero
                        approx = False
                        out.setdefault(
                            "detail", f"col {c}: signed zero {a!r} != {b!r}"
                        )
            elif a != b:
                exact = approx = False
                out.setdefault("detail", f"col {c}: {a!r} != {b!r}")
    out["exact"] = exact
    out["approx"] = approx
    if worst:
        out["worst_float_rel_diff"] = worst
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a plain SparkSession.builder session (no get_spark tuning), "
        "replicating the driver's environment so builder-only config drift "
        "is caught locally",
    )
    args = ap.parse_args()

    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod
    from datafusion_functions_extra_spark.sources import TABLES, get_spark

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-correctness-vanilla")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check-correctness", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pd = fn(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # per-query persist() lifetimes end here (see bench.py note);
            # name every query that left a relation in the CacheManager
            if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
                print(f"cache {name}: persisted relations left in the CacheManager")
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"weak  {name}: rows={len(spark_pd)} (no oracle, rows-only check)")
            continue
        try:
            duck_pd = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        r = compare(name, spark_pd, duck_pd)
        ok = r.get("rows") and r.get("schema") and r.get("approx")
        status = "OK   " if r.get("exact") else ("okapx" if ok else "FAIL ")
        if not ok:
            failures += 1
        extra = r.get("detail", "")
        if "worst_float_rel_diff" in r:
            extra += f" worst_rel={r['worst_float_rel_diff']:.2e}"
        print(
            f"{status} {name}: rows={len(spark_pd)} {extra} ({time.time()-t0:.1f}s)"
        )
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
