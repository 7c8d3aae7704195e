"""One benchmark run: a fresh Spark session running one workload.

Started by ``run.py`` with a clean ``TMPDIR``, Spark local dir and warehouse
inside the run area.  A single closed-loop client runs the workload's
queries one after another:

1. set-up: import, session start, one untimed warm-up pass over a small
   copy of the data, stage-table builds (``setup_s``);
2. one cold pass at the target scale (``cold_query_s``), with per-query
   leak counts taken after each query;
3. a fixed number of warm passes (``query_s``, ``pass_s``, ``slowdown``),
   at least three, so that each query's median is one of its own samples;
4. untimed: every query's cold result is checked against its DuckDB oracle
   (``suite.ORACLES``) over the same data dir, and every warm result must
   return the cold result's row count (``ok_frac``).

Each query is timed at the library's public boundaries: ``fn(spark, dir)``
(build), ``df._jdf.queryExecution().executedPlan()`` (plan) and
``df.collect()`` (collect).  With ``--trace`` the session writes a JSON
event log and a ``streaming.metrics.MetricsRecorder`` listens; ``eventlog.py``
attributes the logged jobs to those phases.  The result is written as JSON
to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Per workload: the queries of one pass in run order, the stage tables built
# during set-up, and the measured length of one warm pass on a 4-core host,
# which turns --seconds into a fixed number of warm passes so that both
# sides of a comparison do the same work.
WORKLOADS = {
    # Fixed-cost regime: py4j build, planning and per-job overhead dominate.
    # The six reference aggregates of the paper, plus TPC-H, dedup, text and
    # event queries that each finish in about a second.
    "sf01_light": {
        "queries": [
            "mode_returnflag_global",
            "max_by_customer_global",
            "min_by_supplier_global",
            "skewness_by_returnflag",
            "kurtosis_totalprice_global",
            "kurtosis_pop_by_linestatus",
            "lineitem_pricing_summary",
            "dedup_exact_stats",
            "text_tfidf_top_terms",
            "text_lang_id",
            "text_token_counts",
            "events_sessionization",
        ],
        "stages": [],
        "pass_s": 5.3,
    },
    # Leaf materialization regime: loop checkpoints, a streaming drain's
    # state store and a stage-table probe do most of the work, all inside
    # build, and the drain leaves state behind in the session.
    "sf01_loops": {
        "queries": [
            "spatial_dbscan",
            "events_streaming_tumbling",
            "near_dup_pairs_staged",
        ],
        "stages": ["_staged_sigs"],
        "pass_s": 4.4,
    },
}

# The library keeps its stage tables under this root; the benchmark re-roots
# them into its own run area so every run starts without them.
LIBRARY_STAGE_ROOT = "/tmp/spark_graft_stage"
STAGE_PATH_FUNCS = ("_signature_stage_path", "_curation_out_dir")


def warm_passes(workload: str, seconds: float) -> int:
    # three samples per query at least, so a query's median is one of them
    return max(3, round(seconds / WORKLOADS[workload]["pass_s"]))


def _reroot(fn, new_root: str):
    def rerooted(sf_dir: str) -> str:
        path = fn(sf_dir)
        if not path.startswith(LIBRARY_STAGE_ROOT + "/"):
            raise RuntimeError(f"stage path {path!r} is outside {LIBRARY_STAGE_ROOT}")
        return new_root + path[len(LIBRARY_STAGE_ROOT) :]

    return rerooted


def _tmp_dirs(tmp_dir: str) -> set[str]:
    return {e.name for e in os.scandir(tmp_dir) if e.is_dir()}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def oracle_check(con, name: str, rows, columns, oracle_sql: str, compare) -> dict:
    import pandas as pd

    try:
        duck = con.execute(oracle_sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - a broken oracle is reported, not fatal
        return {"ok": False, "detail": f"duckdb error: {e}"}
    spark_pd = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    r = compare(name, spark_pd, duck)
    ok = bool(r.get("rows") and r.get("schema") and r.get("approx"))
    return {"ok": ok, "exact": bool(r.get("exact")), "detail": r.get("detail", "")}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--warmup-data", required=True)
    ap.add_argument("--area", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tmp_dir = os.environ["TMPDIR"]

    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.join(args.root, "tools"))
    import duckdb
    from check_correctness import compare

    from datafusion_functions_extra_spark import suite
    from datafusion_functions_extra_spark.sources import TABLES, get_spark

    stage_root = os.path.join(args.area, "stage")
    for name in STAGE_PATH_FUNCS:
        setattr(suite, name, _reroot(getattr(suite, name), stage_root))

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    recorder = None
    if args.trace:
        from datafusion_functions_extra_spark.streaming import record_metrics

        recorder = record_metrics(spark)

    # Warm-up at a small scale, untimed and part of set-up: class loading,
    # code generation and the first JIT tiers are paid here, so the cold pass
    # measures each query's first run at the target scale.
    warmup_errors = {}
    for name in wl["queries"]:
        try:
            suite.QUERIES[name](spark, args.warmup_data).collect()
        except Exception as e:  # noqa: BLE001 - counted in failed, not fatal
            warmup_errors[name] = f"{type(e).__name__}: {e}"[:500]
        finally:
            spark.catalog.clearCache()

    t_stage = time.time()
    for stage_fn in wl["stages"]:
        getattr(suite, stage_fn)(spark, args.data)
    stage_build_s = time.time() - t_stage
    setup_s = time.time() - args.t0

    runs: list[dict] = []
    leaks: dict[str, dict] = {}
    first: dict[str, dict] = {}

    def run_query(name: str, cold: bool) -> dict:
        fn = suite.QUERIES[name]
        rec = {"query": name, "cold": cold}
        try:
            t0 = time.time()
            df = fn(spark, args.data)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            rows = df.collect()
            t3 = time.time()
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
            return rec
        finally:
            spark.catalog.clearCache()
        rec.update(
            ok=True,
            build=(t0, t1),
            plan=(t1, t2),
            collect=(t2, t3),
            total=t3 - t0,
            rows=len(rows),
        )
        if cold:
            first[name] = {"rows": rows, "columns": df.columns}
        elif name in first and len(rows) != len(first[name]["rows"]):
            rec.update(ok=False, error="row count differs from the cold run")
        return rec

    for name in wl["queries"]:
        tmp_before, views_before = _tmp_dirs(tmp_dir), _temp_views(spark)
        runs.append(run_query(name, cold=True))
        leaks[name] = {
            "tmp_dirs": len(_tmp_dirs(tmp_dir) - tmp_before),
            "temp_views": len(_temp_views(spark) - views_before),
        }
    n_warm = warm_passes(args.workload, args.seconds)
    pass_walls = []
    for _ in range(n_warm):
        t0 = time.time()
        for name in wl["queries"]:
            runs.append(run_query(name, cold=False))
        pass_walls.append(time.time() - t0)
    jvm_peak_rss_mb = _jvm_peak_rss_mb(spark)

    t_oracle = time.time()
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.data}/{t}.parquet')"
        )
    oracle = {}
    for name in wl["queries"]:
        if name not in first:
            oracle[name] = {"ok": False, "detail": "cold run failed"}
        else:
            f = first[name]
            oracle[name] = oracle_check(
                con, name, f["rows"], f["columns"], suite.ORACLES[name], compare
            )
    con.close()
    oracle_s = time.time() - t_oracle
    stream_rows = list(recorder.rows) if recorder is not None else []
    java_version = spark.sparkContext._jvm.System.getProperty("java.version")
    spark.stop()

    for r in runs:
        if not oracle[r["query"]]["ok"]:
            r["ok"] = False
    warm = {n: [] for n in wl["queries"]}
    cold = {}
    for r in runs:
        if not r["ok"]:
            continue
        if r["cold"]:
            cold[r["query"]] = r["total"]
        else:
            warm[r["query"]].append(r["total"])
    result = {
        "workload": args.workload,
        "cores": cores,
        "java_version": java_version,
        "warm_passes": n_warm,
        "attempted": len(runs) + len(wl["queries"]),
        "failed": sum(not r["ok"] for r in runs) + len(warmup_errors),
        "setup_s": setup_s,
        "stage_build_s": stage_build_s,
        "oracle_s": oracle_s,
        "jvm_peak_rss_mb": jvm_peak_rss_mb,
        "pass_walls": pass_walls,
        "oracle": oracle,
        "leaks": leaks,
        "errors": {r["query"]: r["error"] for r in runs if "error" in r},
        "warmup_errors": warmup_errors,
        "warm": warm,
        "cold": cold,
    }
    if args.trace:
        from eventlog import attribute, read_event_log

        ok_runs = [r for r in runs if r["ok"]]
        layers = attribute(
            read_event_log(os.path.join(args.area, "eventlog")), ok_runs, cores
        )
        for r, lay in zip(ok_runs, layers):
            t_lo, t_hi = r["build"][0], r["collect"][1]
            batches = [
                b for b in stream_rows if t_lo <= _iso_epoch(b[7]) <= t_hi
            ]
            lay["stream.batches"] = len(batches)
            lay["stream.state_rows"] = max((b[4] for b in batches), default=0)
            r["layers"] = lay
        result["layer_runs"] = [
            {"query": r["query"], "cold": r["cold"], **r["layers"]} for r in ok_runs
        ]
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


if __name__ == "__main__":
    raise SystemExit(main())
