"""Benchmark entry point: one clean-state run of one workload.

    python3 perfbench/run.py --workload sf01_light --seed 1 --seconds 15 --trace 0

Run from the repository root.  Each run:

* wipes the run area ``.perfbench_run/`` (temp dir, Spark local dir,
  warehouse, event log, stage tables, data);
* generates the sf0.1-sized input tables from ``--seed`` (``datagen.py``),
  and a tenth-size copy for the worker's untimed warm-up;
* starts ``worker.py`` in a fresh process with ``TMPDIR``, the Spark local
  dir, ``java.io.tmpdir`` and the warehouse pointed into the run area, and
  with ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` set from the host;
* prints a per-query detail line, then one JSON line with ``correct``,
  ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones.  With ``--trace 1``
the run is made twice, untraced and then with a Spark event log, and the
metrics are the per-layer ones of the traced session plus the tracing
overhead (traced / untraced ``query_s.geomean``).  The full record of every
run is also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

from worker import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 170.0
# row-count factor of the warm-up copy of the data (sf0.01)
WARMUP_SCALE = 0.1
LIBRARY_FILES = (
    "datafusion_functions_extra_spark/suite.py",
    "tools/check_correctness.py",
)

UNITS = {
    "query_s.geomean": "s",
    "pass_s": "s",
    "cold_query_s.geomean": "s",
    "slowdown.tail": "ratio",
    "ok_frac": "ratio",
    "setup_s": "s",
    "jvm_peak_rss_mb": "MB",
    "build.self_s": "s",
    "leaf.jobs": "count",
    "leaf.s": "s",
    "stage.build_s": "s",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.one_task_stages": "count",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_util": "ratio",
    "collect.s": "s",
    "collect.rows": "count",
    "stream.batches": "count",
    "stream.state_rows": "count",
    "leak.tmp_dirs": "count",
    "leak.temp_views": "count",
    "trace.overhead": "ratio",
    "tracer.selftest_failed": "count",
}
# Per-layer metrics reported as the sum over queries of each query's median
# over its warm runs.
SUMMED_LAYERS = (
    "build.self_s",
    "leaf.jobs",
    "leaf.s",
    "plan.s",
    "exec.s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.one_task_stages",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.spill_mb",
    "collect.s",
    "collect.rows",
    "stream.batches",
    "stream.state_rows",
)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def slowdown(warm: dict[str, list[float]]) -> dict:
    """Tail slowdown of the warm samples.

    ``value`` is the geomean over queries of (slowest warm sample / that
    query's median): each query contributes its own worst case, and the
    geomean keeps one noisy query from deciding the figure.  A run has too
    few warm samples for a percentile with ten samples beyond it to lie in
    the tail (with three samples per query a third of all ratios are exactly
    1), so the pooled form is reported beside it only as the maximum ratio
    with its sample count."""
    ratios = {q: [t / statistics.median(ts) for t in ts] for q, ts in warm.items() if ts}
    pooled = [r for rs in ratios.values() for r in rs]
    return {
        "value": geomean([max(rs) for rs in ratios.values()]),
        "pooled_max": max(pooled),
        "n": len(pooled),
    }


def host_facts(root: str, cores: int, heap_mb: int) -> dict:
    from importlib.metadata import version

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    sha = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(root, ".git", ref[5:])
            if os.path.exists(ref_path):
                with open(ref_path) as f:
                    sha = f.read().strip()
        else:
            sha = ref
    return {
        "cores": cores,
        "mem_gib": round(mem_kb / 2**20, 1),
        "driver_heap_mb": heap_mb,
        "pyspark": version("pyspark"),
        "python": sys.version.split()[0],
        "git_sha": sha,
    }


def driver_memory_mb() -> int:
    """A fifth of physical memory, between 2 and 8 GiB: one local-mode
    session holds every task thread, and other processes share the host."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return max(2048, min(8192, mem_mb // 5))


def run_worker(root, workload, seed, seconds, trace, cores, heap_mb, deadline):
    """One clean-state worker run; returns its result dict."""
    area = os.path.join(root, ".perfbench_run")
    shutil.rmtree(area, ignore_errors=True)
    dirs = {
        k: os.path.join(area, k)
        for k in ("tmp", "local", "warehouse", "eventlog", "stage")
    }
    for d in dirs.values():
        os.makedirs(d)
    data = os.path.join(area, "data", "sf0.1")
    warmup_data = os.path.join(area, "data", "sf0.01")
    import datagen

    t_gen = time.time()
    input_bytes = datagen.write(seed, data)
    datagen.write(seed, warmup_data, WARMUP_SCALE)
    datagen_s = time.time() - t_gen
    conf = [
        # a fixed-size, pre-touched heap keeps the JVM's resident set from
        # depending on when G1 grows the heap or first uses a region
        f"spark.driver.extraJavaOptions=-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        # every JVM of the run (launcher and driver): temp files in the run
        # area, and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in conf)
        + " pyspark-shell",
        TZ="UTC",
    )
    out = os.path.join(area, "result.json")
    t0 = time.time()
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--root", root,
        "--workload", workload,
        "--data", data,
        "--warmup-data", warmup_data,
        "--area", area,
        "--seconds", str(seconds),
        "--trace", str(trace),
        "--t0", repr(t0),
        "--out", out,
    ]  # fmt: skip
    # the worker's stdout goes to stderr: stdout carries only the result
    proc = subprocess.Popen(
        cmd, cwd=area, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the worker's JVM shares its process group; stop both in every case
        # and wait until the group is empty, the reparented JVM included
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        for _ in range(200):
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
    if code != 0:
        raise RuntimeError(
            f"worker {'timed out' if code is None else f'exited with {code}'}"
        )
    with open(out) as f:
        res = json.load(f)
    res["input_bytes"] = input_bytes
    res["datagen_s"] = datagen_s
    res["worker_wall_s"] = time.time() - t0
    shutil.rmtree(area, ignore_errors=True)
    return res


def per_query(res: dict) -> dict:
    out = {}
    for q, ts in res["warm"].items():
        d = {"n": len(ts), "cold_s": res["cold"].get(q), "warm_s": ts}
        if len(ts) > 1:
            d["q1"], d["median"], d["q3"] = statistics.quantiles(ts, n=4)
        d["oracle"] = res["oracle"][q]
        d["leaks"] = res["leaks"][q]
        out[q] = d
    return out


def end_to_end(res: dict) -> dict:
    ok = [q for q, ts in res["warm"].items() if ts]
    if not ok or not res["cold"]:
        raise RuntimeError(f"no query completed: {res['errors']}")
    return {
        "query_s.geomean": geomean([statistics.median(res["warm"][q]) for q in ok]),
        "pass_s": statistics.median(res["pass_walls"]),
        "cold_query_s.geomean": geomean(list(res["cold"].values())),
        "slowdown.tail": slowdown(res["warm"])["value"],
        "ok_frac": (res["attempted"] - res["failed"]) / res["attempted"],
        "setup_s": res["setup_s"],
        "jvm_peak_rss_mb": res["jvm_peak_rss_mb"],
    }


def layers(res: dict, untraced_geomean: float) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run, and the tracer self-test failures."""
    by_q: dict[str, list[dict]] = {}
    for r in res["layer_runs"]:
        if not r["cold"]:
            by_q.setdefault(r["query"], []).append(r)

    def med(q, key):
        return statistics.median(r[key] for r in by_q[q])

    m = {k: sum(med(q, k) for q in by_q) for k in SUMMED_LAYERS}
    slot_s = sum(med(q, "exec.slot_s") for q in by_q)
    m["exec.core_util"] = sum(med(q, "exec.task_s") for q in by_q) / slot_s if slot_s else 0.0
    m["stage.build_s"] = res["stage_build_s"]
    m["leak.tmp_dirs"] = sum(v["tmp_dirs"] for v in res["leaks"].values())
    m["leak.temp_views"] = sum(v["temp_views"] for v in res["leaks"].values())
    m["trace.overhead"] = end_to_end(res)["query_s.geomean"] / untraced_geomean

    # Three facts an earlier profiling round found by hand; the tracer must
    # reproduce them on its own.
    failures = []
    if "text_tfidf_top_terms" in by_q and not med("text_tfidf_top_terms", "exec.one_task_stages") > 0:
        failures.append("text_tfidf_top_terms: no 1-task exec stage")
    if "mode_returnflag_global" in by_q and med("mode_returnflag_global", "leaf.jobs") != 0:
        failures.append("mode_returnflag_global: build ran a job (schema inference)")
    if "spatial_dbscan" in by_q and not 20 <= med("spatial_dbscan", "jobs.total") <= 45:
        failures.append(
            f"spatial_dbscan: {med('spatial_dbscan', 'jobs.total')} jobs, expected about 30"
        )
    m["tracer.selftest_failed"] = len(failures)
    return m, failures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its worker (see run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    missing = [p for p in LIBRARY_FILES if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    heap_mb = driver_memory_mb()
    deadline = t_start + RUN_LIMIT_S
    common = (root, args.workload, args.seed, args.seconds)
    try:
        base = run_worker(*common, 0, cores, heap_mb, deadline)
        if args.trace:
            traced = run_worker(*common, 1, cores, heap_mb, deadline)
    except RuntimeError as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": dict(host_facts(root, cores, heap_mb), java=base["java_version"]),
        "input_bytes": base["input_bytes"],
        "phase_s": {k: base[k] for k in ("datagen_s", "setup_s", "stage_build_s", "oracle_s", "worker_wall_s")},
        "warm_passes": base["warm_passes"],
        "pass_walls": base["pass_walls"],
        "slowdown": slowdown(base["warm"]),
        "queries": per_query(base),
        "errors": base["errors"],
        "warmup_errors": base["warmup_errors"],
    }
    metrics = end_to_end(base)
    record["end_to_end"] = metrics
    selftest = []
    if args.trace:
        metrics, selftest = layers(traced, record["end_to_end"]["query_s.geomean"])
        record["per_layer"] = metrics
        record["traced_queries"] = per_query(traced)
        record["selftest_failures"] = selftest
        record["layer_runs"] = traced["layer_runs"]
    sessions = [base, traced] if args.trace else [base]
    record["oracle_failures"] = sorted(
        {q for r in sessions for q, o in r["oracle"].items() if not o["ok"]}
    )

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("workload", "warm_passes", "slowdown", "queries", "oracle_failures")}))
    attempted = sum(r["attempted"] for r in sessions)
    failed = sum(r["failed"] for r in sessions) + len(selftest)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
