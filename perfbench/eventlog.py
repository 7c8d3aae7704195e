"""Per-layer attribution of a Spark JSON event log to timed query phases.

The worker times each query at three public boundaries (build, plan,
collect) and records each phase as a wall-clock window.  Queries run one at
a time, so every Spark job, stage and task is attributed to the phase whose
window contains its submission time.  Time windows are used instead of job
groups because the jobs of a streaming drain run on the stream's own thread
and do not carry the caller's job group.

Layers (named after the library's modules):

* leaf  - jobs submitted inside ``fn(spark, dir)``: eager checkpoints, stage
  writes and streaming drains that run during build;
* build - build wall time not covered by any leaf job (py4j construction);
* plan  - ``queryExecution().executedPlan()`` (Catalyst);
* exec  - jobs submitted inside ``collect()``;
* collect - collect wall time not covered by exec jobs (result transfer).
"""

from __future__ import annotations

import json
import os
from bisect import bisect_right

PHASES = ("build", "plan", "collect")


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class _Windows:
    """Maps a time (epoch ms) to the (run index, phase) whose window holds it."""

    def __init__(self, runs: list[dict]):
        spans = sorted(
            (r[p][0] * 1000.0, r[p][1] * 1000.0, i, p)
            for i, r in enumerate(runs)
            for p in PHASES
        )
        self._starts = [s[0] for s in spans]
        self._spans = spans

    def find(self, t_ms: float):
        i = bisect_right(self._starts, t_ms) - 1
        if i >= 0 and t_ms <= self._spans[i][1]:
            return self._spans[i][2], self._spans[i][3]
        return None


def attribute(events: list[dict], runs: list[dict], cores: int) -> list[dict]:
    """Per-run layer figures for every timed query run in ``runs``.

    ``runs[i]`` holds ``build``/``plan``/``collect`` as (start, end) epoch
    seconds and ``rows``; the result has one dict of layer metrics per run.
    """
    win = _Windows(runs)
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, int] = {}
    stage_sub: dict[int, float] = {}
    task_sums: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
            stage_sub[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            agg = task_sums.setdefault(
                ev["Stage ID"],
                {"cpu_ns": 0, "gc_ms": 0, "run_ms": 0, "shuffle_w": 0, "spill": 0},
            )
            agg["cpu_ns"] += m.get("Executor CPU Time", 0)
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["run_ms"] += m.get("Executor Run Time", 0)
            agg["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )

    out = [
        {
            "leaf_jobs": 0,
            "exec_jobs": 0,
            "exec_stages": 0,
            "exec_tasks": 0,
            "exec_one_task_stages": 0,
            "exec_cpu_ns": 0,
            "exec_gc_ms": 0,
            "exec_run_ms": 0,
            "exec_shuffle_w": 0,
            "exec_spill": 0,
            "_iv": {p: [] for p in PHASES},
        }
        for _ in runs
    ]
    for job in jobs.values():
        hit = win.find(job["start"])
        if hit is None:
            continue
        i, phase = hit
        end = job["end"] if job["end"] is not None else job["start"]
        w_end = runs[i][phase][1] * 1000.0
        out[i]["_iv"][phase].append((job["start"], min(end, w_end)))
        if phase == "build":
            out[i]["leaf_jobs"] += 1
        elif phase == "collect":
            out[i]["exec_jobs"] += 1
    for sid, n_tasks in stage_tasks.items():
        hit = win.find(stage_sub[sid])
        if hit is None or hit[1] != "collect":
            continue
        o = out[hit[0]]
        o["exec_stages"] += 1
        o["exec_tasks"] += n_tasks
        o["exec_one_task_stages"] += n_tasks == 1
        t = task_sums.get(sid, {})
        o["exec_cpu_ns"] += t.get("cpu_ns", 0)
        o["exec_gc_ms"] += t.get("gc_ms", 0)
        o["exec_run_ms"] += t.get("run_ms", 0)
        o["exec_shuffle_w"] += t.get("shuffle_w", 0)
        o["exec_spill"] += t.get("spill", 0)

    result = []
    for r, o in zip(runs, out):
        iv = o.pop("_iv")
        wall = {p: r[p][1] - r[p][0] for p in PHASES}
        leaf_s = _union_ms(iv["build"]) / 1000.0
        exec_s = _union_ms(iv["collect"]) / 1000.0
        result.append(
            {
                "build.self_s": max(0.0, wall["build"] - leaf_s),
                "leaf.jobs": o["leaf_jobs"],
                "leaf.s": leaf_s,
                "plan.s": wall["plan"],
                "exec.s": exec_s,
                "exec.jobs": o["exec_jobs"],
                "exec.stages": o["exec_stages"],
                "exec.tasks": o["exec_tasks"],
                "exec.one_task_stages": o["exec_one_task_stages"],
                "exec.cpu_s": o["exec_cpu_ns"] / 1e9,
                "exec.gc_s": o["exec_gc_ms"] / 1000.0,
                "exec.shuffle_write_mb": o["exec_shuffle_w"] / 2**20,
                "exec.spill_mb": o["exec_spill"] / 2**20,
                "exec.task_s": o["exec_run_ms"] / 1000.0,
                "exec.slot_s": exec_s * cores,
                "collect.s": max(0.0, wall["collect"] - exec_s),
                "collect.rows": r["rows"],
                "jobs.total": sum(len(v) for v in iv.values()),
            }
        )
    return result
