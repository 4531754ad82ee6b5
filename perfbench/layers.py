"""Per-layer metrics of a traced run, computed from its spans.

The span tree is run -> pass -> query -> build/plan/action for the query
workloads, and run -> put/flush/sink/trigger for the pipeline ones; Spark
jobs hang under the phase or trigger that started them, stages under
jobs, tasks under stages. Query-workload figures are per timed pass
(sums divided by the pass count); pipeline figures cover the measured
window. A layer that a workload does not exercise reports 0.
"""
import glob
import json
import os

import numpy as np

import benchlib

# The query list of QueryRun.scala.
QUERY_NAMES = ("t40_text_index_gate", "q83_recursive_cte", "g02_bfs_levels")

UNITS = {
    "operators.build_s": "s", "operators.build_frac": "ratio", "operators.build_jobs": "count",
    "catalyst.plan_s": "s", "exec.action_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.idle_s": "s", "scheduler.tasks_per_trigger": "count",
    "executor.cpu_s": "s", "executor.run_s": "s", "executor.gc_s": "s", "executor.util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "artifacts.write_mb": "MB", "artifacts.tables": "count",
    "streaming.triggers": "count", "streaming.trigger_ms_p50": "ms",
    "streaming.addbatch_ms": "ms", "streaming.planning_ms": "ms", "streaming.offsetlog_ms": "ms",
    "streaming.rows_per_trigger": "items",
    "core.put_us_p50": "us", "core.put_us_p99": "us", "core.put_s": "s", "core.flush_s": "s",
    "core.dispatch_ms_p50": "ms", "core.dispatch_ms_p99": "ms", "core.sink_ms_p99": "ms",
    "core.batches": "count", "core.batch_items_mean": "items", "core.full_batch_frac": "ratio",
    "core.inflight_max": "count", "core.pending_min": "count", "core.retries": "count",
    "core.dropped": "count",
    "gen.late_ms_p99": "ms",
}
UNITS.update({f"query.{q}_s": "s" for q in QUERY_NAMES})

MB = 1048576.0


def _ancestors(spans):
    """Maps span id -> list of ancestor spans, nearest first."""
    by_id = {s["id"]: s for s in spans}
    memo = {}

    def chain(sid):
        if sid in memo:
            return memo[sid]
        out, p = [], by_id.get(sid, {}).get("parent", 0)
        seen = set()
        while p and p in by_id and p not in seen:
            seen.add(p)
            out.append(by_id[p])
            p = by_id[p]["parent"]
        memo[sid] = out
        return out
    return chain


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def _scope(raw, spans):
    """The spans that belong to the measured part of the run, the number
    of units figures are divided by, and the measured wall time per unit."""
    chain = _ancestors(spans)
    if raw["workload"].startswith("q-"):
        timed = {s["id"] for s in spans if s["layer"] == "pass"}
        checks = {s["id"] for s in spans if s["layer"] == "check"}
        scope = [s for s in spans if s["layer"] != "check"
                 and any(a["id"] in timed for a in chain(s["id"]))
                 and not any(a["id"] in checks for a in chain(s["id"]))]
        queries = [s for s in scope if s["layer"] == "query"]
        units = max(1, len(timed))
        wall = sum(map(_dur, queries)) / units
        windows = [(s["start_us"], s["end_us"]) for s in queries]
    else:
        lo, hi = raw["window_us"]
        scope = [s for s in spans if lo <= s["start_us"] <= hi and s["layer"] != "run"]
        units, wall, windows = 1, (hi - lo) / 1e6, [(lo, hi)]
    return scope, units, wall, windows, chain


def per_layer(raw, spans, items):
    """Returns ({metric: (value, unit)}, {metric: sample count})."""
    scope, units, wall, windows, chain = _scope(raw, spans)
    cpus = raw["host"]["cpus"]
    v, n = {}, {}
    jobs = [s for s in scope if s["layer"] == "scheduler" and s["name"].startswith("job")]
    stages = [s for s in scope if s["layer"] == "scheduler" and s["name"].startswith("stage")]
    tasks = [s for s in scope if s["name"] == "task"]
    builds = [s for s in scope if s["name"] == "build"]
    build_ids = {s["id"] for s in builds}

    v["operators.build_s"] = sum(map(_dur, builds)) / units
    v["operators.build_frac"] = v["operators.build_s"] / wall if wall > 0 else 0.0
    v["operators.build_jobs"] = sum(
        1 for j in jobs if any(a["id"] in build_ids for a in chain(j["id"]))) / units
    v["catalyst.plan_s"] = sum(_dur(s) for s in scope if s["name"] == "plan") / units
    v["exec.action_s"] = sum(_dur(s) for s in scope if s["name"] == "action") / units
    for q in QUERY_NAMES:
        v[f"query.{q}_s"] = benchlib.median(
            [_dur(s) for s in scope if s["layer"] == "query" and s["name"] == q] or [0.0])

    v["scheduler.jobs"] = len(jobs) / units
    v["scheduler.stages"] = len(stages) / units
    v["scheduler.tasks"] = len(tasks) / units
    busy = 0
    for lo, hi in windows:
        busy += benchlib.union_length(
            [(max(j["start_us"], lo), min(j["end_us"], hi)) for j in jobs])
    v["scheduler.idle_s"] = max(0.0, wall - busy / 1e6 / units)

    triggers = [s for s in scope if s["layer"] == "streaming"]
    trig_ids = {s["id"] for s in triggers}
    stream_tasks = [t for t in tasks if any(a["id"] in trig_ids for a in chain(t["id"]))]
    v["scheduler.tasks_per_trigger"] = len(stream_tasks) / len(triggers) if triggers else 0.0

    cpu = sum(t["attrs"]["cpu_ns"] for t in tasks) / 1e9 / units
    v["executor.cpu_s"] = cpu
    v["executor.run_s"] = sum(t["attrs"]["run_ms"] for t in tasks) / 1e3 / units
    v["executor.gc_s"] = sum(t["attrs"]["gc_ms"] for t in tasks) / 1e3 / units
    v["executor.util"] = cpu / (cpus * wall) if wall > 0 else 0.0
    v["shuffle.write_mb"] = sum(t["attrs"]["shuffle_write"] for t in tasks) / MB / units
    v["shuffle.read_mb"] = sum(t["attrs"]["shuffle_read"] for t in tasks) / MB / units
    v["shuffle.spill_mb"] = sum(t["attrs"]["spill"] for t in tasks) / MB / units

    timed = raw["passes"]
    if raw["workload"].startswith("q-"):
        v["artifacts.write_mb"] = float(np.mean([p["artifact_bytes"] for p in timed])) / MB
        v["artifacts.tables"] = float(np.mean([p["artifact_tables"] for p in timed]))
    else:
        v["artifacts.write_mb"] = v["artifacts.tables"] = 0.0

    v["streaming.triggers"] = len(triggers)
    tp = benchlib.percentile([_dur(s) * 1e3 for s in triggers], 50)
    v["streaming.trigger_ms_p50"], n["streaming.trigger_ms_p50"] = (tp.value if tp.n else 0.0), tp.n

    def mean_attr(*keys):
        xs = [sum(s["attrs"].get(f"ms.{k}", 0) for k in keys) for s in triggers]
        return float(np.mean(xs)) if xs else 0.0
    v["streaming.addbatch_ms"] = mean_attr("addBatch")
    v["streaming.planning_ms"] = mean_attr("queryPlanning")
    v["streaming.offsetlog_ms"] = mean_attr("walCommit", "commitOffsets")
    v["streaming.rows_per_trigger"] = (float(np.mean([s["attrs"]["rows"] for s in triggers]))
                                       if triggers else 0.0)

    puts = [s for s in scope if s["layer"] == "core" and s["name"] == "put"]
    sinks = [s for s in scope if s["layer"] == "core" and s["name"] == "sink"]
    for name, xs, q in (("core.put_us_p50", [_dur(s) * 1e6 for s in puts], 50),
                        ("core.put_us_p99", [_dur(s) * 1e6 for s in puts], 99),
                        ("core.sink_ms_p99", [_dur(s) * 1e3 for s in sinks], 99)):
        p = benchlib.percentile(xs, q)
        v[name], n[name] = (p.value if p.n else 0.0), p.n
    v["core.put_s"] = sum(map(_dur, puts))
    if items is not None:
        ok = items["count"] > 0
        dispatch = (items["enter"][ok] - items["put_ret"][ok]) / 1e6
        for name, q in (("core.dispatch_ms_p50", 50), ("core.dispatch_ms_p99", 99)):
            p = benchlib.percentile(dispatch, q)
            v[name], n[name] = p.value, p.n
        v["core.flush_s"] = raw["flush_s"]
        sizes = [s["attrs"]["items"] for s in sinks]
        v["core.batches"] = len(sinks)
        v["core.batch_items_mean"] = float(np.mean(sizes)) if sizes else 0.0
        v["core.full_batch_frac"] = (sum(1 for x in sizes if x == raw["max_batch"]) / len(sizes)
                                     if sizes else 0.0)
        v["core.inflight_max"] = raw["inflight_max"]
        v["core.pending_min"] = raw["pending_min"] if raw["pending_min"] is not None else 0
        v["core.retries"] = raw["stat"]["retries"]
        v["core.dropped"] = raw["stat"]["itemsDropped"]
        late = benchlib.percentile(np.asarray(raw["late_ns"]) / 1e6, 99)
        v["gen.late_ms_p99"], n["gen.late_ms_p99"] = (late.value if late.n else 0.0), late.n
    else:
        for k in ("core.dispatch_ms_p50", "core.dispatch_ms_p99", "core.flush_s", "core.batches",
                  "core.batch_items_mean", "core.full_batch_frac", "core.inflight_max",
                  "core.pending_min", "core.retries", "core.dropped", "gen.late_ms_p99"):
            v[k] = 0.0
    return {k: (float(v[k]), UNITS[k]) for k in UNITS}, n


def tracing_overhead(traced_e2e, results_dir, seed):
    """Traced minus untraced value of every end-to-end metric, against the
    latest untraced run of the same workload recorded in `results_dir`,
    preferring one with the same seed and so the same inputs."""
    runs = []
    for path in glob.glob(os.path.join(results_dir, "trace0-*.json")):
        with open(path) as f:
            runs.append(json.load(f))
    if not runs:
        return None
    base = max(runs, key=lambda r: (r["seed"] == seed, r["time"]))
    out = {}
    for k, (val, unit, _) in traced_e2e.items():
        u = base["end_to_end"][k]["value"]
        out[k] = {"traced": val, "untraced": u, "delta": val - u,
                  "rel": (val - u) / u if u else None, "unit": unit}
    return out
