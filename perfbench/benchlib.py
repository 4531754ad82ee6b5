"""Pure logic of the benchmark: percentiles, the delivery ledger, the
oracle comparison, span self times and the metric definitions.

run.py feeds it what the JVM side wrote (raw.json, items.bin,
spans.jsonl); the tests in test_benchlib.py plant faults into it.
"""
import json
import math
import os
from collections import namedtuple

import numpy as np

Pct = namedtuple("Pct", "value n")

WORKLOADS = ("q-cold", "p-bulk", "p-single")


def percentile(values, q):
    """Nearest-rank percentile `q` (0-100) with its sample count."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return Pct(float("nan"), 0)
    rank = max(1, math.ceil(q / 100.0 * n))
    return Pct(float(xs[rank - 1]), n)


def median(values):
    return percentile(values, 50).value


# ----------------------------------------------------------------- ledger

ITEM_COLUMNS = ("id", "sched", "put_ret", "enter", "ret", "count")


def read_items(path):
    """Per-item records written by the JVM: six little-endian int64
    columns (see ITEM_COLUMNS); times are ns since the window began and
    -1 for an item the sink never saw."""
    a = np.fromfile(path, dtype="<i8")
    a = a.reshape(-1, len(ITEM_COLUMNS))
    return {c: a[:, i] for i, c in enumerate(ITEM_COLUMNS)}


def check_ledger(items, stray, stat):
    """Counts pipeline failures: an item missing (never delivered), an
    extra delivery of an item, a delivery of an id nobody put (stray),
    and any disagreement of `stat()` (items dropped, flushed != in, or
    pending != 0 after the final flush)."""
    counts = items["count"]
    ids = items["id"]
    missing = int(np.sum(counts == 0))
    duplicated = int(np.sum(np.clip(counts - 1, 0, None)))
    repeated_ids = int(len(ids) - len(np.unique(ids)))
    stat_gap = (abs(stat["itemsIn"] - stat["itemsFlushed"]) + stat["itemsDropped"]
                + abs(stat["pending"]))
    failed = missing + duplicated + repeated_ids + int(stray) + int(stat_gap)
    return {"missing": missing, "duplicated": duplicated, "repeated_ids": repeated_ids,
            "stray": int(stray), "stat_gap": int(stat_gap), "failed": failed}


# ----------------------------------------------------------------- oracle

def compare_frames(got, exp):
    """Compares a Spark output with the DuckDB oracle the way
    tools/check_oracle.py does: columns sorted by name, same row count,
    floats equal (NaN equal to NaN), everything else equal as strings.
    Returns None on a match, else the reason."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    bad = []
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                ok = np.allclose(a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True)
            else:
                ok = bool((a.astype(str).values == b.astype(str).values).all())
        except (TypeError, ValueError) as e:
            ok = False
            c = f"{c}({e})"
        if not ok:
            bad.append(c)
    return f"value mismatch in {bad}" if bad else None


def oracle_check(data_dir, out_dirs, oracle_sql):
    """Runs each query's oracle SQL in DuckDB over the parquet tables in
    `data_dir` once, and compares it with every Spark output
    `<out_dir>/<query>` of every directory in `out_dirs`. Returns
    {(out_dir, query): None | reason}."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    res = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            exp, err = con.execute(sql).df(), None
        except Exception as e:
            exp, err = None, f"duckdb error: {e}"
        for d in out_dirs:
            qdir = os.path.join(d, name)
            if not os.path.isdir(qdir):
                continue
            try:
                got = pd.read_parquet(qdir)
            except Exception as e:  # unreadable output
                res[(d, name)] = f"unreadable spark output: {e}"
                continue
            res[(d, name)] = err or compare_frames(got, exp)
    con.close()
    return res


# ------------------------------------------------------------------ spans

def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_orphans(spans):
    """Gives a parent to every job span that has none: the innermost
    phase span (build, plan, action, trigger) whose interval holds the
    job's start, else the run span."""
    phases = [s for s in spans if s["name"] in ("build", "plan", "action")
              or s["layer"] == "streaming"]
    run = next((s["id"] for s in spans if s["layer"] == "run"), 0)
    for s in spans:
        if s["parent"] == 0 and s["layer"] == "scheduler" and s["name"].startswith("job"):
            holders = [p for p in phases if p["start_us"] <= s["start_us"] <= p["end_us"]]
            best = min(holders, key=lambda p: p["end_us"] - p["start_us"], default=None)
            s["parent"] = best["id"] if best else run
    return spans


def self_times(spans):
    """Each span's self time: its duration minus the union of the parts
    of it its children cover, in microseconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_length([(max(c["start_us"], lo), min(c["end_us"], hi))
                                for c in children.get(s["id"], [])])
        out[s["id"]] = max(0, (hi - lo) - covered)
    return out


def layer_table(spans):
    """Per layer: span count, total time and self time (seconds)."""
    st = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["layer"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += (s["end_us"] - s["start_us"]) / 1e6
        row["self_s"] += st[s["id"]] / 1e6
    return table


# ---------------------------------------------------------------- metrics

def pass_seconds(p):
    """A query pass lasts the sum of its executions' timed parts; the
    untimed output writes for the oracle check fall between them."""
    if "queries" in p:
        return sum(q["total_s"] for q in p["queries"])
    return p["wall_s"]


def setup_seconds(raw):
    """Session start in the fresh JVM, plus pipeline start and the
    untimed warm-up: everything before the first timed operation."""
    return raw["session_start_s"] + raw.get("pipeline_start_s", 0.0) + raw["warmup_s"]


def end_to_end(raw, items=None):
    """The end-to-end metrics of one run as {name: (value, unit, samples)},
    and beside them the tail latencies, which are reported but not gated:
    they spread too much from run to run (see README.md).

    Queries: an operation is one execution, timed from the builder call
    to the return of the noop write; its "put" is the builder call.
    Pipelines: an operation is one item, timed from its scheduled send
    (p-bulk: the start of the putAll call carrying it) to the return of
    the sink call that delivered it; its "put" ends when put/putAll
    returns. items_per_s divides the operations by the measured time:
    the timed passes of a query workload, and from the first put to the
    return of the final flush() of a pipeline one."""
    passes = raw["passes"]
    if raw["workload"].startswith("q-"):
        execs = [q for p in passes for q in p["queries"] if q["error"] is None]
        deliver_ms = [1e3 * q["total_s"] for q in execs]
        put_ms = [1e3 * q["build_s"] for q in execs]
        ops, wall = len(execs), sum(map(pass_seconds, passes))
    else:
        ok = items["count"] > 0
        deliver_ms = (items["ret"][ok] - items["sched"][ok]) / 1e6
        put_ms = (items["put_ret"] - items["sched"]) / 1e6
        ops, wall = int(np.sum(ok)), raw["window_s"]
    p50 = percentile(deliver_ms, 50)
    metrics = {
        "setup_s": (setup_seconds(raw), "s", None),
        "pass_s": (sum(map(pass_seconds, passes)) / len(passes), "s", len(passes)),
        "items_per_s": (ops / wall if wall > 0 else 0.0, "items/s", ops),
        "retained_mb": (raw["retained_mb"], "MB", None),
        "deliver_ms_p50": (p50.value, "ms", p50.n),
    }
    latency = {}
    for name, xs, q in (("deliver_ms_p99", deliver_ms, 99), ("put_ms_p99", put_ms, 99)):
        p = percentile(xs, q)
        latency[name] = (p.value, "ms", p.n)
    return metrics, latency
