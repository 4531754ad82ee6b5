#!/usr/bin/env python3
"""Compares two sets of traced benchmark runs, workload by workload.

    python3 perfbench/layer_diff.py A B [--json]

A and B are results directories as run.py leaves them
(`.bench_build/results`, or a copy of it): one subdirectory per
workload holding a `trace1-*.json` record per traced run. For every
workload both sides have, it prints per layer the span count, total and
self time, and then every per-layer metric, each as the median and the
first and third quartiles over that side's runs, plus the change of the
median from A to B.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(results_dir):
    """{workload: [record, ...]} of the traced runs under `results_dir`."""
    out = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*", "trace1-*.json"))):
        with open(path) as f:
            r = json.load(f)
        out.setdefault(r["workload"], []).append(r)
    return out


def summary(values):
    """(median, first quartile, third quartile, count)."""
    xs = sorted(values)
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    else:
        q1 = med = q3 = xs[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(xs)}


def rows(records):
    """Flattens traced records into {row name: [value per run]}."""
    table = {}
    for r in records:
        for layer, d in r.get("layers", {}).items():
            for k in ("count", "total_s", "self_s"):
                table.setdefault(f"layer {layer} {k}", []).append(d[k])
        for name, m in r["metrics"].items():
            table.setdefault(name, []).append(m["value"])
    return table


def diff(a, b):
    out = {}
    for w in sorted(set(a) & set(b)):
        ra, rb = rows(a[w]), rows(b[w])
        out[w] = {}
        for name in sorted(set(ra) | set(rb)):
            sa = summary(ra[name]) if name in ra else None
            sb = summary(rb[name]) if name in rb else None
            change = None
            if sa and sb and sa["median"]:
                change = (sb["median"] - sa["median"]) / abs(sa["median"])
            out[w][name] = {"a": sa, "b": sb, "change": change}
    return out


def fmt(s):
    if s is None:
        return "-".rjust(34)
    return f"{s['median']:12.5g} [{s['q1']:.4g}, {s['q3']:.4g}]".rjust(34)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--json", action="store_true", help="print the comparison as JSON")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    d = diff(a, b)
    if not d:
        sys.exit("no workload has traced runs on both sides")
    if args.json:
        print(json.dumps(d, indent=1))
        return
    for w, table in d.items():
        print(f"== {w}: A {len(a[w])} runs, B {len(b[w])} runs "
              "(median [q1, q3]; change of the median)")
        for name, r in table.items():
            ch = f"{100 * r['change']:+7.1f}%" if r["change"] is not None else "       "
            print(f"  {name:44s} {fmt(r['a'])} {fmt(r['b'])} {ch}")


if __name__ == "__main__":
    main()
