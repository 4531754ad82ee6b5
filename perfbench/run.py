#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload q-cold|p-bulk|p-single \\
        --seed N --seconds S --trace 0|1

Run from the repository root. It compiles the engine's main sources and
the JVM side under perfbench/src with the Scala compiler that ships in
Spark's jars (once per source tree; the classes are cached under
.bench_build/), runs one workload in a fresh JVM, checks the outputs,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and, on stderr, the tracing overhead against the latest untraced run
of the same workload. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

import benchlib
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory
    build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("cannot find Spark's jars: set SPARK_HOME")
    return m.group(1)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"no engine sources under {main}")
    return files + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compiles the engine and the benchmark into one jar, unless a build
    of exactly these sources exists. Returns (build dir, source digest)."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_dir(), "build-" + digest)
    if os.path.exists(os.path.join(out, ".done")):
        return out, digest
    for old in glob.glob(os.path.join(build_dir(), "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", j)]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={out}", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
                        "-d", classes, "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("compilation failed")
    with zipfile.ZipFile(os.path.join(out, "graftbench.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    open(os.path.join(out, ".done"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return out, digest


def host_shape():
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = max(2, min(8, mem_kb // 2097152))
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": cpus, "mem_total_kb": mem_kb, "heap": f"{heap_gb}g", "commit": commit}


def run_jvm(args, build, host, work):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{host['heap']}", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.path.join(build, "graftbench.jar") + os.pathsep
              + os.path.join(spark_jars(), "*"), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", DATA,
              "--work", work, "--cpus", str(host["nproc"])])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(os.path.join(work, "raw.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def check(raw, work):
    """Checks the run's outputs. Returns (attempted, failed, details, and
    the per-item records of a pipeline run)."""
    if raw["workload"].startswith("q-"):
        execs = [q for p in raw["passes"] for q in p["queries"]]
        thrown = [q["name"] for q in execs if q["error"] is not None]
        missing_oracle = sorted(set(raw["queries"]) - set(raw["oracle_sql"]))
        outs = sorted(glob.glob(os.path.join(work, "out", "p*")))
        verdicts = benchlib.oracle_check(DATA, outs, raw["oracle_sql"])
        wrong = {f"{os.path.basename(d)}/{q}": v
                 for (d, q), v in verdicts.items() if v is not None}
        failed = len(thrown) + len(wrong) + len(missing_oracle)
        return len(execs), failed, {"thrown": thrown, "oracle_checked": len(verdicts),
                                    "oracle_mismatch": wrong, "no_oracle": missing_oracle}, None
    items = benchlib.read_items(os.path.join(work, raw["items_file"]))
    led = benchlib.check_ledger(items, raw["stray"], raw["stat"])
    return len(items["id"]), led["failed"], led, items


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()

    os.chdir(ROOT)
    host = host_shape()
    out, digest = build()
    host["source_digest"] = digest
    work = os.path.join(build_dir(), "runs", f"{args.workload}-{os.getpid()}")
    try:
        raw = run_jvm(args, out, host, work)
        host.update(raw["host"])
        attempted, failed, details, items = check(raw, work)
        e2e, latency = benchlib.end_to_end(raw, items)
        if args.trace:
            spans = benchlib.attach_orphans(benchlib.read_spans(os.path.join(work, "spans.jsonl")))
            metrics, samples = layers.per_layer(raw, spans, items)
        else:
            spans, samples = None, {}
            metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "time": time.time(), "host": host,
              "attempted": attempted, "failed": failed, "fail_frac": failed / max(attempted, 1),
              "checks": details,
              "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
              "latency": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in latency.items()},
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
              "samples": samples}
    results = os.path.join(build_dir(), "results", args.workload)
    os.makedirs(results, exist_ok=True)
    if args.trace:
        record["layers"] = benchlib.layer_table(spans)
        record["overhead"] = layers.tracing_overhead(e2e, results, args.seed)
    with open(os.path.join(results, f"trace{args.trace}-seed{args.seed}-{os.getpid()}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    report(record)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


def report(r):
    h = r["host"]
    log(f"{r['workload']} seed={r['seed']} trace={r['trace']} nproc={h['nproc']} "
        f"mem={h['mem_total_kb'] // 1024} MB heap={h['heap']} java={h.get('java')} "
        f"spark={h.get('spark')} commit={h['commit'] or 'n/a'} sources={h['source_digest']}")
    log(f"attempted={r['attempted']} failed={r['failed']} fail_frac={r['fail_frac']:.4g} "
        f"checks={json.dumps(r['checks'])[:400]}")
    for k, m in list(r["end_to_end"].items()) + list(r["latency"].items()):
        n = f" (n={m['n']})" if m["n"] is not None else ""
        log(f"  {k} = {m['value']:.6g} {m['unit']}{n}")
    if r["trace"]:
        for k, m in r["metrics"].items():
            log(f"  {k} = {m['value']:.6g} {m['unit']}")
        for k, d in (r.get("overhead") or {}).items():
            log(f"  tracing overhead {k}: {d}")


if __name__ == "__main__":
    main()
