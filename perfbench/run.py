#!/usr/bin/env python3
"""Benchmark of the graft engine.

    python3 perfbench/run.py --workload <analytics|metastore-roundtrip>
        --seed <n> --seconds <s> --trace <0|1> [--keys k,...]

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (`perfbench/build.sbt`); later runs reuse the build
while the sources are unchanged. Each run:

1. stages seeded fixtures (nine times; `setup_s` is the median),
2. starts one JVM that runs the workload's ops in a closed loop on one
   client thread, at local[n] with n = min(2, cores) (`perfbench.Main`),
3. checks every op's output: key results against their `oracleSql` run
   by DuckDB on the same parquet, catalog reads against the benchmark's
   own model of each table (checked inside the JVM),
4. prints a report on stderr and, as the last line of stdout, one JSON
   object: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans of the run
are written to perfbench/.work/<workload>/out/spans.json. Every result
(except of a run with --keys) is also appended to perfbench/.work/runs.jsonl
for compare.py.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(WORK, "build")
SETUP_REPEATS = 9
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 780
WORKLOADS = ("analytics", "metastore-roundtrip")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Everything the build reads: build definitions and sources of the
    engine and of the benchmark."""
    files = []
    for base in (ROOT, BENCH):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, n) for n in os.listdir(proj)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile engine + benchmark unless the sources are unchanged;
    returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"build did not finish in {BUILD_TIMEOUT_S} s", 3)
    lines = [ln for ln in proc.stdout.splitlines()
             if "perfbench" in ln and "scala-2.13" in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def stage_fixtures(work, seed):
    """Stage the seeded fixtures SETUP_REPEATS times from scratch; the
    last copy is the one the run reads. Returns (tables dir, median
    seconds); the roundtrip slices sit next to the tables dir."""
    spec = importlib.util.spec_from_file_location(
        "datagen", os.path.join(BENCH, "datagen.py"))
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    times = []
    root = os.path.join(work, "fixtures")
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        datagen.generate(root, seed)
        times.append(time.perf_counter() - t0)
    return os.path.join(root, "tables"), statistics.median(times)


def run_jvm(cp, work, args, data, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # soft references are cleared at every collection, so the live heap
    # read at the end of a run does not depend on when they were touched
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-XX:SoftRefLRUPolicyMSPerMB=0",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", out]
    if args.keys:
        cmd += ["--keys", args.keys]
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=fh,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(logf) as fh:
            tail = [ln for ln in fh.read().splitlines()
                    if "perfbench" in ln or "Exception" in ln][-20:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"benchmark JVM failed ({rc}); log in {logf}", 4)
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def oracle_check(data, out, keys):
    """Compare each key's dumped output with its DuckDB oracle, with the
    normalisation of tools/selfcheck.py. Returns {key: reason} for every
    key that has no output, no oracle, or a different result."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(ROOT, "tools", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    import duckdb
    import pandas as pd
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    bad = {}

    def fingerprint(df):
        cols, rows = selfcheck.canon(df)
        return cols, len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()
    for key in sorted(keys):
        if key not in oracle:
            bad[key] = "no oracle"
            continue
        path = os.path.join(out, "outputs", key)
        if not os.path.isdir(path):
            bad[key] = "no output (the key failed)"
            continue
        try:
            mine = fingerprint(pd.read_parquet(path))
            ref = fingerprint(con.execute(oracle[key]).df())
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            bad[key] = f"check error: {str(e)[:200]}"
            continue
        if mine != ref:
            bad[key] = (f"result differs from oracle: {mine[1]} rows "
                        f"vs {ref[1]}" if mine[1] != ref[1]
                        else "result differs from oracle")
    return bad


def pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    i = (len(s) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found at the root of the checkout")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", default="",
                    help="comma-separated keys replacing a key workload's list")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources not found next to perfbench/ "
            "(run from the root of a checkout)")
    spec = load_spec()
    cp = build()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data, setup_s = stage_fixtures(work, args.seed)
    out = os.path.join(work, "out")
    res = run_jvm(cp, work, args, data, out)
    ops = res["ops"]
    bad = oracle_check(data, out,
                       {o["name"] for o in ops if o["kind"] == "key"})
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad]
    good = [o["ms"] for o in ops if o["ok"] and o["name"] not in bad]
    attempted = len(ops)
    fail_frac = len(failed_ops) / attempted if attempted else 1.0
    walls = [p["wall_s"] for p in res["passes"]]
    extra = res.get("extra", {})
    values = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls) if walls else 0.0,
        "op_p50_ms": pct(good, 0.5),
        "op_p90_ms": pct(good, 0.9),
        "ok_frac": 1.0 - fail_frac,
        "fail_frac": fail_frac,
        "heap_live_mb": res["heap_live_mb"],
    }
    values.update(extra.get("batches", {}))
    values.update({k: v for k, v in extra.items()
                   if isinstance(v, (int, float))})
    values.update(res.get("layers", {}))
    # figures of the other workload's op kinds read 0 here
    for k in ("commit_p50_ms", "commit_p90_ms", "visible_p50_ms",
              "bytes_per_user_byte", "batch_p50_ms", "batch_p90_ms",
              "rows_per_s"):
        values.setdefault(k, 0.0)

    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    log(f"{args.workload} seed={args.seed} trace={args.trace}: "
        f"{attempted} ops in {len(walls)} passes, {len(failed_ops)} failed, "
        f"workload {res['run_s']:.1f} s")
    shown = e2e + [n for n in layer if "." not in n]
    if args.trace:
        shown += [n for n in layer if "." in n]
        shown += sorted(set(res.get("layers", {})) - set(layer))
    for k in shown:
        log(f"  {k:<36} {values.get(k, 0.0):>16.4f} {units.get(k, '')}")
    for key, why in sorted(bad.items()):
        log(f"  FAILED {key}: {why}")
    for name in sorted({o["name"] for o in ops if not o["ok"]} - set(bad)):
        err = next(o["error"] for o in ops if o["name"] == name and not o["ok"])
        log(f"  FAILED {name}: {err}")

    names = layer if args.trace else e2e
    missing = [n for n in names if n not in values]
    if missing:
        die(f"metrics not produced: {', '.join(missing)}", 5)
    line = {"correct": not failed_ops, "attempted": attempted,
            "failed": len(failed_ops),
            "metrics": {n: {"value": values[n], "unit": units[n]}
                        for n in names}}
    if not args.keys:  # a replaced key list is not the workload
        with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, **line}) + "\n")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
