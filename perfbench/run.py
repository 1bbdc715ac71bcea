#!/usr/bin/env python3
"""Benchmark of the engine's 728 query keys, end to end and per layer.

    python3 perfbench/run.py --workload ordered --seed 1 --seconds 21 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt; later runs reuse the build while the sources are
unchanged. A run samples the workload's keys from the seed, checks each
key's output against the DuckDB oracle in an untimed pass, then times
passes over the keys in one closed loop (one client, one key at a time)
for about --seconds. It prints every metric by name and unit, and as
its last line one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See README.md.

Fixtures: $PERFBENCH_SF_DIR, else ~/testdata/sf0.1, else the sf 0.1
directory the repository's TESTDATA.md names.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "runtime.classpath")
STAMP = os.path.join(WORK, "build.stamp")
HEAP = "4g"
# setup_s is the median of this many engine processes' set-ups: the
# measured run's own, and the rest from processes that only set up.
SETUPS = 3
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fixture_dir():
    """The sf0.1 fixture directory, or None."""
    candidates = [os.environ.get("PERFBENCH_SF_DIR"),
                  os.path.expanduser("~/testdata/sf0.1")]
    testdata = os.path.join(ROOT, "TESTDATA.md")
    if os.path.isfile(testdata):
        with open(testdata) as f:
            candidates += re.findall(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    return next((os.path.normpath(d) for d in candidates
                 if d and os.path.isfile(os.path.join(d, "lineitem.parquet"))), None)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark unless the sources are
    unchanged since the last build; return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                with open(CLASSPATH) as c:
                    return c.read()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "writeClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed ({rc}); see {log}", 3)
    with open(STAMP, "w") as f:
        f.write(digest)
    with open(CLASSPATH) as c:
        return c.read()


def run_jvm(classpath, plan, log_path, timeout_s=JVM_TIMEOUT_S):
    plan_path = os.path.join(WORK, "plan.txt")
    with open(plan_path, "w") as f:
        for k, v in plan.items():
            for x in (v if isinstance(v, list) else [v]):
                f.write(f"{k} {x}\n")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap size keeps GC sizing the same from run to run; it is
    # not pre-touched, so peak RSS counts only the pages the run used.
    # No perf-data file outside the checkout.
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", classpath,
           "perfbench.Runner", plan_path]
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=timeout_s).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"engine run failed ({rc}); see {log_path}", 4)
    with open(plan["out"]) as f:
        return json.load(f)


def fmt(v):
    return "null" if v is None or (isinstance(v, float) and math.isinf(v)) else repr(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(bench.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no engine sources next to {HERE} (expected build.sbt and "
            "src/main/scala/graft at the repository root)")
    sf_dir = fixture_dir()
    if sf_dir is None:
        die("no sf0.1 fixtures found (set PERFBENCH_SF_DIR)")

    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    spec = bench.WORKLOADS[args.workload]
    pools = bench.load_pools()
    keys = bench.sample(args.workload, args.seed, pools)
    passes = bench.passes_for(args.workload, args.seconds)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = {
        "sf_dir": sf_dir, "work_dir": run_dir,
        "out": os.path.join(run_dir, "result.json"),
        "cores": len(os.sched_getaffinity(0)),
        "warmups": 1, "passes": passes, "trace": args.trace, "action": spec["action"],
        "check": 1, "key": keys,
    }
    # Processes that only set up, each from process start to a warm
    # session, so setup_s is a median of separate cold starts.
    setups = [run_jvm(classpath, {**plan, "out": os.path.join(run_dir, f"setup{i}.json"),
                                  "warmups": 0, "passes": 0, "check": 0},
                      os.path.join(WORK, "setup.log"))["setup_s"]
              for i in range(1, SETUPS)]
    t0 = time.time()
    result = run_jvm(classpath, plan, os.path.join(WORK, "engine.log"))
    jvm_s = time.time() - t0
    setups.append(result["setup_s"])

    import oracle  # pandas and duckdb load only when a run gets this far
    orc = oracle.Oracle(sf_dir, os.path.join(WORK, "oracle-cache"))
    check_failures = {}
    for c in result["checks"]:
        why = (f"threw: {c['error']}" if not c["ok"] else
               orc.check(result["oracle_sql"][c["key"]],
                         os.path.join(run_dir, "check", c["key"])))
        if why:
            check_failures[c["key"]] = why
    # A timed count is the timed path's own output: it must equal the
    # oracle's row count. A timed write is the check pass's path.
    oracle_rows = {} if spec["action"] != "count" else {
        k: len(orc.expected(result["oracle_sql"][k]))
        for k in set(keys) if k not in check_failures}
    failed = bench.failures(result, check_failures, oracle_rows)
    e2e, tail_info = bench.end_to_end(result, failed, setups)

    print(f"workload {args.workload} seed {args.seed}: {len(keys)} keys x "
          f"{passes} passes ({args.trace and 'alternating untraced/traced' or 'untraced'}), "
          f"{result['cores']} cores, engine process {jvm_s:.1f} s")
    print("keys " + " ".join(keys))
    print("setups " + " ".join(f"{s:.3f}" for s in setups) +
          " s (each from process start, in separate processes)")
    print("failed " + json.dumps(sorted(failed)))
    for k, why in sorted(failed.items()):
        print(f"  {k}: {why}")
    for name, unit in bench.END_TO_END_UNITS.items():
        note = ""
        if name == "key_tail_s":
            pct = tail_info["tail_pct"]
            note = (f"  (p{pct:.1f} of {tail_info['timings']} key timings)" if pct
                    else f"  (no percentile has {bench.TAIL_BEYOND} of "
                    f"{tail_info['timings']} key timings beyond it)")
        print(f"{name} {fmt(e2e[name])} {unit}{note}")

    if args.trace:
        layers = bench.per_layer(result)
        for name, unit in bench.PER_LAYER_UNITS.items():
            print(f"{name} {fmt(layers.get(name))} {unit}")
        trace_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(bench.trace_artifact(args.workload, args.seed, result, failed),
                      f, indent=1)
        print(f"trace {trace_path}")
        metrics = {n: {"value": layers.get(n), "unit": u}
                   for n, u in bench.PER_LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in bench.END_TO_END_UNITS.items() if n not in bench.UNGATED}
    for m in metrics.values():
        if isinstance(m["value"], float) and math.isinf(m["value"]):
            m["value"] = None
    # Keep the raw result of the last run for inspection; drop its outputs.
    os.replace(plan["out"], os.path.join(WORK, "last-result.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(set(keys)),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
