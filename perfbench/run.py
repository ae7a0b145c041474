#!/usr/bin/env python3
"""Benchmark runner for the graft medallion platform and curation library.

Run from the repository root:

    python3 perfbench/run.py --workload medallion_day --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

It compiles the program (src/main/scala) together with the benchmark's own
Scala sources (perfbench/src) with the Scala compiler shipped in the Spark
jars the build uses, caches the classes under .bench_build/, runs one JVM per
workload at local[nproc], and prints every metric by name with its unit.
The last stdout line is one JSON object: correct, attempted, failed, metrics.
--trace 1 reports the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["medallion_day", "corpus_curation", "stream_ingest"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these outside spark-submit (as build.sbt sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the program builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars, else the jars beside spark-submit on PATH."""
    candidates = []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars with a Scala compiler found (build.sbt unmanagedBase, "
         "$SPARK_HOME, spark-submit on PATH)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("program sources src/main/scala not found: run from the repository root")
    if not bench:
        fail("benchmark sources perfbench/src not found")
    return main + bench


def build(jars):
    """Compile program + benchmark once per source tree; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    try:
        r = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if r.returncode != 0:
        fail(f"compile failed with exit code {r.returncode}")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    """A quarter of host memory, between 1 and 2 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(1024, min(2048, kb // 1024 // 4))
    except (OSError, StopIteration):
        return 1024


def run_jvm(workload, seed, seconds, trace, classes, jars, params):
    """One workload in its own JVM; returns (result dict or None, peak RSS
    beyond the Java heap in MB)."""
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    # a fixed, pre-touched heap: the heap's share of RSS is then a constant
    # that is taken off, and what is left moves only with what the program
    # holds outside the heap (how far G1 grows an unfixed heap varies with
    # timing from run to run)
    heap = heap_mb()
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--dir", run_dir, "--cores", str(cores())]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=run_dir, start_new_session=True)
    result = None
    deadline = time.time() + RUN_TIMEOUT_S

    def on_timeout(*_):
        os.killpg(proc.pid, signal.SIGKILL)

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(f"  [{workload}] {line.rstrip()}", flush=True)
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        signal.alarm(0)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(BUILD, "traces", f"{workload}-{seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    if time.time() > deadline:
        print(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s and was killed", file=sys.stderr)
        result = None
    elif proc.returncode != 0:
        print(f"perfbench: {workload} JVM exited with {proc.returncode}", file=sys.stderr)
        if result is not None:
            # it reported, then died on the way out: a failed operation
            result["attempted"] += 1
            result["failed"] += 1
            result["correct"] = False
    return result, usage.ru_maxrss / 1024.0 - heap


def run_key(workload, seed, seconds, classes, params):
    """Names what one run measured: workload, seed, run length, build and
    parameters (not --trace: traced and untraced runs must agree)."""
    h = hashlib.sha256((os.path.basename(classes) + json.dumps(params, sort_keys=True)).encode())
    return f"{workload}-{seed}-{seconds!r}-{h.hexdigest()[:12]}"


def fmt(v):
    return "null" if v is None else repr(float(v))


def run_workload(name, args, spec, params_all, classes, jars):
    """Returns (correct, attempted, failed, metrics {name: {value, unit}})."""
    cfg = params_all[name]
    key = run_key(name, args.seed, args.seconds, classes, cfg["params"])
    res, rss = run_jvm(name, args.seed, args.seconds, args.trace, classes, jars, cfg["params"])
    if res is None:
        fail(f"{name}: no result")
    e2e = dict(res["end_to_end"])
    e2e["rss_beyond_heap_mb"] = {"value": rss, "unit": "MB"}
    attempted, failed = res["attempted"], res["failed"]
    correct = res["correct"]
    if res["fingerprint"] is not None:
        # outputs that must repeat for a seed: compare with earlier runs
        path = os.path.join(BUILD, "fingerprints", key + ".txt")
        if os.path.exists(path):
            with open(path) as f:
                before = f.read().strip()
            ok = before == res["fingerprint"]
            print(f"check {'ok  ' if ok else 'FAIL'} {name} output digest matches earlier runs "
                  f"of seed {args.seed} ({res['fingerprint']})")
            correct = correct and ok
        else:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(res["fingerprint"] + "\n")
    for fc in res["failed_checks"]:
        print(f"perfbench: {name}: output check failed: {fc}", file=sys.stderr)
    print(f"workload {name} seed {args.seed} trace {args.trace}: "
          f"{res['checks']} checks, correct={correct}, attempted={attempted}, failed={failed}")
    print(f"metric {name}.failed_ratio {failed / max(1, attempted)!r} ratio")
    for k, m in list(e2e.items()) + list(res["named"].items()):
        print(f"metric {name}.{k} {fmt(m['value'])} {m['unit']}")

    untraced = os.path.join(BUILD, "untraced", f"{key}.json")
    if args.trace == 0:
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump(e2e, f)
        wanted = spec["end_to_end"]
        have = e2e
    else:
        layer = dict(res["per_layer"])
        if not os.path.exists(untraced):
            # the tracing overhead is traced minus untraced: measure the
            # untraced side too when this checkout has none. Its output
            # digest is compared with this run's, so its checks count here.
            base_ok = run_workload(name, argparse.Namespace(**{**vars(args), "trace": 0}),
                                   spec, params_all, classes, jars)[0]
            correct = correct and base_ok
        with open(untraced) as f:
            base = json.load(f)
        traced, plain = e2e["op_ms"]["value"], base["op_ms"]["value"]
        layer["trace.overhead_ms"] = {"value": traced - plain, "unit": "ms"}
        layer["trace.overhead_ratio"] = {"value": traced / plain - 1.0, "unit": "ratio"}
        for k, m in sorted(layer.items()):
            print(f"layer {name}.{k} {fmt(m['value'])} {m['unit']}")
        wanted = spec["per_layer"]
        # a layer this workload does not call into did no work: 0
        for m in wanted:
            if m["name"] not in layer and m["name"].split(".")[0] not in cfg["layers"]:
                layer[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        have = layer
    metrics = {}
    for m in wanted:
        if m["name"] not in have or have[m["name"]]["value"] is None:
            print(f"perfbench: {name} did not report {m['name']}", file=sys.stderr)
            correct = False
            continue
        metrics[m["name"]] = {"value": have[m["name"]]["value"], "unit": m["unit"]}
    return correct, attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "params.json")) as f:
        params_all = json.load(f)
    jars = spark_jars()
    classes = build(jars)

    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        results[name] = run_workload(name, args, spec, params_all, classes, jars)

    correct = all(r[0] for r in results.values())
    attempted = sum(r[1] for r in results.values())
    failed = sum(r[2] for r in results.values())
    if len(names) == 1:
        metrics = results[names[0]][3]
    else:
        metrics = {f"{n}.{k}": m for n, r in results.items() for k, m in r[3].items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
