#!/usr/bin/env python3
"""Benchmark of the graft k-means engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (once per source
state; outputs go to .bench_build/), runs one workload in a single JVM
on local[nproc], prints every metric it measured with its unit, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. Spans, logs and full results (with the
machine fingerprint) are written under .bench_out/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Parallel GC with a fixed 1 GB young generation: G1's adaptive sizing
# made both the call times and the peak RSS spread 10-15% run to run.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd, killing it (and waiting for it) if it outlives timeout."""
    p = subprocess.Popen(cmd, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode


def build():
    """Compiles the engine and harness; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not jars:
        fail("the engine's build.sbt names no unmanagedBase for the Spark jars")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as f:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          f"-Dperfbench.sparkJars={jars.group(1)}", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(spec_path):
        fail(f"{ROOT} is not a graft checkout (no build.sbt, src/main/scala or BENCHMARK.json)")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = os.path.join(OUT, tag)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--out", out])
    log = os.path.join(OUT, f"{tag}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
    result = None
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line, end="")
            if time.time() > deadline:
                break
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    # the inputs are regenerated from the seed on every run; keep only
    # spans, logs and results
    for name in os.listdir(out):
        path = os.path.join(out, name)
        if name.endswith(".txt"):
            os.remove(path)
        elif name in ("tmp", "spark-local", "warehouse"):
            shutil.rmtree(path, ignore_errors=True)
    if p.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark process failed (exit {p.returncode}); log in {log}")

    measured = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {missing}")
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)
    print("fingerprint " + " ".join(f"{k}={v}" for k, v in result["fingerprint"].items()))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: measured[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
