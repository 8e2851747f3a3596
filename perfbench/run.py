#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. It builds the engine and the harness from
source with sbt (once per source state; the classpath is cached under
.bench_build/), generates the workload's inputs from seeded generators,
runs one workload in one JVM on a local[nproc] Spark session, and prints
the run's report followed by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). --size toy shrinks every input for the
self-test.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("query_mix", "cte_lifecycle")
DATA_SEED = 42  # the query tables are fixed; --seed orders the queries

# Input sizes. Table scales are TPC-H scale factors (lineitem = 6M x scale).
SIZES = {
    "bench": {"query_scale": 0.01, "kernel_docs_scale": 0.1,
              "cte": {"visits": 5, "base_visits": 3, "stars": 600}},
    "toy": {"query_scale": 0.001, "kernel_docs_scale": 0.001,
            "cte": {"visits": 2, "base_visits": 1, "stars": 200}},
}

JVM_TIMEOUT_S = 170
SBT_TIMEOUT_S = 900
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_checked(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{os.path.basename(cmd[0])} timed out after {timeout} s")
    return p.returncode, out, err


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the repository root: src/main/scala/graft is missing")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} is not on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    code, out, err = run_checked(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        SBT_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1] or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        die("sbt build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def generate(script, out, args, cache):
    """Run a generator into `out`; with `cache`, reuse a finished output."""
    done = os.path.join(out, "_DONE")
    if cache and os.path.exists(done):
        return 0.0
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.monotonic()
    code, _, err = run_checked([sys.executable, os.path.join(BENCH, script), "--out", out] + args,
                               600, stderr=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(err)
        die(f"{script} failed")
    open(done, "w").close()
    return time.monotonic() - t0


def tables(scale):
    out = os.path.join(BUILD, "data", f"tables-{scale}-{DATA_SEED}")
    generate("gen_tables.py", out, ["--scale", str(scale), "--seed", str(DATA_SEED)], cache=True)
    return out


def kernel_docs(scale):
    """The documents table alone, for the kernel microbench."""
    out = os.path.join(BUILD, "data", f"documents-{scale}-{DATA_SEED}")
    generate("gen_tables.py", out, ["--scale", str(scale), "--seed", str(DATA_SEED),
                                    "--tables", "documents"], cache=True)
    return out


def cte_args(sizes, seed):
    return ["--seed", str(seed), "--visits",
            str(sizes["visits"]), "--base-visits", str(sizes["base_visits"]),
            "--stars", str(sizes["stars"])]


def run_jvm(classpath, jargs, run_dir):
    """Run perfbench.Main with scratch space under `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
              "-cp", classpath, "perfbench.Main"] + jargs)
    code, out, _ = run_checked(cmd, JVM_TIMEOUT_S, env=env, stdout=subprocess.PIPE, text=True)
    return code, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="bench")
    a = ap.parse_args()
    size = SIZES[a.size]

    classpath = build()
    run_dir = os.path.join(BUILD, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", os.path.join(run_dir, "result.json"),
             "--trace-out", os.path.join(BUILD, f"trace-{a.workload}-seed{a.seed}.jsonl"),
             "--kernel-docs", kernel_docs(size["kernel_docs_scale"])]
    gen_s = 0.0
    if a.workload == "cte_lifecycle":
        data = os.path.join(run_dir, "cte")
        gen_s = generate("gen_cte.py", data, cte_args(size["cte"], a.seed), cache=False)
        jargs += ["--data", data, "--work", os.path.join(run_dir, "work")]
    else:
        scale = size["query_scale"]
        jargs += ["--data", tables(scale), "--goldens", os.path.join(BENCH, "goldens.json"),
                  "--scale", str(scale)]

    try:
        code, out = run_jvm(classpath, jargs, run_dir)
        sys.stdout.write(out)
        if code != 0:
            die(f"benchmark JVM exited with {code}")
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.trace == 0:
        result["metrics"]["setup_s"]["value"] += gen_s
    print(json.dumps(result))


if __name__ == "__main__":
    main()
