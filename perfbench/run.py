#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first call builds
the program and the benchmark with sbt (offline) under `.bench_build/`,
then fills the workload's caches (the stub node's encoded responses and
the reference digests) in a JVM of its own; later calls reuse both while
the sources are unchanged. Each call starts one JVM that runs the
workload from `perfbench/src`, checks its outputs and prints a result
line. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Untraced results are kept under `.bench_build/` per source stamp. A
`--trace 1` call adds `trace_overhead.<metric>` to the per-layer metrics:
the traced run's end-to-end value minus the median of the kept untraced
values (one untraced run is made first when none is kept).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("freeze_rpc", "follow_head")
BENCH = "perfbench"
BUILD = os.path.join(".bench_build", "perfbench")
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 600
PREPARE_TIMEOUT_S = 240
E2E = ("setup_s", "wall_s", "chunk_latency_p50_s", "node_requests_per_block")

# The module options Spark's launcher adds on JDK 17
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# What the program needs from the checkout, and what stamps a build.
REQUIRED = ["build.sbt", "project/build.properties", "src/main/scala",
            "fixtures/chain_sf0.1", BENCH + "/build.sbt"]
STAMPED = ["build.sbt", "project/build.properties", "src/main",
           BENCH + "/build.sbt", BENCH + "/project/build.properties",
           BENCH + "/src"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (code, stdout). On
    a timeout or any error the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_stamp():
    h = hashlib.sha256()
    for top in STAMPED:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    """sbt offline, resolving through the user's sbt repositories file
    when there is one (the artifact cache is keyed by repository)."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Returns the runtime classpath, building once per source stamp."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            t0 = time.time()
            code, out = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=BENCH, env=sbt_env(),
                stderr=subprocess.STDOUT)
            lines = [l for l in out.splitlines() if l.strip()]
            if code != 0 or not lines or lines[-1].startswith("["):
                sys.stderr.write(out[-4000:])
                fail("build failed")
            with open(cp_file + ".tmp", "w") as fh:
                fh.write(lines[-1].strip())
            os.replace(cp_file + ".tmp", cp_file)
            print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(cp_file) as fh:
        return fh.read().strip()


def heap():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gib = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{gib}g"


def jvm_cmd(cp, stamp, args, work, traced, prepare=False):
    cache = os.path.abspath(os.path.join(BUILD, f"cache-{stamp}"))
    return (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/warehouse"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Run",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "1" if traced else "0",
            "--repo", os.getcwd(), "--work", work, "--cache", cache,
            "--prepare", "1" if prepare else "0"])


def work_dir(args, tag):
    work = os.path.abspath(os.path.join(
        BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{tag}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def prepare(cp, stamp, args):
    """Fills the run's caches (node responses, reference digests) once
    per source stamp, in a JVM of its own so measured runs start cold."""
    marker = os.path.join(BUILD, f"prepared-{stamp}-{args.workload}-{args.seconds}")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker):
            return
        work = work_dir(args, "prepare")
        try:
            code, _ = run_group(jvm_cmd(cp, stamp, args, work, False, True),
                                PREPARE_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            fail(f"preparing {args.workload} failed")
        open(marker, "w").close()


def run_jvm(cp, stamp, args, traced, deadline):
    work = work_dir(args, int(traced))
    cmd = jvm_cmd(cp, stamp, args, work, traced)
    try:
        code, out = run_group(cmd, deadline - time.time())
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                BUILD, "spans", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{args.workload} did not finish in {RUN_BUDGET_S}s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        fail(f"{args.workload} exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        fail("not a checkout of the program; missing " + ", ".join(missing))
    stamp = source_stamp()
    cp = build(stamp)
    prepare(cp, stamp, args)
    deadline = time.time() + RUN_BUDGET_S
    history = os.path.join(BUILD, f"untraced-{stamp}-{args.workload}.jsonl")

    def untraced():
        details, result = run_jvm(cp, stamp, args, False, deadline)
        if result["correct"]:
            with open(history, "a") as fh:
                fh.write(json.dumps(result["metrics"]) + "\n")
        return details, result

    if args.trace:
        if not os.path.exists(history) and not untraced()[1]["correct"]:
            fail(f"{args.workload} gave wrong output untraced")
        with open(history) as fh:
            kept = [json.loads(l) for l in fh if l.strip()]
        details, result = run_jvm(cp, stamp, args, True, deadline)
        for k in E2E:
            traced = result["metrics"][f"traced.{k}"]
            result["metrics"][f"trace_overhead.{k}"] = {
                "value": traced["value"] -
                statistics.median(m[k]["value"] for m in kept),
                "unit": traced["unit"]}
    else:
        details, result = untraced()
    for line in details:
        print(line)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
