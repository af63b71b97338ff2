#!/usr/bin/env python3
"""Benchmark driver for the graft ETL engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke 1]

Builds the engine and the harness from the checkout's sources with sbt
(offline; skipped when the sources are unchanged since the last build), runs
one workload in one JVM (perfbench.Main), checks the outputs and prints, as
the last line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The line before it is the host stamp.
With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. Everything the run writes stays under
perfbench/.work and perfbench/target.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target", "perfbench-build")
# a run must end within 180 s once built; the first build may take 900 s
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150
PARITY_TIMEOUT_S = 20
HEAP = "3g"
JDK17_OPENS = [
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


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout the whole group is
    killed and waited for. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def source_digest():
    """Digest of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(BUILD, "digest")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                + opts)
    env["SBT_OPTS"] = opts
    t0 = time.time()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = f.read().strip().splitlines()
    if rc != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def run_jvm(cp, args, work):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--smoke", str(args.smoke), "--work", work,
            "--bench", HERE, "--python", sys.executable]
    env = dict(os.environ)
    env["LOG_DIR"] = os.path.join(work, "logs")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=work, env=env, stdout=log,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_parity(stamp, work):
    """DuckDB parity of the gate queries, outside the timed runs."""
    log_path = os.path.join(work, "parity.log")
    with open(log_path, "w") as log:
        rc = run_group([sys.executable, os.path.join(ROOT, "tools", "check_parity.py"),
                        os.path.join(work, stamp["shape"]["tables"]),
                        os.path.join(work, "verify")], PARITY_TIMEOUT_S,
                       stdout=log, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        out = f.read().strip()
    m = re.search(r"(\d+)/(\d+) queries match", out)
    ok = rc == 0 and m is not None and m.group(1) == m.group(2) \
        and int(m.group(2)) == len(stamp["shape"]["queries"])
    if not ok:
        sys.stderr.write(out[-3000:] + "\n")
    return ok, out.splitlines()[-1] if out else ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_json) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    cp = build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work)
        stamp = res["stamp"]
        if args.workload == "gate_queries_mix":
            ok, line = check_parity(stamp, work)
            res["attempted"] += 1
            if not ok:
                res["failed"] += 1
                res["correct"] = False
            stamp["parity"] = line
        got = res["metrics"]
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            if m["name"] in got:
                metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
            elif args.trace:
                # a layer this workload does not pass through did no work
                metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            else:
                fail(f"metric {m['name']} not measured")
        if args.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        print(json.dumps({"stamp": stamp}))
        print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                          "attempted": res["attempted"], "failed": res["failed"],
                          "metrics": metrics}))
    finally:
        if os.path.isfile(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(WORK, "last-jvm.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
