#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
runtime classpath under the build directory ($CARGO_TARGET_DIR, default
.bench_build), keyed by a digest of every source and build file; later
runs start one fresh JVM on that classpath, so sbt start-up never counts
in a measurement. The last stdout line is the result object
({"correct", "attempted", "failed", "metrics"}); the lines before it carry
the run's metadata and the workload's own named metrics. Each result is
also kept as JSON under <build dir>/results/ for perfbench/compare.py.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_admit", "search_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_OPTS = [
    "-Xmx3g",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, in a stable order."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, digest):
    """Compile with sbt once per source digest; return the classpath."""
    cp_file = os.path.join(build_dir, f"classpath-{digest[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, out_dir, cpus, build_dir):
    """Run Main in a fresh JVM; return (exit code, stdout, peak RSS MB)."""
    spark_tmp = os.path.join(build_dir, "tmp")
    os.makedirs(spark_tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    stdout_path = os.path.join(out_dir, "stdout.txt")
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={spark_tmp}",
        f"-Dspark.local.dir={spark_tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
        "-cp", cp, "perfbench.Main"] + args)
    with open(stdout_path, "w") as out, \
            open(os.path.join(out_dir, "stderr.txt"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, env=env,
                             stdin=subprocess.DEVNULL, cwd=ROOT)

        def stop(signum, _frame):
            p.kill()
            os.waitpid(p.pid, 0)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                p.kill()
                pid, status, usage = os.wait4(p.pid, 0)
                break
            time.sleep(0.05)
        p.returncode = os.waitstatus_to_exitcode(status)
    with open(stdout_path) as fh:
        stdout = fh.read()
    return p.returncode, stdout, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    digest = source_digest()
    cp = build(build_dir, digest)

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    out_dir = os.path.join(build_dir, "results", run_id)
    work_dir = os.path.join(build_dir, "work", run_id)
    os.makedirs(out_dir, exist_ok=True)
    code, stdout, rss_mb = run_jvm(cp, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work", work_dir, "--out", out_dir], out_dir, cpus, build_dir)
    shutil.rmtree(work_dir, ignore_errors=True)
    lines = {l.split(" ", 1)[0]: l.split(" ", 1)[1]
             for l in stdout.splitlines() if l.startswith(("DETAIL ", "RESULT "))}
    if code != 0 or "RESULT" not in lines:
        fail(f"run failed (exit {code}); see {out_dir}/stderr.txt")
    result = json.loads(lines["RESULT"])
    detail = json.loads(lines["DETAIL"])
    detail["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}

    wanted = spec["end_to_end"] if a.trace == "0" else spec["per_layer"]
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"], {"value": 0.0})["value"]
        if a.trace == "0" and not v:
            result["correct"] = False
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": int(a.trace), "cores": cpus, "commit": commit(),
            "source_digest": digest, "spark_graft_cpus": cpus}
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump({"meta": meta, "detail": detail, "result": result,
                   "all_metrics": result["metrics"]}, fh, indent=1)
    print(json.dumps({"meta": meta}))
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": bool(result["correct"]),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
