#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness in perfbench/ (sbt, offline)
when the sources changed since the last build, runs the workload in a
fresh JVM inside its own scratch root under perfbench/.runs/, checks the
outputs, and prints as its last line one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (tracing on). The line before it holds the run environment and
the workload's detail numbers. Every result is also kept under
perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
RUNS = os.path.join(BENCH, ".runs")
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "bench.stamp")
WORKLOADS = ("stream_tail", "query_suite")
# the repository's read-only sf0.1 test data (TESTDATA.md)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
RUN_LIMIT_S = 175  # a run (build excluded) must end within 180 s
JVM_LIMIT_S = 150  # the rest is for the oracle compare
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(
        glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True)
        + [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")])
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness with sbt unless this digest is built."""
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "clean", "compile"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_dead_runs():
    """Delete scratch roots left behind by runs whose process is gone."""
    for d in glob.glob(os.path.join(RUNS, "run-*")):
        try:
            pid = int(os.path.basename(d).split("-")[1])
        except (IndexError, ValueError):
            continue
        if not pid_alive(pid):
            shutil.rmtree(d, ignore_errors=True)
            log(f"swept leftover scratch root {os.path.basename(d)}")


def shm_free_mb():
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize / 2**20
    except OSError:
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().strip()
    except OSError:
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def run_jvm(args, root, result_file, deadline):
    java_opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # a fixed heap and young generation: the resident high-water mark then
    # tracks retained (old-generation) and native memory, not how far the
    # collector happened to grow an adaptive young generation
    java_opts += ["-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cp = CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")
    cmd = ["java", *java_opts, "-cp", cp, "graftbench.Main", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), root, result_file, SF_DIR]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in ("LOCAL_DIRS", "GRAFT_SCRATCH_DIR")}
    env["GRAFT_SCRATCH_DIR"] = os.path.join(root, "graft-scratch")
    os.makedirs(os.path.join(root, "tmp"))
    jvm_log = os.path.join(root, "jvm.log")
    with open(jvm_log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log, errors="replace") as fh:
            tail = fh.read()[-6000:]
        sys.stderr.write(tail)
        raise SystemExit(f"benchmark JVM failed: {rc}")


def oracle_check(root, deadline):
    """query_suite: every query with an oracleSql must match DuckDB
    row-exact, via the repo's canonical compare."""
    out = os.path.join(root, "verify")
    r = subprocess.run([sys.executable, os.path.join(REPO, "tools", "oracle_compare.py"),
                        SF_DIR, out], capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.time()))
    checked, fails = 0, []
    for line in r.stdout.splitlines():
        if line.startswith("PASS ") or line.startswith("FAIL "):
            checked += 1
            if line.startswith("FAIL "):
                fails.append({"op": "oracle:" + line.split()[1], "status": line[:300]})
    if checked == 0:
        fails.append({"op": "oracle", "status": (r.stdout + r.stderr)[-300:]})
    return checked, fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"query data {SF_DIR} not found")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("SPARK_HOME must point at a Spark installation with jars/")
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    os.makedirs(RUNS, exist_ok=True)
    sweep_dead_runs()
    digest = source_digest()
    build(digest)

    t0 = time.time()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    root = os.path.join(RUNS, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    env = {"git_commit": git_commit(), "source_sha256": digest, "seed": args.seed,
           "nproc": os.cpu_count(), "shm_free_mb_before": shm_free_mb(),
           "loadavg_before": loadavg()}
    try:
        result_file = os.path.join(root, "result.json")
        run_jvm(args, root, result_file, t0 + JVM_LIMIT_S)
        with open(result_file) as fh:
            res = json.load(fh)
        attempted, failures = res["attempted"], list(res["failures"])
        if args.workload == "query_suite":
            checked, fails = oracle_check(root, t0 + RUN_LIMIT_S)
            attempted += checked
            failures += fails
        os.makedirs(OUT, exist_ok=True)
        spans = os.path.join(root, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(OUT, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    env.update(loadavg_after=loadavg(), shm_free_mb_after=shm_free_mb(),
               wall_s=time.time() - t0)
    res["env"].update(env)
    res["failures"] = failures
    res["error_rate"] = len(failures) / max(1, attempted)

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = res["layers"]
        untraced = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["e2e"]
            res["tracing_overhead"] = {k: res["e2e"][k] - base[k] for k in base if k in res["e2e"]}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        values = res["e2e"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    # a layer this workload never calls did no work: its measured amount is 0
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}
    with open(os.path.join(OUT, tag + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({k: res[k] for k in ("workload", "env", "details", "failures",
                                          "error_rate", "tracing_overhead") if k in res}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
