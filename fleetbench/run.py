#!/usr/bin/env python3
"""fleetbench: one workload of the SSIDentity fleet benchmark, in a fresh JVM.

    python3 fleetbench/run.py --workload fleet_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness offline with sbt (into fleetbench/target, outside every timed
window); later runs reuse the build while the sources are unchanged.
Prints one detail line, then the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the spans are written
to fleetbench/traces/. Exits non-zero, without a result line, when the
program cannot be built or the workload crashes.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("fleet_ingest", "fleet_analytics")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "fleetbench.sources.sha256")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# The Spark/JDK flags the program's own build.sbt forks its JVMs with.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"fleetbench: {msg}", file=sys.stderr)
    sys.exit(code)


def toolchain_env():
    """The process environment, completed from a login shell when the
    toolchain variables (SPARK_HOME, sbt on PATH) are missing: the image
    sets them in its shell profile, which a non-login caller skips."""
    env = dict(os.environ)
    if env.get("SPARK_HOME") and shutil.which("sbt", path=env.get("PATH", "")):
        return env
    try:
        raw = subprocess.run(["bash", "-lc", "env -0"], capture_output=True,
                             timeout=60, stdin=subprocess.DEVNULL).stdout
    except (OSError, subprocess.TimeoutExpired):
        return env
    login = dict(kv.split("=", 1) for kv in raw.decode(errors="replace").split("\0") if "=" in kv)
    for k in ("SPARK_HOME", "JAVA_HOME", "COURSIER_MODE", "SBT_OPTS",
              "SPARK_LOCAL_IP", "SPARK_LOCAL_HOSTNAME"):
        if k in login and not env.get(k):
            env[k] = login[k]
    env["PATH"] = login.get("PATH", "") + os.pathsep + env.get("PATH", "")
    return env


def sources_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Compile the program's sources with the harness, offline. A stale
    or foreign build is cleaned first, so only classes compiled from the
    current sources are ever on the classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        die(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}: nothing to benchmark")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    benv.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                    f"-Dsbt.repository.config={repo_cfg} -Dsbt.offline=true -Xmx4g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "clean", "compile"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=benv, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.isdir(CLASSES):
        die(f"build failed (exit {p.returncode})", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"fleetbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(env, args, work, out, trace_out, data):
    spark_jars = os.path.join(env["SPARK_HOME"], "jars", "*")
    jenv = dict(env)
    jenv.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    jenv.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars}",
            "fleetbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--data", data, "--out", out, "--trace-out", trace_out, "--cpus", str(cpus)])
    # the JVM stays in run.py's process group, so whoever stops that
    # group stops it too; every other way out of run.py kills it here
    p = subprocess.Popen(cmd, cwd=work, env=jenv, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        die(f"{args.workload} crashed (exit {rc})", 5)


def ensure_python_deps():
    """The DuckDB check needs duckdb and pandas. A caller whose python3 is
    not the image's (a non-login shell) is re-run under the login shell's
    python3 once."""
    import importlib.util
    if all(importlib.util.find_spec(m) for m in ("duckdb", "pandas")):
        return
    if os.environ.get("FLEETBENCH_REEXEC"):
        die("python3 lacks duckdb or pandas, which the output checks need")
    os.environ["FLEETBENCH_REEXEC"] = "1"
    os.execvp("bash", ["bash", "-lc", 'exec python3 "$0" "$@"', os.path.abspath(__file__)]
              + sys.argv[1:])


def stop_on_signal(signum, _frame):
    """SIGTERM and SIGHUP leave through the same cleanup as an error:
    the JVM or sbt child is killed and the work directory removed."""
    raise SystemExit(128 + signum)


def main():
    ensure_python_deps()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, stop_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.path.expanduser(os.path.join("~", "testdata", "sf0.01")),
                    help="read-only sf tables for fleet_analytics")
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")

    env = toolchain_env()
    if not env.get("SPARK_HOME"):
        die("SPARK_HOME is not set and no login shell provides it")
    build(env)
    if args.workload == "fleet_analytics" and not os.path.isdir(args.data):
        die(f"fleet_analytics needs the sf tables at {args.data}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "outcome.json")
    trace_out = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        run_jvm(env, args, work, out, trace_out, args.data)
        with open(out) as fh:
            res = json.load(fh)
        if args.workload == "fleet_analytics":
            import oracle
            res["checks"] += oracle.check(os.path.join(work, "results"), args.data)
            res["correct"] = res["correct"] and not res["checks"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "checks": res["checks"],
                      "detail": res["detail"], "self_ms": res["self_ms"]}, sort_keys=True))
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
