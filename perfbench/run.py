#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload cpi_daily --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source on first use (sbt, in
perfbench/), runs the workload in one JVM with Spark local[n], n <= 4,
and prints one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the spans and the per-layer table are written next to the result under
.bench_out/. Everything the run writes stays inside the checkout.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-sources.sha256")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs a command in its own process group and waits for it; the
    group is killed on timeout or when this script is terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("terminated")

    old = signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        signal.signal(signal.SIGTERM, old)
    return proc.returncode, out


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.server.autostart=false -Dsbt.offline=true")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    if code != 0:
        sys.stderr.write(out)
        raise SystemExit(f"build failed (exit {code})")
    lines = [l for l in out.splitlines()
             if os.path.join("target", "scala-2.13", "classes") in l]
    if not lines:
        sys.stderr.write(out)
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    started = time.time()
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, tag)
    if os.path.exists(out + ".json"):
        os.remove(out + ".json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # no hsperfdata file under the system temp dir: the run writes
        # only inside the checkout
        "-Xms1g", "-Xmx1g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out]
    env = dict(os.environ, PERFBENCH_GIT_HEAD=git_head())
    env.pop("SPARK_LOCAL_DIRS", None)
    try:
        code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                            stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr)
    except subprocess.TimeoutExpired:
        raise SystemExit("workload timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out + ".json"):
        raise SystemExit(f"workload exited {code} without a result")
    with open(out + ".json") as f:
        res = json.load(f)
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        got = res[section].get(m["name"])
        if got is None:
            raise SystemExit(f"harness did not report {m['name']}")
        if got["unit"] != m["unit"]:
            raise SystemExit(f"{m['name']}: unit {got['unit']} != {m['unit']}")
        metrics[m["name"]] = got
    for f in res["failures"]:
        log(f"failure: {f}")
    mach = res["machine"]
    log(f"{tag}: correct={res['correct']} attempted={res['attempted']} "
        f"failed={res['failed']} spin_ratio={mach['spin_ratio']:.2f} "
        f"contended={mach['contended']} wall={time.time() - started:.1f}s")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
