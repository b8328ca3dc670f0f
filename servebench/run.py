#!/usr/bin/env python3
"""Serving benchmark for graft: builds the engine and the benchmark from
source (offline), runs one workload, and prints one JSON result line last.

  python3 servebench/run.py --workload resident-exact --seed 1 --seconds 10 --trace 0
  python3 servebench/run.py steady --workload local-ivf --runs 5 [--seed0 1] [--trace 0]
  python3 servebench/run.py selftest

Run it from the repository root. Everything it writes stays under
servebench/ (build output in servebench/target, runs in servebench/.work,
logs and span dumps in servebench/out) plus the engine's own target/ dirs.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_newer_than(stamp):
    """True when any engine or benchmark source or build file is newer than `stamp`."""
    t = os.path.getmtime(stamp)
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return any(os.path.getmtime(f) > t for f in files if os.path.exists(f))


def build():
    """Compile engine + benchmark with sbt, offline; writes target/classpath.txt."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to servebench/ (run from a full checkout)")
    if os.path.isfile(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.offline=true -Dsbt.override.build.repos=true "
                       "-Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log, "w") as f:
        p = subprocess.Popen([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"build timed out; see {log}")
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (rc={rc}); see {log}")
    print(f"servebench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def java_cmd(args, work):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", cp, "servebench.Main"] + args)


def run_once(workload, seed, seconds, trace):
    """Runs one workload; returns (exit code, last stdout line)."""
    build()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, f"{workload}-{seed}-trace{trace}.log")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", OUT]
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(java_cmd(args, work), cwd=REPO, stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL, text=True,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                kill(p)
                print(f"servebench: run timed out after {RUN_TIMEOUT_S} s; see {log}", file=sys.stderr)
                return 3, None
        lines = [l for l in out.splitlines() if l.strip()]
        if p.returncode != 0 or not lines:
            print(f"servebench: run failed (rc={p.returncode}); see {log}", file=sys.stderr)
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-15:]))
            return p.returncode or 4, None
        return 0, lines[-1]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def steady(a):
    """Runs one workload N times on consecutive seeds and prints, per metric,
    the median, the quartiles and the relative spread (IQR / median)."""
    values, failed = {}, []
    for i in range(a.runs):
        seed = a.seed0 + i
        rc, line = run_once(a.workload, seed, a.seconds, a.trace)
        if rc != 0:
            fail(f"seed {seed}: run failed", rc)
        r = json.loads(line)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        failed.append(r["failed"] / r["attempted"])
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}, "
          f"failed share {sorted(set(failed))}")
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for k, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / q2 if q2 else float("nan")
        print(f"{k:34s} {q2:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "steady":
        ap = argparse.ArgumentParser(prog="run.py steady")
        ap.add_argument("--workload", required=True)
        ap.add_argument("--runs", type=int, default=5)
        ap.add_argument("--seed0", type=int, default=1)
        ap.add_argument("--seconds", type=int, default=10)
        ap.add_argument("--trace", type=int, default=0)
        steady(ap.parse_args(sys.argv[2:]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "selftest":
        build()
        work = os.path.join(WORK, f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            rc = subprocess.call(java_cmd(["--selftest"], work), cwd=REPO, stdin=subprocess.DEVNULL)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(rc)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    rc, line = run_once(a.workload, a.seed, a.seconds, a.trace)
    if rc != 0:
        sys.exit(rc)
    print(line)


if __name__ == "__main__":
    main()
