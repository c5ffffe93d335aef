#!/usr/bin/env python3
"""One benchmark run: build, generate inputs, measure, print the result.

    python3 perfbench/run.py --workload <publish|rights> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline, from local caches) and records the
JVM launch line under `.bench_build/`; later runs of the same sources reuse
it. Each run gets its own scratch root under `.bench_build/runs/`, which is
also the JVM's SPARK_LOCAL_DIRS and temp directory, and removes it at exit.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything else (build log tail, Spark logs, failed-check causes) goes to
standard error. The exit code is non-zero when a check or an operation
failed, or when the checkout cannot be built.
"""

import argparse
import fcntl
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
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
HEAP = ["-Xmx3g"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's build and sources, and the
    harness's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
    return files


def build():
    """Compile once per source tree; return (classpath, jvm options, env)."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")):
        if not os.path.exists(f):
            raise SystemExit(f"perfbench: {f} is missing; run from the root "
                             "of a checkout of the program")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, f"launch-{h.hexdigest()[:16]}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(launch):
            log("building the program and the harness with sbt")
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            if "sbt.offline" not in env.get("SBT_OPTS", ""):
                env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                                   " -Dsbt.offline=true").strip()
            tmp = os.path.join(BUILD, "tmp")
            os.makedirs(tmp, exist_ok=True)
            env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
            t0 = time.time()
            with open(os.path.join(BUILD, "build.log"), "w") as out:
                rc = subprocess.call(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "benchLaunch"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL)
            if rc != 0:
                with open(os.path.join(BUILD, "build.log")) as fh:
                    sys.stderr.write("".join(fh.readlines()[-40:]))
                raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
            shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
            log(f"built in {time.time() - t0:.1f} s")
    cp, opts, env = "", [], {}
    with open(launch) as fh:
        for line in fh.read().splitlines():
            key, _, val = line.partition("=")
            if key == "cp":
                cp = val
            elif key == "opt" and not val.startswith("-Xmx"):
                opts.append(val)
            elif key == "env":
                k, _, v = val.partition("=")
                env[k] = v
    return cp, opts, env


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, opts, launch_env = build()
    run_dir = os.path.join(
        BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs = os.path.join(run_dir, "inputs")
        gen.generate(inputs, a.seed, [a.workload])
        work = os.path.join(run_dir, "work")
        local = os.path.join(run_dir, "spark-local")
        tmp = os.path.join(run_dir, "tmp")
        for d in (work, local, tmp):
            os.makedirs(d)
        result = os.path.join(run_dir, "result.json")
        env = dict(os.environ)
        env.update(launch_env)
        env["SPARK_LOCAL_DIRS"] = local
        env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = ([java] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + opts +
               ["-cp", cp, "perfbench.Main", a.workload, inputs, work,
                str(a.seconds), str(a.trace), result])
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdout=sys.stderr, stderr=sys.stderr,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        if not os.path.exists(result):
            raise SystemExit(f"perfbench: no result (JVM exit {rc})")
        with open(result) as fh:
            out = json.load(fh)
        print(json.dumps(out, separators=(",", ":")))
        sys.stdout.flush()
        if rc != 0 or not out["correct"]:
            sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
