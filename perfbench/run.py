#!/usr/bin/env python3
"""End-to-end benchmark of the ETL product path.

    python3 perfbench/run.py --workload <etl-ticks|etl-bulk> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the program and the
harness from source with sbt (skipped when the sources are unchanged),
generates the workload's inputs from the seed (cached per seed, not timed),
then runs the workload in a fresh JVM. The last line of stdout is one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` every
timed operation is traced and the metrics are the per-layer ones. See
perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ("etl-ticks", "etl-bulk")
# Each run does a fixed amount of work, so its state (warehouse size, file
# counts) is the same on every machine; --seconds picks that amount, sized
# so the timed phase lasts about that long on a 4-core box.
TICK_S = {"etl-ticks": 6.0, "etl-bulk": 7.0}  # about one warm tick's wall time
# untimed ticks before the timed ones: the first ticks of a JVM run 2x slower
# while the JIT warms up, so timing them would make the median drift
WARMUP = 2
WORKLOAD_TIMEOUT_S = 150

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main"),
            os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "project", "build.properties"),
            os.path.join("perfbench", "src")]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program + harness; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        # sbt's classes live under perfbench/target, outside this stamp's
        # directory: rebuild if they were removed
        if cached.get("fingerprint") == fp and all(os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        # sbt's global state goes under the checkout, and no server is started
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-Dsbt.global.base=" + os.path.join(WORK, "sbt"), "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=850,
        )
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def ops_for(workload, seconds):
    return max(3, round(seconds / TICK_S[workload]))


def inputs_for(workload, seed, ops):
    """Generated inputs, cached per seed (only the latest seed is kept)."""
    root = os.path.join(WORK, "inputs")
    name = f"{workload}-seed{seed}-ops{ops}"
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(workload + "-"):
            shutil.rmtree(os.path.join(root, old))
    gen.generate(workload, seed, path, n_drops=WARMUP + ops)
    open(os.path.join(path, "DONE"), "w").close()
    return path


def java_cmd(classpath, run_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    flags = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    flags += [
        # a fixed-size heap: no heap resizing while the ticks are timed
        "-Xms2g",
        "-Xmx2g",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=127.0.0.1",
        "-Dspark.driver.bindAddress=127.0.0.1",
        "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "spark-warehouse"),
        # keep whole call-site stacks so deep frames can be attributed
        "-Dspark.callstack.depth=1024",
    ]
    return [java] + flags + ["-cp", classpath, "perfbench.Harness"] + args


def launch(classpath, run_dir, args):
    """The workload's JVM; returns its JSON result."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    env.pop("SPARK_LOCAL_DIRS", None)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    launched_ms = str(int(time.time() * 1000))
    with open(os.path.join(run_dir, "workload.log"), "w") as log:
        proc = subprocess.run(
            java_cmd(classpath, run_dir, args + ["--launched-ms", launched_ms]),
            cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=WORKLOAD_TIMEOUT_S,
        )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"the workload JVM failed (exit {proc.returncode}); see {os.path.join(run_dir, 'workload.log')}")
    with open(os.path.join(run_dir, "workload.json"), "w") as f:
        f.write(lines[-1] + "\n")
    return json.loads(lines[-1])


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the program's sources (build.sbt, src/main) are not next to perfbench/")
    classpath = build()
    ops = ops_for(a.workload, a.seconds)
    inputs = inputs_for(a.workload, a.seed, ops)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    res = launch(classpath, run_dir, [
        "--workload", a.workload, "--inputs", inputs, "--work", run_dir,
        "--ops", str(ops), "--warmup", str(WARMUP), "--trace", str(a.trace),
    ])

    ticks = [o for o in res["ops"] if o["kind"] == "tick"]
    noops = [o for o in res["ops"] if o["kind"] == "noop"]
    if a.trace == 0:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "tick_p50_s": (median(o["s"] for o in ticks), "s"),
            "noop_tick_s": (median(o["s"] for o in noops), "s"),
            "rows_per_s": (median(o["rows"] / o["s"] for o in ticks), "rows/s"),
        }
    else:
        metrics = {name: (median(vs), unit_of(name)) for name, vs in res["layers"].items()}
        metrics["sessions.local_s"] = (res["sessions_local_s"], "s")
        metrics["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
        # against tick_p50_s of an untraced run, this gives the tracing overhead
        metrics["trace.tick_p50_s"] = (median(o["s"] for o in ticks), "s")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_read") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
