#!/usr/bin/env python3
"""Benchmark for graft: builds the harness and the engine from source and
runs one workload.

    python3 perfbench/run.py --workload <pipeline|queries|delta_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles `perfbench/` (which
includes the engine's `src/main`) with sbt when the sources are newer
than the last build, runs the JVM harness with Spark as local[nproc],
and prints one JSON result object as the last line of standard output.

With `--trace 0` the result holds the end-to-end metrics. With
`--trace 1` it holds the per-layer metrics of a traced run, plus
`trace.overhead.<metric>`: the traced value of each end-to-end metric
minus its median over the untraced runs of the same build in this
checkout. When there is no such run yet, one is made first with the
same seed. Per-layer metrics a workload does not exercise read 0. The
traced run's spans are written to
`perfbench/.work/spans-<workload>-<seed>.jsonl`.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.built")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
WORKLOADS = ("pipeline", "queries", "delta_ingest")
BUILD_TIMEOUT = 850
RUN_DEADLINE = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_mtime(sources):
        return
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    print("perfbench: building the harness with sbt", file=sys.stderr)
    done = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT)
    if done.returncode != 0:
        fail(f"sbt compile failed with code {done.returncode}")
    with open(STAMP, "w") as f:
        f.write(str(time.time()))
    # untraced results of an older build are no baseline for this one
    for w in WORKLOADS:
        if os.path.exists(history(w)):
            os.remove(history(w))


def history(workload):
    return os.path.join(WORK, f"untraced-{workload}.jsonl")


def remember(workload, result):
    os.makedirs(WORK, exist_ok=True)
    with open(history(workload), "a") as f:
        f.write(json.dumps(result) + "\n")


def untraced_medians(workload):
    """Median of each end-to-end metric over this build's correct untraced runs."""
    if not os.path.exists(history(workload)):
        return None
    with open(history(workload)) as f:
        runs = [r for r in map(json.loads, f) if r["correct"]]
    if not runs:
        return None
    return {k: statistics.median(r["metrics"][k]["value"] for r in runs)
            for k in runs[0]["metrics"]}


def harness(args, trace, deadline):
    """Run the JVM harness once; return its parsed result object."""
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{SPARK_JARS}/*:{CLASSES}", "graftbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected.json"),
            "--work", os.path.join(run_dir, "out"),
            "--spans", os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")]
    if args.record:
        cmd.append("--record")
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("the harness ran past its deadline and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        if l.startswith("[perfbench]") or l.startswith("[digest]"):
            print(l)
    if proc.returncode != 0 or not lines:
        fail(f"the harness exited with code {proc.returncode}")
    return json.loads(lines[-1])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="print result digests instead of checking them")
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a checkout of the repository")
    if not SPARK_HOME or not os.path.isdir(SPARK_JARS):
        fail("no Spark installation found: set SPARK_HOME")
    build()
    deadline = time.monotonic() + RUN_DEADLINE
    print(f"perfbench: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    if not args.trace:
        result = harness(args, 0, deadline)
        if result["correct"] and not args.record:
            remember(args.workload, result)
    else:
        baseline = untraced_medians(args.workload)
        plain = None
        if baseline is None:
            plain = harness(args, 0, deadline)
            if plain["correct"]:
                remember(args.workload, plain)
            baseline = {k: v["value"] for k, v in plain["metrics"].items()}
        traced = harness(args, 1, deadline)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        metrics = {m["name"]: {"value": 0, "unit": m["unit"]} for m in spec["per_layer"]}
        metrics.update({k: v for k, v in traced["metrics"].items() if k in metrics})
        for m in spec["end_to_end"]:
            name = f"trace.overhead.{m['name']}"
            if name in metrics:
                metrics[name] = {"value": traced["metrics"][m["name"]]["value"]
                                 - baseline[m["name"]], "unit": m["unit"]}
        runs = [r for r in (plain, traced) if r]
        result = {"correct": all(r["correct"] for r in runs),
                  "attempted": sum(r["attempted"] for r in runs),
                  "failed": sum(r["failed"] for r in runs), "metrics": metrics}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
