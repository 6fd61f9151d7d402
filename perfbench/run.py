"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <index|analytics> --seed <n>
                             --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
(see build.py), runs the workload in one JVM on a fresh work directory under
.bench_work/, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1. The
line before it carries the run's context (inputs digest, host, failures).
Metric definitions are in perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("index", "analytics")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
# Switches the engine or Spark read from the environment; a run sees none.
SCRUB_PREFIXES = ("SPARK_GRAFT_", "GRAFT_", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_")


def heap_gb():
    """Half the host memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(fh.readline().split()[1])
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, ValueError, IndexError):
        return 2


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def run_jvm(classpath, args, work, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    out = os.path.join(work, "result.json")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(work, 'local')}",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(work, "run"),
              "--data", os.path.join(ROOT, "perfbench", "data"),
              "--out", out])
    env = {k: v for k, v in os.environ.items() if not k.startswith(SCRUB_PREFIXES)}
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("interrupted")

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        fail(f"workload JVM exited with {proc.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": res["context"], "failures": res["failures"]}))
    metrics = {}
    if args.trace == 0:
        for m in spec["end_to_end"]:
            v = res["end_to_end"].get(m["name"])
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                fail(f"end-to-end metric {m['name']} not measured: {v}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        # traced end-to-end values, for the tracing overhead
        layers = dict(res["per_layer"])
        layers.update({f"trace.{k}": v for k, v in res["end_to_end"].items()})
        for m in spec["per_layer"]:
            # 0 = a layer this workload does not exercise (see README.md)
            v = layers.get(m["name"], 0.0)
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                fail(f"per-layer metric {m['name']} not measured: {v}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(json.dumps({"correct": bool(res["correct"]) and res["failed"] == 0,
                      "attempted": max(1, int(res["attempted"])),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
