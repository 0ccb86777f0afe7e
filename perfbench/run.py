"""Run one benchmark measurement and print its result as the last stdout line.

    python3 perfbench/run.py --workload steady_upsert --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source on first use (see build.py),
then runs `perfbench.PerfBench` in one JVM at `local[<cpus>]`. Everything the
run writes (tables, checkpoints, Spark scratch) lives under
`<build dir>/work/` and is deleted when the run ends; `--trace 1` also writes
its spans to `<build dir>/traces/<workload>-seed<seed>.json`.

Prints `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
of BENCHMARK.json, or with `--trace 1` its per-layer metrics, each with the
unit BENCHMARK.json gives it. Any failed check or sync exits 1 without a
result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the launcher's module opens
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def canary_s(cp):
    """`HostCanary.best(2)` in a JVM of its own with the default compiler."""
    out = subprocess.run(["java", "-cp", cp, "perfbench.Canary"], stdout=subprocess.PIPE,
                         text=True, timeout=60, check=True).stdout
    return float(out.strip().splitlines()[-1])


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    a = p.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    classes = build.ensure()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars_dir(), "*")])
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap: a growing one re-sizes G1 through the first minute and
    # the sync walls drift with it. C1 only: on a few cores C2 keeps compiling
    # for over a minute, competing with the executor threads, so every run
    # would measure a different point of its compile curve; C1 code reaches
    # its plateau within the set-up syncs
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(a.cpus),
            "--work", work]
    if a.trace:
        traces = os.path.join(bdir, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]

    canary = [canary_s(cp)] if a.trace else []
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith("RESULT ")]
    for line in out.splitlines():
        if not line.startswith("RESULT "):
            print(line, file=sys.stderr)
    if proc.returncode != 0 or not results:
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    r = json.loads(results[-1][len("RESULT "):])
    if a.trace:
        r["metrics"]["host.canary_s"] = max(canary + [canary_s(cp)])
    if set(r["metrics"]) != set(units):
        sys.exit(f"perfbench: metrics {sorted(r['metrics'])} != BENCHMARK.json {sorted(units)}")
    print(json.dumps({
        "correct": True,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
