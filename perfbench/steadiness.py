"""Steadiness check: run every workload on several seeds and summarise each
end-to-end metric by median and quartiles, as a share of the median.

    python3 perfbench/steadiness.py --runs 10 --seed0 1000 --out set1.json
    python3 perfbench/steadiness.py --compare set1.json set2.json

The spread of a metric is (q3 - q1) / median with the quartiles of
`statistics.quantiles(values, n=4)`. A set passes when every spread except
setup_s is within the metric's BENCHMARK.json bound; `--compare` checks that
the second set's medians are no worse than the first's by more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def summarise(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def run_set(runs, seed0, workloads):
    s = spec()
    out = {"started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "workloads": {}}
    for w in workloads:
        per_metric, shares, walls = {}, [], []
        for i in range(runs):
            t0 = time.time()
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed0 + i), "--seconds", str(s["run_seconds"]),
                   "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, cwd=ROOT)
            walls.append(time.time() - t0)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed0 + i}: exit {r.returncode}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            shares.append(res["failed"] / res["attempted"])
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            print(f"{w} seed={seed0 + i} wall={walls[-1]:.1f}s " +
                  " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()),
                  file=sys.stderr)
        out["workloads"][w] = {"run_wall_s": walls, "failed_share": sorted(set(shares)),
                               "metrics": {k: summarise(v) for k, v in per_metric.items()}}
    return out


def report(res):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    ok = True
    for w, r in res["workloads"].items():
        for k, m in r["metrics"].items():
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s" and m["spread"] > b:
                flag, ok = "  OVER BOUND", False
            elif b is not None and k != "setup_s" and m["spread"] > b / 3:
                flag = "  over bound/3"
            print(f"{w:14s} {k:24s} median={m['median']:.6g} q1={m['q1']:.6g} "
                  f"q3={m['q3']:.6g} spread={m['spread']:.4f}{flag}")
    return ok


def compare(a, b):
    s = spec()
    bounds = {m["name"]: (m["bound"], m["better"]) for m in s["end_to_end"]}
    ok = True
    for w in a["workloads"]:
        for k, (bound, better) in bounds.items():
            m1 = a["workloads"][w]["metrics"][k]["median"]
            m2 = b["workloads"][w]["metrics"][k]["median"]
            worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
            flag = "  WORSE THAN BOUND" if worse > bound else ""
            ok = ok and not flag
            print(f"{w:14s} {k:24s} {m1:.6g} -> {m2:.6g} worse_by={worse:+.4f} bound={bound}{flag}")
    return ok


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec()["workloads"]))
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    a = p.parse_args()
    if a.compare:
        with open(a.compare[0]) as f1, open(a.compare[1]) as f2:
            sys.exit(0 if compare(json.load(f1), json.load(f2)) else 1)
    res = run_set(a.runs, a.seed0, a.workloads.split(","))
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(res, fh, indent=1)
    sys.exit(0 if report(res) else 1)


if __name__ == "__main__":
    main()
