#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, for each
end-to-end metric, the median and the interquartile spread as a share of
the median (`statistics.quantiles(values, n=4)`), next to the metric's
bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads ingest corpus \
        --seeds 1-10 --out perfbench/baseline/set1.json

Each run's result line and wall time are kept in the output file, so two
sets can be compared later (`--compare A.json B.json`).
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def summarize(runs, spec):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w and r["result"]]
        out[w] = {"runs": len(rs), "wall_s_max": max(r["wall_s"] for r in rs),
                  "all_correct": all(r["result"]["correct"] for r in rs)}
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            if len(vals) >= 2:
                out[w][m["name"]] = {"median": statistics.median(vals),
                                     "spread": spread(vals), "bound": m["bound"]}
    return out


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "wall_s": time.time() - t0, "result": result}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.compare:
        sets = [json.load(open(p))["summary"] for p in a.compare]
        for w in sets[0]:
            for m in spec["end_to_end"]:
                m1, m2 = sets[0][w][m["name"]]["median"], sets[1][w][m["name"]]["median"]
                worse = (m2 - m1) / m1 * (1 if m["better"] == "lower" else -1)
                print(f"{w:10s} {m['name']:18s} {m1:12.3f} {m2:12.3f} worse-by {worse:+.3f} "
                      f"bound {m['bound']}")
        return
    runs = []
    for s in seeds(a.seeds):
        for w in a.workloads:
            r = run(w, s, spec["run_seconds"])
            runs.append(r)
            print(json.dumps(r), flush=True)
    summary = summarize(runs, spec)
    print(json.dumps(summary, indent=1))
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
