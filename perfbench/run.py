#!/usr/bin/env python3
"""The repo benchmark: one command runs one workload from a seed.

    python3 perfbench/run.py --workload ingest|corpus \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark's
JVM side (`build.py`), generates the corpus workload's inputs from the seed under
`.bench_build/runs/` (ingest makes its batches inside the JVM), runs the workload in one JVM (`local[nproc]`,
shuffle partitions = nproc, one client thread), checks every output, and
prints one JSON line: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The full run record (inputs, set-up parts,
failures, and for a traced run the span dump and per-layer self times)
stays in the run directory; its path goes to stderr.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing but .bench_build/ is written in the checkout

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest", "corpus")
GEN_REPEATS = 3
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s, see {work}/jvm.log")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(work)

    gen_s, inputs = [], {"rows": {}, "bytes": {}}
    for _ in range(GEN_REPEATS if a.workload == "corpus" else 0):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        inputs = gen.generate(a.seed, data)
        gen_s.append(time.perf_counter() - t0)
    os.makedirs(data, exist_ok=True)

    result_path = os.path.join(work, "result.json")
    rc = run_jvm(classes, work, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--data", data, "--work", work, "--out", result_path])
    if rc != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: JVM exited {rc}, see {work}/jvm.log")
    with open(result_path) as f:
        res = json.load(f)

    failures = res["failures"]
    setup = dict(res["setup"])
    setup["generate_s"] = statistics.median(gen_s) if gen_s else 0.0
    metrics = dict(res["metrics"])
    metrics["setup_s"] = sum(setup.values())
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if a.trace:
        # a layer the workload never calls reports zero work
        for name in missing:
            metrics[name] = 0.0
    elif missing:
        raise SystemExit(f"perfbench: run reported no {', '.join(missing)}")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "nproc": os.cpu_count(), "inputs": inputs, "generate_runs_s": gen_s,
              "setup": setup, "info": res["info"], "failures": failures,
              "not_exercised": missing if a.trace else [], "all_metrics": metrics}
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"run record: {work}/record.json")
    for msg in failures:
        log(f"FAILED {msg}")

    print(json.dumps({
        "correct": not failures, "attempted": res["attempted"], "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}}))


if __name__ == "__main__":
    main()
