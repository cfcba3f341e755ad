#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]

Runs `perfbench/run.py` once per (workload, seed) from the root of a
checkout, appends every result and record to `.bench_build/spread.jsonl`,
and prints for each workload and metric the median of the runs and the
distance between the first and third quartile (`statistics.quantiles(n=4)`)
as a share of that median, beside the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    metrics = bench["end_to_end"] if a.trace == "0" else bench["per_layer"]
    os.makedirs(".bench_build", exist_ok=True)
    log = open(os.path.join(".bench_build", "spread.jsonl"), "a")
    bad = False
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in metrics}
        for s in seeds(a.seeds):
            t = time.time()
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
                               stdout=subprocess.PIPE, text=True)
            took = time.time() - t
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            record = json.loads(lines[-2])["record"] if res is not None and len(lines) > 1 else None
            log.write(json.dumps({"workload": w, "seed": s, "took_s": took, "result": res,
                                  "record": record}) + "\n")
            log.flush()
            if res is None or not res["correct"]:
                print("%s seed %d: failed (exit %d)" % (w, s, r.returncode))
                bad = True
                continue
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
            print("%s seed %d: %.0f s" % (w, s, took), file=sys.stderr)
        for m in metrics:
            vs = values[m["name"]]
            if len(vs) < 2:
                continue
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
            print("%-14s %-28s median %12.4f  spread %6.3f  bound %s" % (
                w, m["name"], med, spread, m.get("bound", "-")))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
