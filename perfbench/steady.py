#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload repeatedly, one seed a
run, and reports for every metric the median, the quartiles and the
spread (interquartile distance as a share of the median) from which the
bounds in BENCHMARK.json are set, plus the share of failed operations.
Each run is stamped with the 1-minute load average at its start and end.

  python3 perfbench/steady.py [--runs 10] [--seconds S] [--trace 0]
      [--workloads pipeline,catalog] [--seed0 1000]
      [--out steady.json]

Run from the root of a checkout; the runs are `perfbench/run.py` calls,
`--seconds` defaulting to BENCHMARK.json's `run_seconds`. Each run's
exit code, wall time, result line and `report` line go to `--out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def load1():
    return os.getloadavg()[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    spec = {}
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    seconds = a.seconds or spec.get("run_seconds", 5)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec.get("end_to_end", [])}
    report = {}
    for w in workloads:
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            l0, t0 = load1(), time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = None
            figures = next((json.loads(ln[len("report "):]) for ln in lines if ln.startswith("report ")), None)
            wall = time.time() - t0
            runs.append({"seed": seed, "exit": p.returncode, "load1_start": l0, "load1_end": load1(),
                         "wall_s": wall, "result": res, "report": figures})
            print(f"{w} seed {seed}: exit {p.returncode} load1 {l0:.2f}->{load1():.2f} wall {wall:.0f} s "
                  f"{json.dumps(res)}", flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        metrics = {}
        for name in sorted({k for r in ok for k in r["metrics"]}):
            vals = [r["metrics"][name]["value"] for r in ok if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            metrics[name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread,
                             "bound": bounds.get(name), "values": vals}
            flag = ""
            if bounds.get(name) is not None and spread > bounds[name] / 3:
                flag = "  <-- over a third of its bound"
            print(f"  {w} {name}: median {q2:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {spread:.3f}{flag}")
        shares = sorted({r["failed"] / r["attempted"] for r in ok})
        print(f"  {w}: correct {all(r['correct'] for r in ok)}, failed shares {shares}, "
              f"{len(ok)}/{len(runs)} runs gave a result")
        report[w] = {"runs": runs, "metrics": metrics, "failed_shares": shares}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
