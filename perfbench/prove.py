#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each metric.

    python3 perfbench/prove.py --workloads daily_etl index_ingest --seeds 1-10

For every workload and end-to-end metric it prints the median, the first
and third quartiles (`statistics.quantiles(values, n=4)`), and the spread
(third minus first quartile, over the median) next to the metric's bound
in BENCHMARK.json. Failed or incorrect runs are reported and excluded.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="write the summary JSON here")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    summary = {}
    for w in workloads:
        values = {}
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", "0"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            if not res or not res["correct"]:
                print(f"{w} seed {s}: failed run", file=sys.stderr)
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                file=sys.stderr)
        summary[w] = {}
        for k, xs in values.items():
            q1, _, q3 = statistics.quantiles(xs, n=4)
            summary[w][k] = {"n": len(xs), "median": statistics.median(xs),
                             "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / statistics.median(xs),
                             "bound": bounds.get(k)}
            print(f"{w:14s} {k:16s} median {statistics.median(xs):11.5g}  "
                  f"q1 {q1:11.5g}  q3 {q3:11.5g}  spread "
                  f"{summary[w][k]['spread']:.3f}  bound {bounds.get(k)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=2)


if __name__ == "__main__":
    main()
