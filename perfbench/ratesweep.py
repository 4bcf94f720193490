#!/usr/bin/env python3
"""Find the rate `index_ingest` sustains: run its open loop at rising
ingest rates and see where freshness stops being bounded.

    python3 perfbench/ratesweep.py --per-batch 40 80 160 --seconds 60

Each rate is one run of the workload's engine program with the seeded
inputs of `--seed`, except for the batch size (`--per-batch`, vectors per
batch) and `--interval-ms`. The run's window is `--seconds` long, so it
spans several maintenance cycles. For each rate it prints the cycles
(start, duration, folded rows promoted), the freshness of the batches
that arrived in the first and in the last third of the window, and a
backlog when each cycle starts (batches arrived but not yet folded by the
stream), and a verdict: a rate is sustained when every batch became
searchable and the backlog at every cycle that starts within the window
stays below half the batches that arrive during one median cycle. While
the stream keeps up, the backlog is what arrived during the fold in
progress, a few seconds' worth; past the sustainable rate the fold falls
behind, the backlog grows from cycle to cycle, and so does the wait of
every later batch.
"""
import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def one(classes, data, seed, per_batch, interval_ms, seconds):
    run_dir = os.path.join(run.WORK, "runs", f"sweep-{per_batch}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = gen.workload_inputs("index_ingest", seed, seconds, data,
                                     run_dir, run.cpus())
        inputs.update(per_batch=per_batch, interval_ms=interval_ms)
        with open(os.path.join(run_dir, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        rc = run.run_jvm(classes, run_dir,
                         ["perfbench.Main", "index_ingest", "inputs.json",
                          "out.json", str(seconds), "0"],
                         timeout=seconds + 400)
        out = os.path.join(run_dir, "out.json")
        if rc != 0 or not os.path.exists(out):
            return {"per_batch": per_batch, "error": f"exit {rc}"}
        with open(out) as f:
            m = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lat = m.get("latencies_ms", [])
    third = max(1, len(lat) // 3)
    early, late = lat[:third], lat[-third:]
    checks_ok = all(c["ok"] for c in m.get("checks", [])) and "fatal" not in m
    r = {"per_batch": per_batch, "interval_ms": interval_ms,
         "vectors_per_s": per_batch * 1000 / interval_ms,
         "batches": len(lat), "checks_ok": checks_ok,
         "gen_late_max_ms": m.get("gen_late_max_ms"),
         "cycle_start_s": m.get("cycle_start_s", []),
         "cycle_s": m.get("cycle_s", []), "cycle_rows": m.get("cycle_rows", []),
         "freshness_first_third_ms": statistics.median(early) if early else None,
         "freshness_last_third_ms": statistics.median(late) if late else None,
         "freshness_max_ms": max(lat) if lat else None}
    r["backlog"] = backlog(r, seconds)
    r["sustained"] = sustained(r, seconds)
    return r


def backlog(r, seconds):
    """Batches arrived but not folded when each cycle started. Batch k is
    due (k + 1) intervals after the window starts; a cycle's row count is
    what the stream folded since the cycle before it."""
    count = round(seconds * 1000 / r["interval_ms"])
    out, folded = [], 0
    for start, rows in zip(r["cycle_start_s"], r["cycle_rows"]):
        folded += rows / r["per_batch"]
        arrived = min(count, int(start * 1000 // r["interval_ms"]))
        out.append(max(0, arrived - round(folded)))
    return out


def sustained(r, seconds):
    """Every batch searchable, and the backlog at each cycle that starts
    within the window below half a median cycle's arrivals."""
    if not (r["checks_ok"] and r["cycle_s"]):
        return False
    per_cycle = statistics.median(r["cycle_s"]) * 1000 / r["interval_ms"]
    return all(b < per_cycle / 2 for s, b in zip(r["cycle_start_s"],
                                             backlog(r, seconds)) if s < seconds)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--per-batch", type=int, nargs="+", default=[40, 80, 160])
    ap.add_argument("--interval-ms", type=int, default=100)
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="write the results as JSON here")
    a = ap.parse_args()
    classes = run.build()
    data = run.source_tables()
    results = []
    for pb in a.per_batch:
        r = one(classes, data, a.seed, pb, a.interval_ms, a.seconds)
        results.append(r)
        if "error" in r:
            print(f"per_batch {pb}: run failed ({r['error']})")
            continue
        print(f"{r['vectors_per_s']:8.0f} vectors/s ({pb} per batch every "
              f"{a.interval_ms} ms): {r['batches']} batches, "
              f"freshness median first third {r['freshness_first_third_ms']:.0f} ms, "
              f"last third {r['freshness_last_third_ms']:.0f} ms, "
              f"max {r['freshness_max_ms']:.0f} ms; checks "
              f"{'pass' if r['checks_ok'] else 'FAIL'}; "
              f"{'sustained' if r['sustained'] else 'NOT sustained'}")
        for s, d, n, b in zip(r["cycle_start_s"], r["cycle_s"], r["cycle_rows"],
                              r["backlog"]):
            print(f"    cycle at {s:6.1f} s  {d:5.1f} s  promotes {n:.0f} rows, "
                  f"backlog {b} batches")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seed": a.seed, "seconds": a.seconds, "runs": results},
                      f, indent=1)


if __name__ == "__main__":
    main()
