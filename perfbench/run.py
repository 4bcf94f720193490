#!/usr/bin/env python3
"""The engine's benchmark: four seeded workloads, end-to-end and per layer.

    python3 perfbench/run.py --workload mart_reads --seed 1 --seconds 10 --trace 0

Run it from the repository root. On first use it compiles the engine with
the benchmark's own sbt build (`perfbench/build.sbt`) and writes the fixed
source tables; both are cached under `.perfbench/`. Each run then:

1. generates the workload's inputs from `--seed`;
2. starts one JVM in a fresh directory under `.perfbench/runs/`, which
   holds the Spark local dir, every lake root and ledger, and is deleted
   when the run ends;
3. checks the outputs (DuckDB oracles here, in-program checks there);
4. prints a readable report, then one JSON line: `correct`, `attempted`,
   `failed` and `metrics` (end-to-end with `--trace 0`, per layer with
   `--trace 1`).

`--self-test` feeds a corrupted result to every output check and exits 0
only if each check rejects it. See `perfbench/NOTES.md`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ["mart_reads", "daily_etl", "ann_search", "index_ingest"]
# The tail percentile per workload: the highest with at least ten
# samples beyond it at the workload's usual operation count per run
# (index_ingest: 40 batches at --seconds 4; daily_etl: one batch).
TAIL_PCT = {"mart_reads": 90, "daily_etl": 50, "ann_search": 90,
            "index_ingest": 75}
# The end-to-end metrics every workload reports in its result line. On
# daily_etl an operation is a batch (latency = batch_p50_s in ms); on
# index_ingest it is an ingested batch (latency = freshness).
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_tail_ms", "ms"), ("requests_per_s", "1/s"),
              ("rows_per_s", "1/s"), ("write_amp", "ratio"),
              ("heap_peak_mb", "MB")]
LAYERS = ["sources", "versioned", "pipelines", "relational", "dedup",
          "learn", "similarity", "streaming", "plans", "exec", "jvm", "gen",
          "bench"]
PER_LAYER = ([(f"{l}.{m}", u) for l in LAYERS
              for m, u in (("calls", "count"), ("self_s", "s"),
                           ("jobs", "count"))] +
             [("unattributed.jobs", "count"),
              ("exec.stages", "count"), ("exec.tasks", "count"),
              ("exec.job_busy_s", "s"), ("exec.driver_gap_s", "s"),
              ("exec.concurrency", "ratio"),
              ("exec.shuffle_read_bytes", "bytes"),
              ("exec.shuffle_write_bytes", "bytes"),
              ("exec.spill_bytes", "bytes"), ("exec.executor_cpu_s", "s"),
              ("exec.task_skew", "ratio"), ("plans.plan_ms", "ms"),
              ("plans.exchanges", "count"), ("sources.bytes_read", "bytes"),
              ("sources.files_read", "count"),
              ("sources.bytes_written", "bytes"),
              ("sources.files_written", "count"),
              ("versioned.read_s", "s"), ("versioned.write_s", "s"),
              ("similarity.files_pruned_ratio", "ratio"),
              ("similarity.rows_scored_per_result", "ratio"),
              ("dedup.candidate_pairs", "count"),
              ("dedup.verified_ratio", "ratio"),
              ("learn.iterations", "count"), ("learn.jobs_per_iter", "ratio"),
              ("streaming.batches", "count"),
              ("streaming.add_batch_ms", "ms"),
              ("streaming.wal_commit_ms", "ms"),
              ("streaming.query_planning_ms", "ms"),
              ("streaming.latest_offset_ms", "ms"),
              ("streaming.backlog_files", "count"), ("jvm.gc_s", "s"),
              ("gen.late_ms", "ms"), ("trace.overhead", "ratio"),
              ("trace.ops", "count"), ("trace.jobs_unaccounted", "count"),
              ("trace.root_vs_untraced", "ratio")])
WORK = os.path.join(ROOT, ".perfbench")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile the engine and the benchmark program once per source state."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit("perfbench: no engine sources at src/main/scala; run from "
                 "the repository root of a full checkout")
    files = (glob.glob(f"{engine}/**/*.scala", recursive=True) +
             glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
             [os.path.join(HERE, "build.sbt")])
    stamp = os.path.join(WORK, "build.stamp")
    key = sources_hash(files)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    sbt = shutil.which("sbt")
    if not sbt:
        sys.exit("perfbench: sbt not found")
    log("building (first run in this checkout)")
    os.makedirs(WORK, exist_ok=True)
    cmd = [sbt, "-batch", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={WORK}/sbt-global", "compile"]
    r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def source_tables():
    import gen
    key = sources_hash([os.path.join(HERE, "gen.py")])
    data = os.path.join(WORK, "data", key)
    if not os.path.exists(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.tables(data)
        open(os.path.join(data, "done"), "w").close()
    return data


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classes, args, heap="4g"):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = f"{classes}:{spark_jars()}/*"
    return (["java"] + opens +
            [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp] + args)


def run_jvm(classes, run_dir, args, timeout):
    env = dict(os.environ, LC_ALL="C.UTF-8")
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir stays in the run dir
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(java_cmd(classes, args), cwd=run_dir, env=env,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc


def tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def percentile(xs, pct):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-pct * len(s) // 100)) - 1))
    return s[k]


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def end_to_end(workload, m):
    lat = m["latencies_ms"]
    window = m["window_s"]
    return {
        "setup_s": m["setup_s"],
        "latency_p50_ms": median(lat),
        "latency_tail_ms": percentile(lat, TAIL_PCT[workload]),
        "requests_per_s": len(lat) / window,
        "rows_per_s": sum(m["rows"]) / window,
        "recall_at_5": sum(m["recalls"]) / len(m["recalls"]),
        "write_amp": m["written_bytes"] / max(1.0, m["input_bytes"]),
        "heap_peak_mb": m["heap_peak_mb"],
    }


def per_layer(m):
    t = dict(m["trace"])
    it = t.get("learn.iterations", 0.0)
    t["learn.jobs_per_iter"] = t.get("learn.jobs", 0.0) / it if it else 0.0
    return t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    classes = build()
    data = source_tables()
    if a.self_test:
        import selftest
        sys.exit(selftest.main(classes, data, run_jvm, WORK))
    if not a.workload:
        ap.error("--workload is required")

    import gen
    import oracle
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = gen.workload_inputs(a.workload, a.seed, a.seconds, data, run_dir,
                                    cpus())
        with open(os.path.join(run_dir, "inputs.json"), "w") as f:
            json.dump(inputs, f)
        t0 = time.time()
        # a run must end within 180 s; the oracle checks need a few more
        rc = run_jvm(classes, run_dir,
                     ["perfbench.Main", a.workload, "inputs.json", "out.json",
                      str(a.seconds), str(a.trace)],
                     timeout=165)
        out_path = os.path.join(run_dir, "out.json")
        if rc != 0 or not os.path.exists(out_path):
            sys.stderr.write(tail(os.path.join(run_dir, "jvm.log")))
            sys.exit(f"perfbench: engine run failed (exit {rc})")
        with open(out_path) as f:
            m = json.load(f)
        if "fatal" in m:
            sys.stderr.write(tail(os.path.join(run_dir, "jvm.log")))
            sys.exit(f"perfbench: engine run failed: {m['fatal']}")
        checks = [(c["name"], c["ok"], c["detail"]) for c in m["checks"]]
        for e in m["oracle"]:
            verdict = oracle.check(e, data)
            checks.append((f"oracle:{e['name']}", verdict == "PASS", verdict))
        ops = len(m["latencies_ms"])
        if ops == 0:
            sys.exit("perfbench: no operation completed in the window")
        late_max = m.get("gen_late_max_ms", 0.0)
        if late_max > m.get("gen_interval_ms", float("inf")):
            sys.exit(f"perfbench: invalid run, generator fell {late_max:.0f} ms "
                     "behind schedule (more than one batch interval)")
        if a.trace:
            metrics = per_layer(m)
            names = PER_LAYER
        else:
            metrics = end_to_end(a.workload, m)
            names = END_TO_END
        attempted = ops + len(checks)
        failed = int(m["ops_failed"]) + sum(1 for c in checks if not c[1])
        report(a, m, metrics, checks, attempted, failed, time.time() - t0)
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                              for k, u in names}}
        print(json.dumps(result))
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(run_dir, ignore_errors=True)


def report(a, m, metrics, checks, attempted, failed, wall):
    """Readable lines: every metric that applies to the workload, by the
    name the notes use, with its unit."""
    lat = m["latencies_ms"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"ops {len(lat)}  window {m['window_s']:.2f} s  wall {wall:.1f} s")
    for c in checks:
        if not c[1]:
            print(f"  CHECK FAILED {c[0]}: {c[2]}")
    e = end_to_end(a.workload, m)
    pct = TAIL_PCT[a.workload]
    lines = [("setup_s", e["setup_s"], "s")]
    if a.workload in ("mart_reads", "ann_search"):
        lines += [("latency_p50_ms", e["latency_p50_ms"], "ms"),
                  (f"latency_tail_ms (p{pct})", e["latency_tail_ms"], "ms"),
                  ("requests_per_s", e["requests_per_s"], "1/s")]
    if a.workload == "ann_search":
        lines.append(("recall_at_5", e["recall_at_5"], "ratio"))
    if a.workload == "daily_etl":
        lines += [("batch_p50_s", e["latency_p50_ms"] / 1000, "s"),
                  ("rows_per_s", e["rows_per_s"], "1/s"),
                  ("write_amp", e["write_amp"], "ratio")]
    if a.workload == "index_ingest":
        lines += [("freshness_p50_ms", e["latency_p50_ms"], "ms"),
                  (f"freshness_tail_ms (p{pct})", e["latency_tail_ms"], "ms"),
                  ("rows_per_s", e["rows_per_s"], "1/s"),
                  ("write_amp", e["write_amp"], "ratio")]
    lines += [("heap_peak_mb", e["heap_peak_mb"], "MB"),
              ("error_rate", failed / attempted, "ratio")]
    for name, v, unit in lines:
        print(f"  {name} {v:.6g} {unit}")
    print(f"  phases s: session {m['session_s']:.3g}  set-up "
          f"{' '.join(f'{x:.3g}' for x in m['setup_reps_s'])}  prepare "
          f"{m['prepare_s']:.3g}  verify {m['verify_s']:.3g}")
    if m.get("cycle_s"):
        cyc = m["cycle_s"]
        steps = " ".join(f"{k[6:-2]} {v:.3g}" for k, v in m.items()
                         if k.startswith("cycle_") and k.endswith("_s")
                         and k != "cycle_s" and isinstance(v, float))
        print(f"  cycles {len(cyc)}  median {median(cyc):.3g} s  "
              f"max {max(cyc):.3g} s  per-step mean s: {steps}")
    if a.trace:
        for k, v in sorted(metrics.items()):
            print(f"  {k} {v:.6g}")


if __name__ == "__main__":
    main()
