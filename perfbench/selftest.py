"""Self-test of the output checks: every check must accept a correct
result and reject a corrupted one.

The oracle checks are fed the oracle's own result (which must PASS) and
copies of it with one value changed and one row dropped (which must
FAIL). The in-program checks run in `perfbench.SelfTest` on the JVM.
"""
import json
import os
import shutil

import duckdb

import oracle

MART_PARAMS = {
    "flagship": {"d0": 100, "d1": 160, "segment": "BUILDING"},
    "window_topk": {"c0": 100, "c1": 300, "k": 2},
    "asof": {"u0": 10, "u1": 40},
    "sessionize": {"u0": 10, "u1": 40, "gap": 1800},
    "melt": {"k0": 500, "k1": 600},
    "pivot": {"u0": 10, "u1": 60},
}


def _write_cc(con, data, path):
    """Components as the engine writes them next to the manifest: each
    planted near-duplicate pair (d-1, d for d % 10 == 9) joined."""
    os.makedirs(os.path.join(path, "check_cc"), exist_ok=True)
    con.execute(f"""COPY (SELECT doc_id AS id, doc_id - doc_id % 10 + 8 AS component
        FROM '{data}/documents.parquet' WHERE doc_id % 10 >= 8)
        TO '{path}/check_cc/part-0.parquet' (FORMAT parquet)""")


def _write_result(con, kind, df, path):
    """Write `df` where the engine would, in the engine's shape."""
    if kind == "pivot":
        df = df.pivot(index="dow", columns="h", values="n").reset_index()
        df.columns = [str(c) for c in df.columns]
    if kind == "etl_manifest":
        df = df.pivot(index="source", columns="lang", values="n").reset_index()
        df.columns = [str(c) for c in df.columns]
        df["n_weights"] = 12
        path = os.path.join(path, "manifest")
    if kind in ("warehouse", "etl_mart"):
        path = os.path.join(path, "mart", "trends")
    os.makedirs(path, exist_ok=True)
    con.register("result_df", df)
    con.execute(f"COPY result_df TO '{path}/part-0.parquet' (FORMAT parquet)")
    con.unregister("result_df")


def _corruptions(df):
    """One changed value and one dropped row."""
    changed = df.copy()
    col = [c for c in df.columns if df[c].dtype.kind in "if"][-1]
    changed.loc[0, col] = changed.loc[0, col] + 1
    return {"changed_value": changed,
            "dropped_row": df.iloc[1:].reset_index(drop=True)}


def oracle_self_test(data, scratch):
    cases = (list(MART_PARAMS.items()) +
             [("warehouse", {}), ("etl_mart", {"dir": data}),
              ("etl_manifest", {"dir": data})])
    results = []
    con = duckdb.connect()
    for kind, params in cases:
        good = os.path.join(scratch, f"{kind}-good")
        if kind == "etl_manifest":
            _write_cc(con, data, good)
            want = con.execute(oracle._manifest_sql(data, good)).df()
        else:
            want = con.execute(oracle.oracle_sql(kind, params, data)).df()
        _write_result(con, kind, want, good)
        entry = {"kind": kind, "params": params, "path": good}
        accepts = oracle.check(entry, data) == "PASS"
        rejects = True
        for name, bad_df in _corruptions(want).items():
            bad = os.path.join(scratch, f"{kind}-{name}")
            if kind == "etl_manifest":
                _write_cc(con, data, bad)
            _write_result(con, kind, bad_df, bad)
            verdict = oracle.check({**entry, "path": bad}, data)
            rejects = rejects and verdict.startswith("FAIL")
        results.append((f"oracle:{kind}", accepts, rejects))
    con.close()
    return results


def main(classes, data, run_jvm, work):
    scratch = os.path.join(work, "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        results = oracle_self_test(data, scratch)
        rc = run_jvm(classes, scratch, ["perfbench.SelfTest"], timeout=170)
        lines = []
        with open(os.path.join(scratch, "jvm.log")) as f:
            lines = [l.split() for l in f if l.startswith("CHECK ")]
        for _, name, acc, rej in lines:
            results.append((name, acc == "accepts=true", rej == "rejects=true"))
        ok = rc == 0 and len(lines) >= 13
        for name, acc, rej in results:
            good = acc and rej
            ok = ok and good
            print(f"{'ok  ' if good else 'FAIL'} {name}: accepts correct={acc} "
                  f"rejects corrupted={rej}")
        print(json.dumps({"self_test": "pass" if ok else "fail",
                          "checks": len(results)}))
        return 0 if ok else 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

