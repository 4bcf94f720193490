"""Output checks against DuckDB.

Each check runs the oracle SQL for one request on the same parquet the
engine read, and compares it with the engine's result with the
repository's `tools/check.py` (`normalize`/`compare`): same column names,
same row count, and equal values after sorting rows by every column
(timestamps floored to microseconds, floats compared exactly).
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check as check_rule  # noqa: E402  the repository's compare rule

DAY0 = "DATE '1992-01-01'"


def spark_round2(x):
    """Spark's round(double, 2): HALF_UP on the double's shortest decimal
    form. DuckDB rounds the binary value, so a tie such as 280666.095
    would go down there and up in the engine."""
    return f"CAST(round(CAST(CAST({x} AS VARCHAR) AS DECIMAL(38, 10)), 2) AS DOUBLE)"


def _mart_sql(src):
    """The medallion mart (segment x year x quarter) over a source dir."""
    return f"""
      SELECT c_mktsegment AS segment,
             CAST(year(o_orderdate) AS INT) AS year,
             CAST(quarter(o_orderdate) AS INT) AS quarter,
             COUNT(o_orderkey) AS n_reviews,
             {spark_round2("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)")}
               AS avg_rating
      FROM '{src}/orders.parquet' JOIN '{src}/customer.parquet'
        ON o_custkey = c_custkey
      WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        AND o_orderdate IS NOT NULL
      GROUP BY 1, 2, 3"""


def _manifest_sql(src, root):
    """The daily manifest in long form (source, lang, n): documents of
    the slice kept after dedup, that is, not placed by the engine's
    components (`check_cc`, written next to the manifest) under a
    smaller id."""
    return f"""
      SELECT source, lang, count(*) AS n
      FROM '{src}/documents.parquet' d
      LEFT JOIN read_parquet('{root}/check_cc/*.parquet') c ON d.doc_id = c.id
      WHERE c.component IS NULL OR c.component = d.doc_id
      GROUP BY 1, 2"""


def oracle_sql(kind, p, data):
    """DuckDB SQL giving the expected result of one request."""
    if kind == "flagship":
        return f"""
          SELECT 'TW' AS city, 'north' AS region, c_custkey AS place_id,
                 c_name AS place_name, c_mktsegment AS main_category,
                 CAST(c_custkey % 90 AS DOUBLE) AS latitude,
                 CAST(c_custkey % 180 AS DOUBLE) AS longitude,
                 CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month,
                 CAST(quarter(d) AS INT) AS quarter, d AS date,
                 COUNT(o_orderkey) AS total_reviews,
                 {spark_round2("avg(o_totalprice)")} AS avg_rating
          FROM (SELECT DISTINCT o_orderkey, o_custkey, o_totalprice,
                       CAST(o_orderdate AS DATE) AS d
                FROM '{data}/orders.parquet'
                WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
                  AND o_orderdate IS NOT NULL) o
          JOIN '{data}/customer.parquet' ON o_custkey = c_custkey
          WHERE c_mktsegment = '{p["segment"]}'
            AND d >= {DAY0} + {p["d0"]} AND d < {DAY0} + {p["d1"]}
          GROUP BY ALL"""
    if kind == "window_topk":
        return f"""
          SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM '{data}/orders.parquet'
            WHERE o_custkey >= {p["c0"]} AND o_custkey < {p["c1"]})
          WHERE rank <= {p["k"]}"""
    if kind == "asof":
        return f"""
          WITH o AS (SELECT o_custkey, o_orderdate,
                            max(o_totalprice) AS last_order_price
                     FROM '{data}/orders.parquet' GROUP BY 1, 2),
               e AS (SELECT event_id, user_id, ts FROM '{data}/events.parquet'
                     WHERE user_id >= {p["u0"]} AND user_id < {p["u1"]})
          SELECT e.event_id, e.user_id, o.last_order_price
          FROM e ASOF LEFT JOIN o
            ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate"""
    if kind == "sessionize":
        return f"""
          WITH e AS (SELECT user_id, ts, event_id,
                            CAST(floor(epoch_ms(ts) / 1000) AS BIGINT) AS sec
                     FROM '{data}/events.parquet'
                     WHERE user_id >= {p["u0"]} AND user_id < {p["u1"]}),
               l AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS prev FROM e),
               f AS (SELECT *, CASE WHEN prev IS NULL OR sec - prev > {p["gap"]}
                            THEN 1 ELSE 0 END AS ns FROM l),
               s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                     FROM f)
          SELECT user_id, session_id, count(*) AS n_events,
                 strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
          FROM s GROUP BY 1, 2"""
    if kind == "melt":
        return f"""
          UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                          l_extendedprice, l_discount, l_tax
                   FROM '{data}/lineitem.parquet'
                   WHERE l_orderkey >= {p["k0"]} AND l_orderkey < {p["k1"]})
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME measure VALUE value"""
    if kind == "pivot":
        # long form (dow, h, n); the engine's pivot is melted to match
        return f"""
          SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
                 CAST(hour(ts) AS VARCHAR) AS h, count(*) AS n
          FROM '{data}/events.parquet'
          WHERE user_id >= {p["u0"]} AND user_id < {p["u1"]}
          GROUP BY 1, 2"""
    if kind in ("warehouse", "etl_mart"):
        return _mart_sql(data)
    raise ValueError(kind)


def compare(got, want):
    """'PASS' or a 'FAIL ...' reason, under tools/check.py's rule. Two
    empty results fail too: an oracle that selects nothing checks
    nothing."""
    if len(got) == 0 and len(want) == 0:
        return "FAIL empty result"
    return check_rule.compare("result", got, want)


def engine_result(con, kind, path):
    """The engine's result as written under `path`, in oracle form."""
    if kind in ("warehouse", "etl_mart"):
        path = f"{path}/mart/trends"
    if kind == "etl_manifest":
        path = f"{path}/manifest"
    df = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    if kind == "etl_manifest":
        # one column per language; n_weights (the classifier's weight
        # count, cross-joined in) has no DuckDB counterpart
        long = df.drop(columns=["n_weights"]).melt(
            id_vars=["source"], var_name="lang", value_name="n")
        long = long[long["n"].notna()].reset_index(drop=True)
        long["n"] = long["n"].astype("int64")
        return long
    if kind == "pivot":
        long = df.melt(id_vars=["dow"], var_name="h", value_name="n")
        long = long[long["n"].notna()].reset_index(drop=True)
        long["n"] = long["n"].astype("int64")
        long["dow"] = long["dow"].astype("int32")
        return long
    return df


def check(entry, data):
    """Run one oracle entry from the engine's measurements file."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        kind, p = entry["kind"], entry["params"]
        src = p.get("dir", data) if kind.startswith("etl_") else data
        sql = (_manifest_sql(src, entry["path"]) if kind == "etl_manifest"
               else oracle_sql(kind, p, src))
        want = con.execute(sql).df()
        got = engine_result(con, kind, entry["path"])
        return compare(got, want)
    except Exception as e:  # a result that cannot be read is a failure
        return f"FAIL {type(e).__name__}: {e}"
    finally:
        con.close()
