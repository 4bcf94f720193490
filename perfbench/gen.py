"""Inputs for the benchmark.

`tables(dir)` writes the fixed source tables (the sf0.1 star schema plus
`events` and `documents`) as one parquet file each. They depend on no
seed: every run of every workload reads the same tables, so a change in
the numbers is a change in the engine.

`workload_inputs(name, seed, ...)` turns the workload seed into the
inputs the engine receives: query parameters, id ranges, slices, query
batches, forget sets and the open-loop schedule. The same seed gives the
same inputs.
"""
import os
import random

import duckdb

# Row counts of the sf0.1 tables.
SIZES = {"customer": 15000, "supplier": 1000, "part": 20000,
         "orders": 150000, "lineitem": 600000, "events": 100000,
         "documents": 5000}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "error", "search"]
WORDS = ("a batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector index join shuffle plan cache lake").split()
ORDER_DAY0 = "1992-01-01"
ORDER_DAYS = 2557  # 1992-01-01 .. 1998-12-31
EVENT_USERS = 2000
DOC_LEN = (12, 48)


def tables(out_dir):
    """Write the source tables under `out_dir` (deterministic)."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    segs = "[" + ", ".join(f"'{s}'" for s in SEGMENTS) + "]"
    evts = "[" + ", ".join(f"'{s}'" for s in EVENT_TYPES) + "]"

    def h(x, salt):
        return f"hash({x}, {salt})"

    sql = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey,
            'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey,
            'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST({h('i', 1)} % 25 AS INTEGER) AS c_nationkey,
            CAST({h('i', 2)} % 1000000 AS DOUBLE) / 100 AS c_acctbal,
            {segs}[CAST({h('i', 3)} % 5 AS INTEGER) + 1] AS c_mktsegment
            FROM range({SIZES['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST({h('i', 4)} % 25 AS INTEGER) AS s_nationkey,
            CAST({h('i', 5)} % 1000000 AS DOUBLE) / 100 AS s_acctbal
            FROM range({SIZES['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            {words}[CAST({h('i', 6)} % {len(WORDS)} AS INTEGER) + 1] || ' ' ||
              {words}[CAST({h('i', 7)} % {len(WORDS)} AS INTEGER) + 1] AS p_name,
            'Brand#' || CAST({h('i', 8)} % 25 AS VARCHAR) AS p_brand,
            ['SMALL','MEDIUM','LARGE','ECONOMY','PROMO'][CAST({h('i', 9)} % 5 AS INTEGER) + 1] AS p_type,
            CAST({h('i', 10)} % 50 + 1 AS INTEGER) AS p_size,
            900.0 + CAST(i % 1000 AS DOUBLE) / 10 AS p_retailprice
            FROM range({SIZES['part']}) t(i)""",
        # prices are multiples of 0.02, so the mean of two is exact in
        # cents and rounding agrees across engines
        "orders": f"""SELECT i AS o_orderkey,
            CAST({h('i', 11)} % {SIZES['customer']} AS BIGINT) AS o_custkey,
            ['O','F','P'][CAST({h('i', 12)} % 3 AS INTEGER) + 1] AS o_orderstatus,
            CAST({h('i', 13)} % 25000000 AS DOUBLE) * 0.02 AS o_totalprice,
            TIMESTAMP '{ORDER_DAY0}' + to_days(CAST({h('i', 14)} % {ORDER_DAYS} AS INTEGER)) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][CAST({h('i', 15)} % 5 AS INTEGER) + 1] AS o_orderpriority
            FROM range({SIZES['orders']}) t(i)""",
        "lineitem": f"""SELECT CAST(i // 4 AS BIGINT) AS l_orderkey,
            CAST({h('i', 16)} % {SIZES['part']} AS BIGINT) AS l_partkey,
            CAST({h('i', 17)} % {SIZES['supplier']} AS BIGINT) AS l_suppkey,
            CAST(i % 4 + 1 AS INTEGER) AS l_linenumber,
            CAST({h('i', 18)} % 50 + 1 AS DOUBLE) AS l_quantity,
            CAST({h('i', 19)} % 10000000 AS DOUBLE) / 100 AS l_extendedprice,
            CAST({h('i', 20)} % 11 AS DOUBLE) / 100 AS l_discount,
            CAST({h('i', 21)} % 9 AS DOUBLE) / 100 AS l_tax,
            ['A','N','R'][CAST({h('i', 22)} % 3 AS INTEGER) + 1] AS l_returnflag,
            ['O','F'][CAST({h('i', 23)} % 2 AS INTEGER) + 1] AS l_linestatus,
            TIMESTAMP '{ORDER_DAY0}' + to_days(CAST({h('i', 24)} % {ORDER_DAYS} AS INTEGER)) AS l_shipdate
            FROM range({SIZES['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * 25920000 + {h('i', 25)} % 25920000 AS BIGINT)) AS ts,
            CAST({h('i', 26)} % {EVENT_USERS} AS BIGINT) AS user_id,
            {evts}[CAST({h('i', 27)} % 5 AS INTEGER) + 1] AS event_type,
            CAST({h('i', 28)} % 20000 AS DOUBLE) / 100 AS value,
            '{{"k": ' || CAST({h('i', 29)} % 100 AS VARCHAR) || '}}' AS props
            FROM range({SIZES['events']}) t(i)""",
    }
    for name, q in sql.items():
        con.execute(f"COPY ({q}) TO '{out_dir}/{name}.parquet' (FORMAT parquet)")
    # documents: every tenth document is a near-duplicate of the one
    # before it (one word appended), so dedup has pairs to find
    lo, hi = DOC_LEN
    base = f"""SELECT i AS doc_id, array_to_string(list_transform(
            range(CAST({lo} + {h('i', 30)} % {hi - lo} AS BIGINT)),
            j -> {words}[CAST(hash(i, j, 31) % {len(WORDS)} AS INTEGER) + 1]), ' ') AS text
            FROM range({SIZES['documents']}) t(i)"""
    con.execute(f"CREATE TABLE base AS {base}")
    con.execute(f"""COPY (
        SELECT b.doc_id,
          CASE WHEN b.doc_id % 10 = 9 THEN p.text || ' ' || 'merge'
               ELSE b.text END AS text,
          ['en','zh','en','fr','en'][CAST(hash(b.doc_id, 32) % 5 AS INTEGER) + 1] AS lang,
          'src' || CAST(hash(b.doc_id, 33) % 4 AS VARCHAR) AS source,
          CAST(length(CASE WHEN b.doc_id % 10 = 9 THEN p.text || ' merge'
               ELSE b.text END) AS BIGINT) AS n_chars
        FROM base b LEFT JOIN base p ON p.doc_id = b.doc_id - 1
        ORDER BY b.doc_id) TO '{out_dir}/documents.parquet' (FORMAT parquet)""")
    con.close()


def _daterange(rng, days):
    lo = rng.randrange(0, ORDER_DAYS - days)
    return lo, lo + days


def workload_inputs(name, seed, seconds, data_dir, run_dir, cpus):
    """The seeded inputs of one run, as a JSON-ready dict. `daily_etl`
    also writes its slices under `run_dir/slices`."""
    rng = random.Random(f"{name}:{seed}")
    base = {"workload": name, "seed": seed, "seconds": seconds, "data": data_dir,
            "cpus": cpus, "clients": min(2, cpus)}
    if name == "mart_reads":
        kinds = ["flagship", "window_topk", "asof", "sessionize", "melt",
                 "pivot"]
        pool = []
        for _ in range(2):
            d0, d1 = _daterange(rng, 45)
            pool.append({"kind": "flagship", "d0": d0, "d1": d1,
                         "segment": rng.choice(SEGMENTS)})
            c0 = rng.randrange(0, SIZES["customer"] - 800)
            pool.append({"kind": "window_topk", "c0": c0, "c1": c0 + 800,
                         "k": rng.choice([2, 3])})
            u0 = rng.randrange(0, EVENT_USERS - 60)
            pool.append({"kind": "asof", "u0": u0, "u1": u0 + 60})
            u0 = rng.randrange(0, EVENT_USERS - 60)
            pool.append({"kind": "sessionize", "u0": u0, "u1": u0 + 60,
                         "gap": rng.choice([1800, 3600])})
            k0 = rng.randrange(0, SIZES["orders"] - 400)
            pool.append({"kind": "melt", "k0": k0, "k1": k0 + 400})
            u0 = rng.randrange(0, EVENT_USERS - 200)
            pool.append({"kind": "pivot", "u0": u0, "u1": u0 + 200})
        for i, r in enumerate(pool):
            r["id"] = i
        # every run sees the same mix of kinds: the order is a sequence
        # of rounds, each round every kind once in a seeded order and
        # with a seeded variant
        order = []
        for _ in range(700):
            for k in rng.sample(kinds, len(kinds)):
                order.append(rng.choice([r["id"] for r in pool
                                         if r["kind"] == k]))
        return {**base, "requests": pool, "order": order}
    if name == "daily_etl":
        slices = []
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for i in range(4):
            d0, d1 = _daterange(rng, 120)
            shards, shard = 8, rng.randrange(8)
            sdir = os.path.join(run_dir, "slices", f"s{i}")
            os.makedirs(sdir)
            day0 = f"DATE '{ORDER_DAY0}'"
            con.execute(f"""COPY (SELECT * FROM '{data_dir}/orders.parquet'
                WHERE o_orderdate >= {day0} + {d0} AND o_orderdate < {day0} + {d1})
                TO '{sdir}/orders.parquet' (FORMAT parquet)""")
            con.execute(f"""COPY (SELECT * FROM '{data_dir}/customer.parquet')
                TO '{sdir}/customer.parquet' (FORMAT parquet)""")
            # near-duplicate pairs (doc_id // 10 groups) share a shard
            con.execute(f"""COPY (SELECT * FROM '{data_dir}/documents.parquet'
                WHERE hash(doc_id // 10, {seed}) % {shards} = {shard})
                TO '{sdir}/documents.parquet' (FORMAT parquet)""")
            rows = sum(con.execute(f"SELECT count(*) FROM '{sdir}/{t}.parquet'")
                       .fetchone()[0] for t in ("orders", "documents"))
            slices.append({"id": i, "dir": sdir, "d0": d0, "d1": d1,
                           "shard": shard, "shards": shards, "rows": rows})
        con.close()
        return {**base, "slices": slices}
    if name == "ann_search":
        n, clusters = 20000, 64
        batches = []
        for i in range(2):
            if i % 2 == 0:  # cluster-local: two clusters
                cs = rng.sample(range(clusters), 2)
                ids = [c + clusters * rng.randrange(n // clusters)
                       for c in cs for _ in range(4)]
            else:  # spread: eight clusters
                cs = rng.sample(range(clusters), 8)
                ids = [c + clusters * rng.randrange(n // clusters) for c in cs]
            batches.append({"id": i, "local": i % 2 == 0, "ids": ids,
                            "salt": rng.randrange(1 << 30)})
        routes = ["pruned", "batched", "filtered", "merged"]
        pool = [{"id": j, "batch": b["id"], "route": r,
                 "residue": rng.randrange(4)}
                for j, (b, r) in enumerate((b, r) for b in batches for r in routes)]
        order = [rng.randrange(len(pool)) for _ in range(4000)]
        return {**base, "n": n, "batches": batches, "requests": pool,
                "order": order}
    if name == "index_ingest":
        n0, per_batch = 20000, 40
        forgets = [[rng.randrange(n0) for _ in range(3)] for _ in range(64)]
        return {**base, "n0": n0, "per_batch": per_batch,
                "interval_ms": 100, "forgets": forgets}
    raise ValueError(f"unknown workload {name}")
