package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Graph operators and the rows beyond SQL parity:
  * PageRank, components, label propagation, nearest/geo joins, CDC and
  * sketch ledgers. */
private[graft] object GraphQueries {
  import QuerySupport._

  /** Unrolled-CTE DuckDB oracle for [[Graph.pagerankMicro]]: `iters`
    * chained iteration CTEs, each the literal integer-arithmetic spec
    * (`//` = Spark's `div`), so both engines compute identical longs. */
  private def pagerankOracleSql(iters: Int): String = {
    def prev(k: Int) = if (k == 1) "r0" else s"it${k - 1}"
    val header = """
      WITH edges AS (SELECT DISTINCT user_id AS src, event_id % 150 AS dst
                     FROM events),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (SELECT node, (SELECT 1000000000000 // n FROM nn) AS rank
             FROM nodes)"""
    val its = (1 to iters).map { k =>
      s""",
      it$k AS (
        SELECT n.node,
               (SELECT 150000000000 // n FROM nn)
               + (85 * (COALESCE(c.in_contrib, 0) +
                  (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT)
                   FROM ${prev(k)} r LEFT JOIN deg d ON r.node = d.src
                   WHERE d.src IS NULL) // (SELECT n FROM nn))) // 100
                 AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
                 CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS in_contrib
          FROM edges e JOIN ${prev(k)} r ON e.src = r.node
               JOIN deg d ON e.src = d.src
          GROUP BY e.dst) c ON n.node = c.node)"""
    }.mkString
    header + its + s"\n      SELECT node, rank FROM it$iters ORDER BY node"
  }

  private def labelPropOracleSql(iters: Int): String = {
    def prev(k: Int) = if (k == 1) "l0" else s"lp${k - 1}"
    val header = """
      WITH e0 AS (SELECT DISTINCT user_id AS src, event_id % 150 AS dst
                  FROM events),
      sym AS (SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0)
              WHERE src <> dst),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      l0 AS (SELECT node, node AS label FROM nodes)"""
    val its = (1 to iters).map { k =>
      s""",
      lp$k AS (
        SELECT p.node, COALESCE(m.new_label, p.label) AS label
        FROM ${prev(k)} p LEFT JOIN (
          SELECT dst AS node, label AS new_label FROM (
            SELECT s.dst, r.label, COUNT(*) AS cnt,
                   row_number() OVER (PARTITION BY s.dst
                     ORDER BY COUNT(*) DESC, r.label ASC) AS rk
            FROM sym s JOIN ${prev(k)} r ON s.src = r.node
            GROUP BY s.dst, r.label)
          WHERE rk = 1) m ON p.node = m.node)"""
    }.mkString
    header + its +
      s"\n      SELECT node, label AS community FROM lp$iters ORDER BY node"
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- graph (beyond parity) -----------------------------------------
    QuerySpec("g1_pagerank", (s, dir) => {
      // fixed-iteration PageRank in integer micro-units
      // (Graph.pagerankMicro): every step is integral arithmetic, so
      // the result is bit-exact across engines and summation orders —
      // the dropped division remainders are part of the spec. Link
      // graph derived deterministically from events (user → bucket).
      val e = t(s, dir, "events").select(col("user_id").as("src"),
        (col("event_id") % 150).as("dst"))
      Graph.pagerankMicro(e, iters = 5).orderBy(col("node"))
    }, pagerankOracleSql(5)),

    QuerySpec("g2_triangle_count", (s, dir) => {
      // triangle count via the ordered wedge join (Graph.triangleCount)
      // over the same derived link graph as g1
      val e = t(s, dir, "events").select(col("user_id").as("src"),
        (col("event_id") % 150).as("dst"))
      Graph.triangleCount(e)
    }, """
      WITH e AS (
        SELECT DISTINCT LEAST(user_id, event_id % 150) AS a,
               GREATEST(user_id, event_id % 150) AS b
        FROM events WHERE user_id <> event_id % 150)
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
           JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b"""),

    QuerySpec("g3_cooccurrence", (s, dir) => {
      // item co-occurrence graph (recsys / item-embedding prep): pairs
      // of items sharing users + user-set Jaccard, hot users capped
      // BEFORE the quadratic per-user join (Graph.cooccurrence)
      Graph.cooccurrence(t(s, dir, "events"),
          col("user_id"), col("event_id") % 200,
          maxUserItems = 500, minSupport = 2L)
        .orderBy(col("item_a"), col("item_b"))
    }, """
      WITH posts AS (
        SELECT DISTINCT user_id AS u, event_id % 200 AS i FROM events),
      kept AS (
        SELECT p.* FROM posts p JOIN (
          SELECT u FROM posts GROUP BY u HAVING COUNT(*) <= 500) k
          USING (u)),
      iu AS (SELECT i, COUNT(*) AS n_users FROM kept GROUP BY i),
      pairs AS (
        SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS co_users
        FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT p.item_a, p.item_b, p.co_users,
             round(CAST(p.co_users AS DOUBLE) /
                   (ua.n_users + ub.n_users - p.co_users), 4) AS jaccard
      FROM pairs p JOIN iu ua ON ua.i = p.item_a
           JOIN iu ub ON ub.i = p.item_b
      ORDER BY item_a, item_b"""),

    QuerySpec("j17_nearest_join", (s, dir) => {
      // nearest as-of: each click attached to the user's closest
      // purchase in EITHER direction — both window frames in one
      // shuffle (AsofJoin.nearest); ties prefer backward, equal-time
      // states resolve by event id, so output is deterministic
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts").as("p_ts"))
      AsofJoin.nearest(clicks, "user_id", "ts",
          purchases, "user_id", "p_ts",
          payload = Seq("p_event_id"), tiebreak = "p_event_id")
        .select(col("event_id"), col("user_id"),
          col("p_event_id").as("nearest_purchase_id"), col("delta_us"))
        .orderBy(col("event_id"))
    }, """
      WITH clicks AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'click'),
      purch AS (
        SELECT event_id AS p_event_id, user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase')
      SELECT c.event_id, c.user_id,
             n.p_event_id AS nearest_purchase_id, n.delta_us
      FROM clicks c LEFT JOIN LATERAL (
        SELECT p.p_event_id,
               epoch_us(p.p_ts) - epoch_us(c.ts) AS delta_us
        FROM purch p WHERE p.user_id = c.user_id
        ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.ts)) ASC,
                 (epoch_us(p.p_ts) > epoch_us(c.ts)) ASC,
                 CASE WHEN epoch_us(p.p_ts) <= epoch_us(c.ts)
                      THEN -p.p_event_id ELSE p.p_event_id END ASC
        LIMIT 1) n ON TRUE
      ORDER BY c.event_id"""),

    QuerySpec("er1_entity_resolution", (s, dir) => {
      // end-to-end entity resolution: SNM blocked candidates verified
      // by edit distance (the x56 tier) → connected components
      // (transitive closure of the match relation) → survivorship
      // election per entity cluster (longest name, then lexicographic,
      // then min id) — blocking, clustering, and election composed
      // into the master-data pipeline
      val part = t(s, dir, "part")
      val pairs = Dedup.sortedNeighborhoodPairs(part, col("p_partkey"),
        col("p_name"), w = 3, maxDist = 4)
      // sorted-neighborhood match graphs are CHAINS (adjacent names
      // link transitively), the adversarial-diameter case min-label
      // propagation converges slowly on — exactly what the
      // large-star/small-star variant (x51) exists for
      val comps = Dedup.connectedComponentsStar(
        pairs.select(col("id_a"), col("id_b")))
      val named = comps.join(
        part.select(col("p_partkey").as("id"), col("p_name")), Seq("id"))
      val w = Window.partitionBy(col("component"))
        .orderBy(length(col("p_name")).desc, col("p_name").asc,
          col("id").asc)
      named.withColumn("rk", row_number().over(w))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("p_name"))).as("survivor_name"),
          max(when(col("rk") === 1, col("id"))).as("survivor_id"))
        .orderBy(col("component"))
    }, """
      WITH RECURSIVE s AS (
        SELECT p_partkey AS id, p_name AS k,
               substring(p_name, 1, 1) AS blk FROM part),
      l AS (SELECT id, k,
              lead(id, 1) OVER w AS n1id, lead(k, 1) OVER w AS n1k,
              lead(id, 2) OVER w AS n2id, lead(k, 2) OVER w AS n2k
            FROM s WINDOW w AS (PARTITION BY blk ORDER BY k, id)),
      pairs AS (
        SELECT id AS id_a, n1id AS id_b FROM l
        WHERE n1id IS NOT NULL AND levenshtein(k, n1k) <= 4
        UNION ALL
        SELECT id, n2id FROM l
        WHERE n2id IS NOT NULL AND levenshtein(k, n2k) <= 4),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s2.dst, r.r FROM reach r JOIN sym s2 ON s2.src = r.id),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
      named AS (
        SELECT c.component, c.id, p.p_name
        FROM comp c JOIN part p ON p.p_partkey = c.id),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY component
          ORDER BY length(p_name) DESC, p_name ASC, id ASC) AS rk
        FROM named)
      SELECT component, COUNT(*) AS n_members,
             MAX(CASE WHEN rk = 1 THEN p_name END) AS survivor_name,
             MAX(CASE WHEN rk = 1 THEN id END) AS survivor_id
      FROM rk GROUP BY component ORDER BY component"""),

    QuerySpec("m7_cdc_apply", (s, dir) => {
      // CDC op-log replay: I ops for every order, U (+10.00, exact
      // decimal) for keys %4, D for keys %7; last-writer-wins per key
      // by sequence — one keyed window over the log (Mutations.cdcApply)
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"))
      val ins = o.select(col("o_orderkey").as("k"), lit("I").as("op"),
        lit(1L).as("seq"), col("o_totalprice").as("price"))
      val upd = o.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          lit(2L).as("seq"),
          // decimal + decimal literal: a bare 10.00 double would
          // coerce the whole sum to DoubleType and double-round,
          // diverging from the oracle's exact decimal addition by an
          // ulp near binade boundaries
          (col("o_totalprice").cast("decimal(18,2)") +
            lit(BigDecimal("10.00")).cast("decimal(18,2)"))
            .cast(DoubleType).as("price"))
      val del = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(3L).as("seq"), lit(0.0d).as("price"))
      Mutations.cdcApply(ins.unionAll(upd).unionAll(del),
          Seq("k"), "op", Seq(col("seq")))
        .select(col("k"), col("op"), col("price"))
        .orderBy(col("k"))
    }, """
      WITH log AS (
        SELECT o_orderkey AS k, 'I' AS op, 1 AS seq, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'U', 2,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10.00 AS DOUBLE)
        FROM orders WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT o_orderkey, 'D', 3, 0.0
        FROM orders WHERE o_orderkey % 7 = 0),
      r AS (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY seq DESC) AS rk FROM log)
      SELECT k, op, price FROM r WHERE rk = 1 AND op <> 'D'
      ORDER BY k"""),

    QuerySpec("m8_sketch_rollup", (s, dir) => {
      // mergeable-sketch incremental maintenance: per-slice HLL
      // sketches of distinct users (the state a standing rollup
      // PERSISTS — DataSketches HLL, Spark's hll_sketch_agg) merged
      // with hll_union_agg instead of rescanning history; the
      // distinct-count dual of m5's additive sums, where plain counts
      // don't merge but sketches do. Gated on the exact distinct with
      // the a4 tolerance-contract pattern (within 5%; HLL lgk=12 is
      // near-exact at this cardinality)
      val ev = t(s, dir, "events")
        .withColumn("slice", dayofmonth(col("ts")) % 2)
      val perSlice = ev.groupBy(col("event_type"), col("slice"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val merged = perSlice.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"),
          Mutations.toleranceFlag(col("exact_distinct"), col("est"),
            0.05).as("est_within_5pct"))
        .orderBy(col("event_type"))
    }, """
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_distinct,
             TRUE AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""),

    QuerySpec("m9_kll_ledger", (s, dir) => {
      // m8's quantile dual: per-day KLL sketches of order totalprice
      // (the state a standing latency/price/length-distribution ledger
      // PERSISTS — graft_kll_agg), merged on demand with
      // graft_kll_merge_agg into any date range instead of re-sorting
      // history. percentile_approx answers once and discards its
      // state; this keeps it mergeable (KLL merge bounds are proven,
      // unlike GK merges). Contract is on RANK, where KLL's guarantee
      // actually lives: the exact rank of each estimated quantile
      // value must be within 0.02 of q (k=400 ⇒ ~0.9% rank error at
      // 99% conf — deliberate margin, the a4 pattern).
      import graft.functions.SketchFns
      val o = t(s, dir, "orders")
        .select(col("o_orderdate"),
          col("o_totalprice").cast(DoubleType).as("v"))
      val daily = o.groupBy(col("o_orderdate"))
        .agg(SketchFns.kllAgg(col("v"), 400).as("sk"))
      val merged = daily.agg(
        SketchFns.kllMergeAgg(col("sk"), 400).as("sk"),
        count(lit(1)).as("n_slices"))
      val est = merged.select(col("n_slices"),
        explode(array(Seq(0.5d, 0.9d, 0.99d).map(q =>
          struct(lit(q).as("q"),
            SketchFns.kllQuantile(col("sk"), lit(q)).as("est_v"))): _*))
          .as("r"))
        .select(col("n_slices"), col("r.q").as("q"), col("r.est_v"))
      o.crossJoin(broadcast(est))
        .groupBy(col("q"), col("n_slices"))
        .agg((sum(when(col("v") <= col("est_v"), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1))).as("rank"))
        .select(col("q"), col("n_slices"),
          (abs(col("rank") - col("q")) <= lit(0.02d)).as("rank_err_ok"))
        .orderBy(col("q"))
    }, """
      WITH d AS (SELECT COUNT(DISTINCT o_orderdate) AS n_slices
                 FROM orders)
      SELECT CAST(q AS DOUBLE) AS q, n_slices, TRUE AS rank_err_ok
      FROM (VALUES (0.5), (0.9), (0.99)) AS t(q) CROSS JOIN d
      ORDER BY q"""),

    QuerySpec("g4_label_propagation", (s, dir) => {
      // deterministic synchronous label-propagation communities
      // (mode-of-neighbors, ties ascending) over the same derived
      // link graph as g1 — 3 fixed rounds, engine-replayable
      val e = t(s, dir, "events").select(col("user_id").as("src"),
        (col("event_id") % 150).as("dst"))
      Graph.labelPropagation(e, iters = 3).orderBy(col("node"))
    }, labelPropOracleSql(3)),

    QuerySpec("j15_scd2_pointintime", (s, dir) => {
      // the consumption side of m4's SCD2 dim: each fact row joins the
      // dim VERSION whose validity interval covers its event date
      // (key equality + date range) — ISO date strings compare
      // lexicographically, so validity is a plain string range; the
      // join shuffles on the key alone and versions-per-key is tiny
      val c = t(s, dir, "customer")
      val dim = c.select(col("c_custkey"), col("c_mktsegment"),
        lit("2024-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      val updates = c.filter(col("c_custkey") % 3 === 0).select(
        when(col("c_custkey") % 50 === 0, col("c_custkey") + 100000)
          .otherwise(col("c_custkey")).as("c_custkey"),
        when(col("c_custkey") % 6 === 0,
          concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      val scd2 = Mutations.scd2Merge(dim, updates, Seq("c_custkey"),
        Seq("c_mktsegment"), "2024-06-01")
      val facts = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        date_format(date_add(lit("2024-01-01").cast("date"),
          (col("o_orderkey") % 365).cast("int")), "yyyy-MM-dd").as("d"))
      facts.join(scd2,
          facts("o_custkey") === scd2("c_custkey") &&
            col("d") >= col("valid_from") &&
            (col("valid_to").isNull || col("d") < col("valid_to")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }, """
      WITH dim AS (
        SELECT c_custkey, c_mktsegment, '2024-01-01' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        FROM customer),
      upd AS (
        SELECT CASE WHEN c_custkey % 50 = 0 THEN c_custkey + 100000
                    ELSE c_custkey END AS c_custkey,
               CASE WHEN c_custkey % 6 = 0 THEN c_mktsegment || '_V2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 3 = 0),
      j AS (
        SELECT d.c_custkey AS dk, d.c_mktsegment AS dseg, d.valid_from,
               u.c_custkey AS uk, u.c_mktsegment AS useg
        FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey),
      scd2 AS (
        SELECT dk AS c_custkey, dseg AS c_mktsegment, valid_from,
               CAST(NULL AS VARCHAR) AS valid_to
        FROM j WHERE dk IS NOT NULL AND (uk IS NULL OR dseg = useg)
        UNION ALL
        SELECT dk, dseg, valid_from, '2024-06-01'
        FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
        UNION ALL
        SELECT uk, useg, '2024-06-01', NULL
        FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
        UNION ALL
        SELECT uk, useg, '2024-06-01', NULL
        FROM j WHERE dk IS NULL),
      facts AS (
        SELECT o_orderkey, o_custkey,
               strftime(DATE '2024-01-01' +
                 CAST(o_orderkey % 365 AS INT), '%Y-%m-%d') AS d
        FROM orders)
      SELECT s.c_mktsegment, COUNT(*) AS n_orders,
             COUNT(DISTINCT f.o_custkey) AS n_customers
      FROM facts f JOIN scd2 s
        ON f.o_custkey = s.c_custkey AND f.d >= s.valid_from
           AND (s.valid_to IS NULL OR f.d < s.valid_to)
      GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment"""),

    QuerySpec("j16_geo_nearest", (s, dir) => {
      // nearest-attraction geo join (the reference domain is mapped
      // places): every customer point scans a BROADCAST attraction dim
      // (brute nearest is the right plan while the dim fits an
      // executor — the scale path is the grid-cell bucket join in
      // operators/GeoJoin, exercised as j16b below on the same data
      // and oracle). Coordinates derive deterministically from keys;
      // win by (distance, id) so ties resolve identically in any
      // engine.
      val att = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("att_id"),
          (lit(21.9d) + (col("p_partkey") * 37 % 300).cast("double") / 100.0d)
            .as("alat"),
          (lit(120.0d) + (col("p_partkey") * 53 % 200).cast("double") / 100.0d)
            .as("alng"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"),
          (lit(21.9d) + (col("c_custkey") * 41 % 300).cast("double") / 100.0d)
            .as("clat"),
          (lit(120.0d) + (col("c_custkey") * 59 % 200).cast("double") / 100.0d)
            .as("clng"))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("dist"), col("att_id"))
      cust.crossJoin(broadcast(att))
        .withColumn("dist", ColFns.haversineKm(col("clat"), col("clng"),
          col("alat"), col("alng")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("att_id").as("nearest_att"),
          round(col("dist"), 3).as("dist_km"))
        .orderBy(col("c_custkey"))
    }, """
      WITH att AS (
        SELECT p_partkey AS att_id,
               21.9 + CAST(p_partkey * 37 % 300 AS DOUBLE) / 100.0 AS alat,
               120.0 + CAST(p_partkey * 53 % 200 AS DOUBLE) / 100.0 AS alng
        FROM part WHERE p_partkey % 20 = 0),
      cust AS (
        SELECT c_custkey,
               21.9 + CAST(c_custkey * 41 % 300 AS DOUBLE) / 100.0 AS clat,
               120.0 + CAST(c_custkey * 59 % 200 AS DOUBLE) / 100.0 AS clng
        FROM customer),
      d AS (
        SELECT c_custkey, att_id,
               12742.0176 * asin(sqrt(
                 sin((alat - clat) * 0.017453292519943295 / 2.0) *
                 sin((alat - clat) * 0.017453292519943295 / 2.0) +
                 cos(clat * 0.017453292519943295) *
                 cos(alat * 0.017453292519943295) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0))) AS dist
        FROM cust, att),
      r AS (
        SELECT c_custkey, att_id, dist,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist, att_id) AS rn
        FROM d)
      SELECT c_custkey, att_id AS nearest_att, round(dist, 3) AS dist_km
      FROM r WHERE rn = 1 ORDER BY c_custkey"""),

    QuerySpec("j16b_geo_nearest_grid", (s, dir) => {
      // the SCALE path for j16: grid-cell blocked nearest-neighbor
      // join (operators/GeoJoin) — right side registers in 3×3
      // neighbor cells, left probes its own cell, exact-distance
      // re-verify with a brute fallback for points beyond the
      // provable radius. Same inputs and oracle as j16, so the
      // blocked plan is pinned to the brute result.
      val att = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("att_id"),
          (lit(21.9d) + (col("p_partkey") * 37 % 300).cast("double") / 100.0d)
            .as("alat"),
          (lit(120.0d) + (col("p_partkey") * 53 % 200).cast("double") / 100.0d)
            .as("alng"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"),
          (lit(21.9d) + (col("c_custkey") * 41 % 300).cast("double") / 100.0d)
            .as("clat"),
          (lit(120.0d) + (col("c_custkey") * 59 % 200).cast("double") / 100.0d)
            .as("clng"))
      graft.operators.GeoJoin.nearest(
          cust, "c_custkey", "clat", "clng",
          att, "att_id", "alat", "alng",
          cellDeg = 0.5, maxAbsLatDeg = 25.0)
        .select(col("c_custkey"), col("nearest_id").as("nearest_att"),
          round(col("dist_km"), 3).as("dist_km"))
        .orderBy(col("c_custkey"))
    },
    // the blocked grid join must equal the brute join — same oracle
    """
      WITH att AS (
        SELECT p_partkey AS att_id,
               21.9 + CAST(p_partkey * 37 % 300 AS DOUBLE) / 100.0 AS alat,
               120.0 + CAST(p_partkey * 53 % 200 AS DOUBLE) / 100.0 AS alng
        FROM part WHERE p_partkey % 20 = 0),
      cust AS (
        SELECT c_custkey,
               21.9 + CAST(c_custkey * 41 % 300 AS DOUBLE) / 100.0 AS clat,
               120.0 + CAST(c_custkey * 59 % 200 AS DOUBLE) / 100.0 AS clng
        FROM customer),
      d AS (
        SELECT c_custkey, att_id,
               12742.0176 * asin(sqrt(
                 sin((alat - clat) * 0.017453292519943295 / 2.0) *
                 sin((alat - clat) * 0.017453292519943295 / 2.0) +
                 cos(clat * 0.017453292519943295) *
                 cos(alat * 0.017453292519943295) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0))) AS dist
        FROM cust, att),
      r AS (
        SELECT c_custkey, att_id, dist,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist, att_id) AS rn
        FROM d)
      SELECT c_custkey, att_id AS nearest_att, round(dist, 3) AS dist_km
      FROM r WHERE rn = 1 ORDER BY c_custkey"""),
  )
}
