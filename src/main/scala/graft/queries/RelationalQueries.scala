package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Relational operators: §2.3 dedup, joins, aggregation,
  * DML-as-rewrite, windows, set ops, reshape, scalar functions and
  * time buckets. */
private[graft] object RelationalQueries {
  import QuerySupport._

  private def qMartFlagship(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"), col("l_returnflag"))
      .agg(
        count(col("l_orderkey")).as("n_items"),
        round(dsum(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"), col("o_orderstatus"), col("l_returnflag"))
  }

  /** Shared r^t table for w10 (r = 0.9, t = 1..ewmaMaxT): computed ONCE
    * on the driver and embedded as literals in BOTH the Spark plan and
    * the generated oracle SQL, so no engine's libm pow (which differ in
    * the final ulp) enters the arithmetic. Double.toString round-trips
    * exactly, so both engines parse the identical doubles. 512 covers
    * per-user series far beyond bench scale; longer series should
    * re-index t per chunk anyway (the power underflows). */
  private val ewmaMaxT = 512

  private lazy val ewmaPowers: Seq[(Int, Double)] =
    (1 to ewmaMaxT).map(t => t -> math.pow(0.9d, t))

  private def ewmaOracleSql: String = {
    val rows = ewmaPowers
      .map { case (t, p) => s"($t, ${java.lang.Double.toString(p)})" }
      .mkString(", ")
    s"""
      WITH pw(t, p) AS (VALUES $rows),
      e AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
        FROM events WHERE event_type = 'purchase'),
      s AS (
        SELECT e.user_id, e.event_id, pw.p,
               CAST(SUM(CAST(e.value / pw.p AS DECIMAL(38,12)))
                 OVER (PARTITION BY e.user_id
                 ORDER BY e.t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS DOUBLE) AS s
        FROM e JOIN pw ON pw.t = e.t)
      SELECT user_id, event_id,
             CAST(round(CAST(0.1 * p * s AS DECIMAL(20,8)), 4) AS DOUBLE)
               AS ewma
      FROM s ORDER BY user_id, event_id"""
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- dedup (§2.3) --------------------------------------------------
    QuerySpec("d1_dedup_keep_first", (s, dir) => {
      Dedup.keepFirst(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus"), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }, """
      SELECT o_custkey, o_orderstatus, o_orderkey FROM (
        SELECT o_custkey, o_orderstatus, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                  ORDER BY o_orderkey) AS rn
        FROM orders) WHERE rn = 1 ORDER BY o_custkey, o_orderstatus"""),

    QuerySpec("d2_dedup_keep_last", (s, dir) => {
      Dedup.keepLast(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus"), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }, """
      SELECT o_custkey, o_orderstatus, o_orderkey FROM (
        SELECT o_custkey, o_orderstatus, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1 ORDER BY o_custkey, o_orderstatus"""),

    QuerySpec("d3_distinct_rows", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
    }, """
      SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem
      ORDER BY l_returnflag, l_linestatus, l_quantity"""),

    QuerySpec("d4_select_distinct", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }, """
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus, o_orderpriority"""),

    // ---- joins (§2.4) --------------------------------------------------
    QuerySpec("j1_join_inner", (s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, c_name, n_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      ORDER BY c_custkey"""),

    QuerySpec("j2_join_left_agg", (s, dir) => {
      val n = t(s, dir, "nation")
      val counts = t(s, dir, "customer")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
      n.join(counts, n("n_nationkey") === counts("c_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("cnt"), lit(0L)).as("n_customers"))
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey, n_name, COALESCE(cnt, 0) AS n_customers
      FROM nation LEFT JOIN (
        SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
      ) c ON n_nationkey = c.c_nationkey
      ORDER BY n_nationkey"""),

    QuerySpec("j3_join_chain3", (s, dir) => {
      // chained left joins, second ON is theta-style equality across
      // different column names (reference create_dim_attraction_type)
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, n_name, r_name
      FROM customer
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      ORDER BY c_custkey"""),

    QuerySpec("j4_mart_flagship", (s, dir) => qMartFlagship(s, dir), """
      SELECT c_mktsegment, o_orderstatus, l_returnflag,
             COUNT(l_orderkey) AS n_items,
             round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderstatus, l_returnflag
      ORDER BY c_mktsegment, o_orderstatus, l_returnflag"""),

    QuerySpec("j5_self_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber"))
        .groupBy(col("a.l_orderkey").as("l_orderkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("l_orderkey"))
    }, """
      SELECT a.l_orderkey AS l_orderkey, COUNT(*) AS n_pairs
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
      GROUP BY a.l_orderkey ORDER BY l_orderkey"""),

    QuerySpec("j6_anti_join", (s, dir) => {
      // parts never ordered in bulk (l_quantity > 45). The unfiltered
      // "never ordered at all" form was EMPTY at every test scale
      // (TPC-H lineitem references every part) — a vacuous oracle
      // match that exercised only the anti-join's empty path (round-6
      // vacuity sweep); the bulk-quantity restriction gives the
      // operator real survivors at all three scales (7/114/977)
      val p = t(s, dir, "part"); val li = t(s, dir, "lineitem")
      p.join(li.filter(col("l_quantity") > 45),
          p("p_partkey") === li("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }, """
      SELECT p_partkey, p_name FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_partkey = p_partkey AND l_quantity > 45)
      ORDER BY p_partkey"""),

    QuerySpec("j6b_semi_join", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""),

    QuerySpec("j7_fuzzy_best_match", (s, dir) => {
      // corrupt nation names deterministically (strip vowels), then
      // fuzzy-match each corrupted string back to the name table
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        regexp_replace(col("n_name"), "[AEIOU]", "").as("noisy_name"))
      FuzzyJoin.bestMatch(corrupted, "noisy_name", n, "n_name")
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey, noisy_name, match_n_name, match_score FROM (
        SELECT n_nationkey, noisy_name, cand AS match_n_name,
               round(score, 4) AS match_score,
               row_number() OVER (PARTITION BY n_nationkey, noisy_name
                                  ORDER BY score DESC, cand ASC) AS rn
        FROM (
          SELECT l.n_nationkey, l.noisy_name, r.cand,
                 1.0 - CAST(levenshtein(lower(l.noisy_name), lower(r.cand))
                            AS DOUBLE)
                 / greatest(length(lower(l.noisy_name)),
                            length(lower(r.cand)), 1) AS score
          FROM (SELECT n_nationkey,
                       regexp_replace(n_name, '[AEIOU]', '', 'g') AS noisy_name
                FROM nation) l
          CROSS JOIN (SELECT DISTINCT n_name AS cand FROM nation) r))
      WHERE rn = 1 ORDER BY n_nationkey"""),

    QuerySpec("j7b_fuzzy_blocked", (s, dir) => {
      // blocked fuzzy join (3-gram inverted index instead of cross
      // product) — the scale path when the right side is too big to
      // broadcast; corruption keeps 3-gram overlap so every row matches
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        concat(expr("substring(n_name, 1, length(n_name)-1)"), lit("X"))
          .as("noisy_name"))
      FuzzyJoin.blockedBestMatch(corrupted, "noisy_name", n, "n_name")
        .orderBy(col("n_nationkey"))
    }, """
      WITH l AS (
        SELECT n_nationkey,
               substring(n_name, 1, length(n_name) - 1) || 'X' AS noisy_name
        FROM nation),
      r AS (SELECT DISTINCT n_name AS cand FROM nation),
      lg AS (
        SELECT DISTINCT n_nationkey, noisy_name, g FROM (
          SELECT n_nationkey, noisy_name,
                 unnest(list_transform(
                   range(1, greatest(length(noisy_name) - 2, 1) + 1),
                   i -> substring(lower(noisy_name), CAST(i AS BIGINT), 3)))
                   AS g
          FROM l)),
      rg AS (
        SELECT DISTINCT cand, g FROM (
          SELECT cand,
                 unnest(list_transform(
                   range(1, greatest(length(cand) - 2, 1) + 1),
                   i -> substring(lower(cand), CAST(i AS BIGINT), 3))) AS g
          FROM r)),
      cands AS (
        SELECT DISTINCT n_nationkey, noisy_name, cand
        FROM lg JOIN rg USING (g)),
      scored AS (
        SELECT n_nationkey, noisy_name, cand,
               1.0 - CAST(levenshtein(lower(noisy_name), lower(cand))
                          AS DOUBLE)
                   / greatest(length(noisy_name), length(cand), 1) AS score
        FROM cands)
      SELECT n_nationkey, noisy_name, cand AS match_n_name,
             round(score, 4) AS match_score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY n_nationkey, noisy_name
              ORDER BY score DESC, cand ASC) AS rn
            FROM scored)
      WHERE rn = 1 ORDER BY n_nationkey"""),

    QuerySpec("j7d_fuzzy_jw", (s, dir) => {
      // j7b's blocked shape with the Jaro-Winkler scorer — the
      // MDM-standard name metric (f19's native expression) plugged
      // into the same 3-gram inverted-index candidate generation;
      // DuckDB's jaro_winkler_similarity makes this a FULL hash
      // oracle for the composed fuzzy join
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        concat(expr("substring(n_name, 1, length(n_name)-1)"), lit("X"))
          .as("noisy_name"))
      FuzzyJoin.blockedBestMatch(corrupted, "noisy_name", n, "n_name",
          FuzzyJoin.jwSimilarity)
        .orderBy(col("n_nationkey"))
    }, """
      WITH l AS (
        SELECT n_nationkey,
               substring(n_name, 1, length(n_name) - 1) || 'X' AS noisy_name
        FROM nation),
      r AS (SELECT DISTINCT n_name AS cand FROM nation),
      lg AS (
        SELECT DISTINCT n_nationkey, noisy_name, g FROM (
          SELECT n_nationkey, noisy_name,
                 unnest(list_transform(
                   range(1, greatest(length(noisy_name) - 2, 1) + 1),
                   i -> substring(lower(noisy_name), CAST(i AS BIGINT), 3)))
                   AS g
          FROM l)),
      rg AS (
        SELECT DISTINCT cand, g FROM (
          SELECT cand,
                 unnest(list_transform(
                   range(1, greatest(length(cand) - 2, 1) + 1),
                   i -> substring(lower(cand), CAST(i AS BIGINT), 3))) AS g
          FROM r)),
      cands AS (
        SELECT DISTINCT n_nationkey, noisy_name, cand
        FROM lg JOIN rg USING (g)),
      scored AS (
        SELECT n_nationkey, noisy_name, cand,
               jaro_winkler_similarity(lower(noisy_name), lower(cand))
                 AS score
        FROM cands)
      SELECT n_nationkey, noisy_name, cand AS match_n_name,
             round(score, 4) AS match_score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY n_nationkey, noisy_name
              ORDER BY score DESC, cand ASC) AS rn
            FROM scored)
      WHERE rn = 1 ORDER BY n_nationkey"""),

    QuerySpec("j7c_token_sort_match", (s, dir) => {
      // word-order corruption (reverse token order) recovered by the
      // fuzzywuzzy-style token-sort scorer — reordered names score 1.0
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        concat_ws(" ", reverse(split(col("n_name"), " "))).as("noisy_name"))
      FuzzyJoin.bestMatch(corrupted, "noisy_name", n, "n_name",
          FuzzyJoin.tokenSortSimilarity)
        .orderBy(col("n_nationkey"))
    }, """
      WITH l AS (
        SELECT n_nationkey,
               array_to_string(list_reverse(string_split(n_name, ' ')), ' ')
                 AS noisy_name
        FROM nation),
      r AS (SELECT DISTINCT n_name AS cand FROM nation),
      scored AS (
        SELECT l.n_nationkey, l.noisy_name, r.cand,
               1.0 - CAST(levenshtein(
                 array_to_string(list_sort(list_filter(
                   string_split_regex(lower(l.noisy_name), '[^a-z0-9]+'),
                   t -> t <> '')), ' '),
                 array_to_string(list_sort(list_filter(
                   string_split_regex(lower(r.cand), '[^a-z0-9]+'),
                   t -> t <> '')), ' ')) AS DOUBLE)
               / greatest(
                 length(array_to_string(list_sort(list_filter(
                   string_split_regex(lower(l.noisy_name), '[^a-z0-9]+'),
                   t -> t <> '')), ' ')),
                 length(array_to_string(list_sort(list_filter(
                   string_split_regex(lower(r.cand), '[^a-z0-9]+'),
                   t -> t <> '')), ' ')), 1) AS score
        FROM l CROSS JOIN r)
      SELECT n_nationkey, noisy_name, cand AS match_n_name,
             round(score, 4) AS match_score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY n_nationkey, noisy_name
              ORDER BY score DESC, cand ASC) AS rn
            FROM scored)
      WHERE rn = 1 ORDER BY n_nationkey"""),

    QuerySpec("j9_salted_join", (s, dir) => {
      // skew-resistant salted equi-join: same inner-join semantics,
      // hot keys spread across salt buckets
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Relational.saltedJoin(o, c, "o_custkey", salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }, """
      SELECT c_mktsegment, COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QuerySpec("j8_lookup_join", (s, dir) => {
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey, n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY n_nationkey"""),

    QuerySpec("j11_range_join", (s, dir) => {
      // point-in-interval join via bucketing (see RangeJoin): events
      // land in non-uniform value tiers derived from region
      val tiers = t(s, dir, "region").select(
        col("r_regionkey").as("tier"),
        (col("r_regionkey") * col("r_regionkey") * 20).cast(DoubleType).as("lo"),
        ((col("r_regionkey") + 1) * (col("r_regionkey") + 1) * 20)
          .cast(DoubleType).as("hi"))
      RangeJoin.bucketed(t(s, dir, "events"), "value", tiers, "lo", "hi",
          step = 20.0)
        .groupBy(col("tier"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("tier"))
    }, """
      WITH tiers AS (
        SELECT r_regionkey AS tier,
               CAST(r_regionkey * r_regionkey * 20 AS DOUBLE) AS lo,
               CAST((r_regionkey + 1) * (r_regionkey + 1) * 20 AS DOUBLE) AS hi
        FROM region)
      SELECT tier, lo, hi, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
      GROUP BY tier, lo, hi ORDER BY tier"""),

    QuerySpec("j10_asof_join", (s, dir) => {
      // backward as-of join: each event picks up the probe user's most
      // recent order state (right side pre-dedupped per (key, time) for
      // deterministic ties)
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("last_order_price"))
      AsofJoin.backward(e, "user_id", "ts",
          o, "o_custkey", "o_orderdate", Seq("last_order_price"))
        .select(col("event_id"), col("user_id"), col("last_order_price"))
        .orderBy(col("event_id"))
    }, """
      WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS last_order_price
        FROM orders GROUP BY 1, 2)
      SELECT event_id, user_id, last_order_price
      FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      ORDER BY event_id"""),

    QuerySpec("b2_bloom_prefilter_join", (s, dir) => {
      // Bloom-filter pre-filter before the exact join: build a bloom
      // sketch of the dim keys, drop probe rows that can't match before
      // the shuffle/broadcast (at 100 TB this is the runtime-filter
      // pattern that cuts the big side's shuffle volume; AQE does it
      // automatically for shuffle joins — shown here explicitly). False
      // positives only pass extra rows to the exact join, so the result
      // is identical to the plain join — which is the oracle.
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"))
      val bloomBytes = dim.agg(
        graft.functions.BloomFns.bloomAgg(col("c_custkey"), 4000L, 40000L)
          .as("bf")).head().getAs[Array[Byte]]("bf")
      t(s, dir, "events")
        .filter(graft.functions.BloomFns.mightContain(bloomBytes, col("user_id")))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    }, """
      SELECT c_mktsegment, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QuerySpec("j20_interval_overlap", (s, dir) => {
      // key-scoped interval-overlap self-join: pairs of the SAME
      // customer's order windows ([orderdate, +6d]) that overlap —
      // the concurrent-sessions / double-booking shape. The key
      // equality carries the join (one shuffle on custkey, per-key
      // groups are small); the overlap predicate is a post-join
      // filter, never a cross product. Date windows ride yyyy-MM-dd
      // strings (lexicographic = chronological) per the j15 idiom
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("lo"),
        date_format(date_add(col("o_orderdate").cast(DateType), 6),
          "yyyy-MM-dd").as("hi"))
      o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey") &&
            col("a.o_orderkey") < col("b.o_orderkey") &&
            col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
        .groupBy(col("a.o_custkey").as("o_custkey"))
        .agg(count(lit(1)).as("n_overlapping_pairs"),
          min(least(col("a.lo"), col("b.lo"))).as("first_overlap_start"))
        .orderBy(col("o_custkey"))
    }, """
      WITH o AS (
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS lo,
               strftime(o_orderdate + INTERVAL 6 DAY, '%Y-%m-%d') AS hi
        FROM orders)
      SELECT a.o_custkey,
             COUNT(*) AS n_overlapping_pairs,
             MIN(least(a.lo, b.lo)) AS first_overlap_start
      FROM o a JOIN o b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
       AND a.lo <= b.hi AND b.lo <= a.hi
      GROUP BY a.o_custkey ORDER BY a.o_custkey"""),

    QuerySpec("j12_full_outer_join", (s, dir) => {
      // full-outer reconciliation: which keys exist on one side only —
      // the audit join every warehouse sync needs. Orders aggregate to
      // key grain first so the outer join is key-to-key.
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .agg(
          sum(when(col("c_custkey").isNotNull &&
            col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_both"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("n_left_only"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("n_right_only"))
    }, """
      SELECT
        CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL
                       AND o.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_left_only,
        CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_right_only
      FROM (SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'BUILDING') c
      FULL JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                 FROM orders GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey"""),

    QuerySpec("j13_nullsafe_join", (s, dir) => {
      // null-safe equality (<=>): NULL keys match each other instead of
      // dropping — the semantics a dimension sync with "unknown" keys
      // needs. Both sides derive nullable keys deterministically.
      val e = t(s, dir, "events").select(
        when(col("event_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("event_id") % 50).as("k1"))
      val p = t(s, dir, "part").select(
        when(col("p_partkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("p_partkey") % 50).as("k2"))
      e.join(p, col("k1") <=> col("k2"))
        .groupBy(coalesce(col("k1"), lit(-1L)).as("key"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("key"))
    }, """
      SELECT COALESCE(k1, -1) AS key, COUNT(*) AS n_pairs
      FROM (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                        ELSE event_id % 50 END AS k1 FROM events) e
      JOIN (SELECT CASE WHEN p_partkey % 11 = 0 THEN NULL
                        ELSE p_partkey % 50 END AS k2 FROM part) p
        ON e.k1 IS NOT DISTINCT FROM p.k2
      GROUP BY COALESCE(k1, -1) ORDER BY key"""),

    QuerySpec("b3_zorder_scan", (s, dir) => {
      // Z-order clustered layout (Layout.zorderWrite): every output file
      // owns a compact (user_id, event_id) rectangle, so min/max footer
      // stats prune scans on EITHER dimension — the lakehouse OPTIMIZE
      // ZORDER pattern as a plain Spark write. The layout changes which
      // files a filter reads, never the result — which is the oracle.
      val path = tmpDir("zorder_events")
      Layout.zorderWrite(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        col("user_id"), col("event_id"), path, numFiles = 16)
      s.read.parquet(path)
        .filter(col("user_id").between(100, 300))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }, """
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE user_id BETWEEN 100 AND 300
      GROUP BY event_type ORDER BY event_type"""),

    QuerySpec("b1_bucketed_join", (s, dir) => {
      // co-located join over bucketed tables: the shuffle is paid once at
      // write time; the join itself plans with zero exchanges
      val o = Bucketing.writeBucketed(s,
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "b1_orders", tmpDir("b1_orders"), "o_custkey", buckets = 8)
      val c = Bucketing.writeBucketed(s,
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "b1_customer", tmpDir("b1_customer"), "c_custkey", buckets = 8)
      Bucketing.colocatedJoin(o, "o_custkey", c, "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    }, """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---- aggregation (§2.5) --------------------------------------------
    QuerySpec("a1_pricing_summary", (s, dir) => {
      // TPC-H Q1 shape: the canonical partial+final hash aggregation
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_disc_price,
             round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    QuerySpec("a2_count_distinct", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }, """
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    QuerySpec("a3_pivot_matrix", (s, dir) => {
      // pivot-accumulated matrix (reference populartimes 7×24)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Reshape.pivotMatrix(
        t(s, dir, "events")
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        col("day"), "event_type", count(lit(1)))
      pivoted.select(col("day") +:
          types.map(ty => coalesce(col(ty), lit(0L)).as(ty)): _*)
        .orderBy(col("day"))
    }, """
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             COUNT(*) FILTER (WHERE event_type = 'click') AS click,
             COUNT(*) FILTER (WHERE event_type = 'error') AS error,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
             COUNT(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY 1 ORDER BY day"""),

    QuerySpec("a4_hll_approx_distinct", (s, dir) => {
      // approx_count_distinct (HLL++). The sketch itself is engine-
      // specific, so the oracle-checked contract is the useful one: the
      // exact count plus "approx landed within 5%" (HLL++ rsd default
      // 0.05) — deterministic on fixed data, and exactly what a pipeline
      // asserting sketch quality would check.
      // rsd = 0.02 (not the 0.05 default): the default sketch lands
      // 6.7% off at sf0.1 — outside its own 5% contract on that draw —
      // while 0.02 measures ≤0.4% at every tested SF, keeping the
      // contract honest across scales (probed, not assumed)
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.05).as("within_5pct"))
        .orderBy(col("event_type"))
    }, """
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             TRUE AS within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""),

    QuerySpec("a15_cms_heavy_hitters", (s, dir) => {
      // Count-Min-Sketch frequency estimates (mergeable sketch, fixed
      // seed): ONE sketch aggregation over the stream of keys, then
      // driver-side point lookups for the candidate heavy hitters (the
      // b2 bloom-bytes pattern — materializing the sketch is the
      // point). Oracle-checked contract, a4-style: exact count + the
      // CMS guarantee (estimate never undercounts, overcount ≤ ε·N) —
      // deterministic on fixed data + fixed seed.
      import s.implicits._
      val e = t(s, dir, "events").select(col("event_type"))
      val bytes = e.agg(
          expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("s"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      // N comes from the sketch itself — no extra scan
      val bound = math.ceil(0.001 * cms.totalCount()).toLong
      val rows = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_n")).collect()
        .map { r =>
          val k = r.getString(0); val x = r.getLong(1)
          val est = cms.estimateCount(k)
          (k, x, est >= x && est <= x + bound)
        }.toSeq
      rows.toDF("event_type", "exact_n", "within_bound")
        .orderBy(col("event_type"))
    }, """
      SELECT event_type, COUNT(*) AS exact_n, TRUE AS within_bound
      FROM events GROUP BY event_type ORDER BY event_type"""),

    QuerySpec("a5_stats_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          median(col("l_quantity")).as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, """
      SELECT l_returnflag, MIN(l_quantity) AS min_qty,
             MAX(l_quantity) AS max_qty,
             CAST(median(l_quantity) AS DOUBLE) AS median_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    QuerySpec("a6_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    }, """
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""),

    QuerySpec("a7_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    }, """
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),

    QuerySpec("a23_grouped_mode", (s, dir) => {
      // exact mode per group (most-frequent value, ties to the LARGER
      // value — encoded structurally in max(struct(cnt, val)), no
      // window): two hash aggregations, both map-side combined; the
      // common "dominant category per entity" rollup without sorting
      // any group
      val e = t(s, dir, "events")
        .select((col("user_id") % 10).as("cohort"), col("event_type"))
      e.groupBy(col("cohort"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("cohort"))
        .agg(max(struct(col("cnt"), col("event_type"))).as("m"),
          sum(col("cnt")).as("n_events"))
        .select(col("cohort"), col("m.event_type").as("mode_event"),
          col("m.cnt").as("mode_n"), col("n_events"))
        .orderBy(col("cohort"))
    }, """
      WITH c AS (
        SELECT user_id % 10 AS cohort, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT cohort, event_type, cnt,
               SUM(cnt) OVER (PARTITION BY cohort) AS n_events,
               row_number() OVER (PARTITION BY cohort
                                  ORDER BY cnt DESC, event_type DESC)
                 AS rn
        FROM c)
      SELECT cohort, event_type AS mode_event, cnt AS mode_n,
             CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rn = 1 ORDER BY cohort"""),

    QuerySpec("a22_correlation", (s, dir) => {
      // Pearson correlations between lineitem measures, from exact
      // decimal moment sums (order-independent across any partitioning
      // — the zscoreOutliers discipline) with the final arithmetic in
      // doubles rounded at 4; one aggregation pass computes all three
      // pairs' moments simultaneously
      def d(c: String) = col(c).cast("decimal(18,2)")
      def dd(a: Column, b: Column) = (a * b).cast("decimal(30,4)")
      val m = t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(d("l_quantity")).as("sq"), sum(d("l_extendedprice")).as("sp"),
        sum(d("l_discount")).as("sd"),
        sum(dd(d("l_quantity"), d("l_quantity"))).as("sqq"),
        sum(dd(d("l_extendedprice"), d("l_extendedprice"))).as("spp"),
        sum(dd(d("l_discount"), d("l_discount"))).as("sdd"),
        sum(dd(d("l_quantity"), d("l_extendedprice"))).as("sqp"),
        sum(dd(d("l_quantity"), d("l_discount"))).as("sqd"),
        sum(dd(d("l_extendedprice"), d("l_discount"))).as("spd"))
      def corr(n: Column, sx: Column, sy: Column, sxx: Column,
               syy: Column, sxy: Column) = {
        val num = sxy.cast(DoubleType) -
          sx.cast(DoubleType) * sy.cast(DoubleType) / n
        val dx = sxx.cast(DoubleType) -
          sx.cast(DoubleType) * sx.cast(DoubleType) / n
        val dy = syy.cast(DoubleType) -
          sy.cast(DoubleType) * sy.cast(DoubleType) / n
        round(num / sqrt(dx * dy), 4)
      }
      m.select(
        corr(col("n"), col("sq"), col("sp"), col("sqq"), col("spp"),
          col("sqp")).as("corr_qty_price"),
        corr(col("n"), col("sq"), col("sd"), col("sqq"), col("sdd"),
          col("sqd")).as("corr_qty_disc"),
        corr(col("n"), col("sp"), col("sd"), col("spp"), col("sdd"),
          col("spd")).as("corr_price_disc"))
    }, """
      WITH m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
               SUM(CAST(l_discount AS DECIMAL(18,2))) AS sd,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
                 CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sqq,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS spp,
               SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sdd,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
                 CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sqp,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sqd,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS spd
        FROM lineitem)
      SELECT
        round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) *
          CAST(sp AS DOUBLE) / n) /
          sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) *
            CAST(sq AS DOUBLE) / n) *
            (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *
            CAST(sp AS DOUBLE) / n)), 4) AS corr_qty_price,
        round((CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) *
          CAST(sd AS DOUBLE) / n) /
          sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) *
            CAST(sq AS DOUBLE) / n) *
            (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) *
            CAST(sd AS DOUBLE) / n)), 4) AS corr_qty_disc,
        round((CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) *
          CAST(sd AS DOUBLE) / n) /
          sqrt((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *
            CAST(sp AS DOUBLE) / n) *
            (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) *
            CAST(sd AS DOUBLE) / n)), 4) AS corr_price_disc
      FROM m"""),

    QuerySpec("a21_winsorize", (s, dir) => {
      // robust-range winsorization: p01/p99 bounds from ONE tiny
      // aggregation (rounded to 2dp so both engines clamp at the
      // identical constant — interpolated percentiles differ in ulps),
      // broadcast back as the scalar crossJoin idiom, then a
      // scan-speed clamp; output is the clipping audit row
      val li = t(s, dir, "lineitem")
      val bounds = li.agg(
        round(expr("percentile(l_extendedprice, 0.01)"), 2).as("lo"),
        round(expr("percentile(l_extendedprice, 0.99)"), 2).as("hi"))
      val clipped = least(greatest(col("l_extendedprice"), col("lo")),
        col("hi"))
      li.crossJoin(broadcast(bounds))
        .agg(
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
            .as("n_clipped_low"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_clipped_high"),
          round(min(clipped), 2).as("min_v"),
          round(max(clipped), 2).as("max_v"),
          round(sum(clipped.cast("decimal(18,2)")).cast(DoubleType) /
            count(lit(1)), 2).as("mean_v"))
    }, """
      WITH b AS (
        SELECT round(quantile_cont(l_extendedprice, 0.01), 2) AS lo,
               round(quantile_cont(l_extendedprice, 0.99), 2) AS hi
        FROM lineitem)
      SELECT CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_low,
             CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_high,
             round(MIN(least(greatest(l_extendedprice, lo), hi)), 2)
               AS min_v,
             round(MAX(least(greatest(l_extendedprice, lo), hi)), 2)
               AS max_v,
             round(CAST(SUM(CAST(least(greatest(l_extendedprice, lo), hi)
               AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS mean_v
      FROM lineitem CROSS JOIN b"""),

    QuerySpec("a8_percentiles", (s, dir) => {
      // exact interpolated percentiles (quantile_cont semantics)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 2).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 2).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 2).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, """
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 2) AS p25,
             round(quantile_cont(l_quantity, 0.5), 2) AS p50,
             round(quantile_cont(l_quantity, 0.75), 2) AS p75,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    QuerySpec("a17_event_pattern", (s, dir) => {
      // CEP-lite sequence matching: each user's event history becomes
      // an ordered letter string (v/c/p/s/e) and MATCH_RECOGNIZE-style
      // patterns are plain regex counts over it — here view→clicks*→
      // purchase conversions. One keyed aggregation; the per-user
      // string is session-history-sized, the same per-key bound every
      // sequence operator carries.
      val e = t(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
          col("event_id"), substring(col("event_type"), 1, 1).as("l"))
      e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws("", transform(
            sort_array(collect_list(
              struct(col("sec"), col("event_id"), col("l")))),
            s => s.getField("l"))).as("seq"))
        .select(col("user_id"), col("n_events"),
          size(regexp_extract_all(col("seq"), lit("vc*p"), lit(0)))
            .as("n_conversions"))
        .orderBy(col("user_id"))
    }, """
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id,
               substring(event_type, 1, 1) AS l
        FROM events),
      sq AS (
        SELECT user_id, COUNT(*) AS n_events,
               string_agg(l, '' ORDER BY sec, event_id) AS seq
        FROM e GROUP BY user_id)
      SELECT user_id, n_events,
             CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT)
               AS n_conversions
      FROM sq ORDER BY user_id"""),

    QuerySpec("a20_pareto_abc", (s, dir) => {
      // Pareto / ABC concentration: customers ranked by exact decimal
      // revenue, cumulative share cut at 50%/80%. The cumulative sum
      // rides Layout.globalPrefixSum (range exchange + ≤32 metadata
      // offset rows) and the grand total the SAME metadata window
      // (keepTotal) — never a single-partition window over customer
      // rows: customers scale WITH the dataset (150k × SF here,
      // billions of users in the real analogue), so the former
      // customer-grain Window.orderBy was a one-executor wall at
      // 100×, the exact class the p13/x79/x86 rewrites eliminated
      // (PlanShapeSpec pins this query to the same discipline).
      // Exactness: revenue moves through the prefix machinery as
      // CENTS (decimal(18,2)·100 → long, exact), so cum/total is a
      // quotient of exact integers in BOTH engines and the A/B/C cut
      // compares operand-identical doubles.
      val rev = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        .withColumn("cents", (col("rev") * 100).cast(LongType))
      Layout.globalPrefixSum(rev, col("cents"),
          struct((-col("rev")).as("negrev"), col("o_custkey").as("k")),
          keepTotal = true)
        .withColumn("share", col("cum").cast(DoubleType) /
          col("total").cast(DoubleType))
        .withColumn("abc", when(col("share") <= 0.5d, "A")
          .when(col("share") <= 0.8d, "B").otherwise("C"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast(DoubleType).as("revenue"))
        .orderBy(col("abc"))
    }, """
      -- cents (exact BIGINT) through the cumulative machinery, like
      -- the engine's globalPrefixSum path: cum/tot is then a quotient
      -- of exact integers on both sides (same share doubles, same cut)
      WITH rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      r AS (
        SELECT o_custkey, rev,
               SUM(cents) OVER (ORDER BY rev DESC, o_custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cents) OVER () AS tot
        FROM rev),
      c AS (
        SELECT rev,
               CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.5
                    THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8
                    THEN 'B' ELSE 'C' END AS abc
        FROM r)
      SELECT abc, COUNT(*) AS n_customers,
             CAST(SUM(rev) AS DOUBLE) AS revenue
      FROM c GROUP BY abc ORDER BY abc"""),

    QuerySpec("a18_mad_outliers", (s, dir) => {
      // robust outlier counts: median absolute deviation per group
      // (two exact-percentile passes — immune to the outliers that
      // inflate a z-score's stddev; cf. a11). Group medians broadcast
      // back both times; exact percentile keeps the oracle bit-equal.
      val o = t(s, dir, "orders")
      val med = o.groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      val dev = o.join(broadcast(med), Seq("o_orderstatus"))
        .withColumn("adev", abs(col("o_totalprice") - col("med")))
      val mad = dev.groupBy(col("o_orderstatus"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("o_orderstatus"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(first(col("med")), 2).as("median"),
          round(first(col("mad")), 2).as("mad"),
          sum(when(col("adev") > lit(3.0d) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("o_orderstatus"))
    }, """
      WITH med AS (
        SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY 1),
      dev AS (
        SELECT o.o_orderstatus, m.med,
               abs(o.o_totalprice - m.med) AS adev
        FROM orders o JOIN med m USING (o_orderstatus)),
      mad AS (
        SELECT o_orderstatus, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1)
      SELECT d.o_orderstatus, COUNT(*) AS n_rows,
             round(MAX(d.med), 2) AS median,
             round(MAX(md.mad), 2) AS mad,
             CAST(SUM(CASE WHEN d.adev > 3.0 * md.mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers
      FROM dev d JOIN mad md USING (o_orderstatus)
      GROUP BY d.o_orderstatus ORDER BY o_orderstatus"""),

    QuerySpec("a16_above_group_p90", (s, dir) => {
      // QUALIFY-style filter: orders strictly above their status
      // group's p90 price — the group threshold broadcasts back from
      // a tiny aggregate (2-pass but group-grain; a windowed
      // percentile would sort the whole fact per group for the same
      // answer)
      val o = t(s, dir, "orders")
      val thr = o.groupBy(col("o_orderstatus"))
        .agg(round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"))
      o.join(broadcast(thr), Seq("o_orderstatus"))
        .filter(col("o_totalprice") > col("p90"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_above"), first(col("p90")).as("p90"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderstatus"))
    }, """
      WITH thr AS (
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.9), 2) AS p90
        FROM orders GROUP BY o_orderstatus)
      SELECT o.o_orderstatus, COUNT(*) AS n_above,
             MAX(t.p90) AS p90, MAX(o.o_totalprice) AS max_price
      FROM orders o JOIN thr t USING (o_orderstatus)
      WHERE o.o_totalprice > t.p90
      GROUP BY o.o_orderstatus ORDER BY o_orderstatus"""),

    QuerySpec("a8b_approx_percentiles", (s, dir) => {
      // sketch percentiles (GK/percentile_approx) — the 100 TB swap-in
      // for a8's exact sort-based form (SCALE.md). Oracle contract like
      // a4: exact values + "sketch landed within 1 quantity unit".
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_quantity, 0.5, 10000)").as("approx_p50"),
          expr("percentile(l_quantity, 0.5)").as("exact_p50_raw"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(col("exact_p50_raw"), 2).as("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50_raw")) <= 1.0)
            .as("within_1"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }, """
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 2) AS exact_p50,
             TRUE AS within_1,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    QuerySpec("a9_grouping_sets", (s, dir) => {
      Tables.createViews(s, dir)
      s.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY returnflag, linestatus""")
    }, """
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY returnflag, linestatus"""),

    QuerySpec("a10_histogram", (s, dir) => {
      // equi-width histogram: one-pass bucket profile of a measure
      // column (Quality.histogram) — tails clamp into the edge buckets
      Quality.histogram(t(s, dir, "lineitem"), col("l_extendedprice"),
          lo = 0.0, hi = 120000.0, nBuckets = 24)
        .orderBy(col("bucket"))
    }, """
      WITH b AS (
        SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 5000.0)
                 AS BIGINT), 0), 23) AS bucket,
               l_extendedprice AS v
        FROM lineitem)
      SELECT bucket, COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v,
             0.0 + bucket * 5000.0 AS bucket_lo
      FROM b GROUP BY bucket ORDER BY bucket"""),

    QuerySpec("a11_zscore_outliers", (s, dir) => {
      // z-score outlier report per event type: decimal-exact moments,
      // then |v-mean| > z·sd counted per group (Quality.zscoreOutliers)
      Quality.zscoreOutliers(t(s, dir, "events"),
          col("event_type"), col("value"), z = 2.5)
        .orderBy(col("grp"))
    }, """
      WITH m AS (
        SELECT event_type AS grp, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS s1,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) *
                        CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS s2
        FROM events GROUP BY event_type),
      mm AS (
        SELECT grp, CAST(s1 AS DOUBLE) / n AS mean,
               sqrt(CAST(s2 AS DOUBLE) / n -
                    (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
        FROM m)
      SELECT e.event_type AS grp, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN abs(e.value - mm.mean) > 2.5 * mm.sd
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             round(ANY_VALUE(mm.mean), 4) AS mean,
             round(ANY_VALUE(mm.sd), 4) AS sd
      FROM events e JOIN mm ON e.event_type = mm.grp
      GROUP BY e.event_type ORDER BY grp"""),

    // ---- DML-as-rewrite (§2.10) ----------------------------------------
    QuerySpec("m1_update_rewrite", (s, dir) => {
      // UPDATE … SET name WHERE name=… ×N (reference synonym-id repair),
      // as a repair-map rewrite + atomic overwrite of the parquet target
      val out = tmpDir("m1_target")
      Mutations.overwriteAtomic(
        Mutations.repairByKey(t(s, dir, "nation"), "n_name", "n_name",
          Map("JAPAN" -> "NIPPON", "FRANCE" -> "GAUL")), out)
      s.read.parquet(out)
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey,
             CASE n_name WHEN 'JAPAN' THEN 'NIPPON'
                         WHEN 'FRANCE' THEN 'GAUL'
                         ELSE n_name END AS n_name
      FROM nation ORDER BY n_nationkey"""),

    QuerySpec("m2_insert_missing", (s, dir) => {
      // INSERT INTO target SELECT … WHERE key NOT IN target (reference
      // dim_attraction_hashtag upsert) — anti-join + union rewrite
      val out = tmpDir("m2_target")
      t(s, dir, "nation").filter(col("n_nationkey") < 15)
        .withColumn("src", lit("old"))
        .write.mode("overwrite").parquet(out)
      val target = s.read.parquet(out)
      val source = t(s, dir, "nation").withColumn("src", lit("new"))
      Mutations.insertMissing(target, source, Seq("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"), col("src"))
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey, n_name,
             CASE WHEN n_nationkey < 15 THEN 'old' ELSE 'new' END AS src
      FROM nation ORDER BY n_nationkey"""),

    QuerySpec("m3_delete_rewrite", (s, dir) => {
      // DELETE FROM … WHERE cond ×N (reference dim_attraction_detail) —
      // filter-out rewrite, then aggregate the survivors
      val out = tmpDir("m3_target")
      t(s, dir, "customer").write.mode("overwrite").parquet(out)
      Mutations.deleteWhere(s.read.parquet(out),
          col("c_acctbal") < 0 && col("c_mktsegment") === "MACHINERY")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("balance"))
        .orderBy(col("c_mktsegment"))
    }, """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer
      WHERE NOT (c_acctbal < 0 AND c_mktsegment = 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QuerySpec("s16_schema_evolution", (s, dir) => {
      // schema evolution across parquet generations: an old partition
      // (3 columns) and a new one (adds o_orderpriority) read as ONE
      // dataset via mergeSchema; old rows surface NULL for the new
      // column — the lakehouse add-column contract without a rewrite
      val out = tmpDir("s16_evolving")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.parquet(s"$out/gen=1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("o_orderpriority").isNull.as("prio_missing"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("prio_missing"))
    }, """
      SELECT (o_orderkey % 2 = 0) AS prio_missing, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders GROUP BY 1 ORDER BY prio_missing"""),

    QuerySpec("s17_bad_records", (s, dir) => {
      // corrupt-record tolerance: a JSONL drop where every 50th line is
      // truncated mid-record; PERMISSIVE read surfaces bad lines in
      // _corrupt_record instead of failing the job — count and carve
      // out the good rows (the quarantine pattern for raw drops)
      val stage = tmpDir("s17_jsonl")
      val lines = t(s, dir, "orders")
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))).as("line"))
        .select(when(col("o_orderkey") % 50 === 0,
          substring(col("line"), 1, 12)).otherwise(col("line")).as("value"))
      lines.coalesce(4).write.mode("overwrite").text(stage)
      val schema = "o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, _corrupt_record STRING"
      s.read.schema(schema).option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stage)
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("n"),
          dsum(coalesce(col("o_totalprice"), lit(0.0d))).as("total"))
        .orderBy(col("quarantined"))
    }, """
      SELECT (o_orderkey % 50 = 0) AS quarantined, COUNT(*) AS n,
             CAST(SUM(CASE WHEN o_orderkey % 50 = 0 THEN CAST(0 AS DECIMAL(18,2))
                           ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY quarantined"""),

    QuerySpec("m4_scd2_merge", (s, dir) => {
      // SCD Type-2 merge (Mutations.scd2Merge): the scale-respecting
      // alternative to the reference's drop-and-rebuild dims. Dim =
      // current customer snapshot; batch = every 3rd key, with the
      // segment changed on every 6th and unseen keys on every 150th.
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
      Mutations.scd2Merge(dim, updates, Seq("c_custkey"),
          Seq("c_mktsegment"), "2024-06-01")
        .orderBy(col("c_custkey"), col("valid_from"))
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
        FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey)
      SELECT dk AS c_custkey, dseg AS c_mktsegment, valid_from,
             CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      FROM j WHERE dk IS NOT NULL AND (uk IS NULL OR dseg = useg)
      UNION ALL
      SELECT dk, dseg, valid_from, '2024-06-01', FALSE
      FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
      UNION ALL
      SELECT uk, useg, '2024-06-01', NULL, TRUE
      FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
      UNION ALL
      SELECT uk, useg, '2024-06-01', NULL, TRUE
      FROM j WHERE dk IS NULL
      ORDER BY c_custkey, valid_from"""),

    QuerySpec("m5_incremental_agg", (s, dir) => {
      // incremental materialized-rollup maintenance: the target rollup
      // and a late-arriving fact slice merge at rollup grain
      // (Mutations.upsertAggregate) — no history rescan; result ≡ the
      // full recompute, which is the oracle
      val o = t(s, dir, "orders")
        .withColumn("m", month(col("o_orderdate")))
      def agg(df: DataFrame) = df
        .groupBy(col("o_orderstatus"), col("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
      val target = agg(o.filter(col("o_orderkey") % 4 =!= 0))
      val delta = agg(o.filter(col("o_orderkey") % 4 === 0))
      Mutations.upsertAggregate(target, delta,
          Seq("o_orderstatus", "m"), Seq("n", "total"))
        .select(col("o_orderstatus"), col("m"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy(col("o_orderstatus"), col("m"))
    }, """
      SELECT o_orderstatus, CAST(month(o_orderdate) AS INT) AS m,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, m"""),

    QuerySpec("s15_snapshot_time_travel", (s, dir) => {
      // versioned snapshot reads (Lake.writeSnapshot/readSnapshot):
      // v1 = partial dim, v2 = repaired full dim; reading "as of v1"
      // after v2 landed returns the old world — time travel from
      // directory convention + atomic rename alone
      val lake = new graft.sources.Lake(s, tmpDir("s15_lake"))
      val n = t(s, dir, "nation")
      lake.writeSnapshot(n.filter(col("n_nationkey") < 15), "nation_dim")
      lake.writeSnapshot(
        Mutations.repairByKey(n, "n_name", "n_name",
          Map("JAPAN" -> "NIPPON")), "nation_dim")
      val v1 = lake.readSnapshot("nation_dim", Some(1))
        .withColumn("version", lit(1))
      val v2 = lake.readSnapshot("nation_dim") // latest
        .withColumn("version", lit(2))
      v1.unionByName(v2)
        .select(col("version"), col("n_nationkey"), col("n_name"))
        .orderBy(col("version"), col("n_nationkey"))
    }, """
      SELECT 1 AS version, n_nationkey, n_name FROM nation
      WHERE n_nationkey < 15
      UNION ALL
      SELECT 2, n_nationkey,
             CASE WHEN n_name = 'JAPAN' THEN 'NIPPON' ELSE n_name END
      FROM nation
      ORDER BY version, n_nationkey"""),

    QuerySpec("s18_dynamic_partition_overwrite", (s, dir) => {
      // the daily-backfill write: partitionOverwriteMode=dynamic
      // replaces ONLY the partitions present in the incoming frame
      // (here: the earliest day, rewritten without its error rows) —
      // static overwrite would nuke every other day with it
      val lakeDir = tmpDir("s18_lake")
      val e = t(s, dir, "events").select(col("event_id"),
        col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      e.write.partitionBy("day").mode("overwrite").parquet(lakeDir)
      val day0 = e.agg(min(col("day"))).head().getString(0)
      val fixed = e.filter(col("day") === day0 &&
        col("event_type") =!= "error")
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.get(key)
      s.conf.set(key, "dynamic")
      try fixed.write.partitionBy("day").mode("overwrite").parquet(lakeDir)
      finally s.conf.set(key, prev)
      // partition-column type inference reads day= back as DATE; the
      // contract (and the oracle) speak ISO strings
      s.read.parquet(lakeDir)
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
        .orderBy(col("day"))
    }, """
      WITH e AS (
        SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS day
        FROM events),
      d0 AS (SELECT MIN(day) AS d FROM e)
      SELECT day, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_errors
      FROM e, d0
      WHERE NOT (day = d0.d AND event_type = 'error')
      GROUP BY day ORDER BY day"""),

    QuerySpec("m6_snapshot_diff", (s, dir) => {
      // version-over-version table diff: v1 = partial dim, v2 = full +
      // repaired; classify keys inserted/deleted/updated via one
      // hash-payload full-outer join (Mutations.snapshotDiff — ship
      // the diff downstream, not the table)
      val lake = new graft.sources.Lake(s, tmpDir("m6_lake"))
      val n = t(s, dir, "nation")
      lake.writeSnapshot(n.filter(col("n_nationkey") < 15), "nation_dim")
      lake.writeSnapshot(
        Mutations.repairByKey(n, "n_name", "n_name",
          Map("JAPAN" -> "NIPPON")), "nation_dim")
      Mutations.snapshotDiff(
          lake.readSnapshot("nation_dim", Some(1)),
          lake.readSnapshot("nation_dim"), Seq("n_nationkey"))
        .orderBy(col("n_nationkey"))
    }, """
      WITH b AS (SELECT * FROM nation WHERE n_nationkey < 15),
      a AS (SELECT n_nationkey,
                   CASE WHEN n_name = 'JAPAN' THEN 'NIPPON'
                        ELSE n_name END AS n_name,
                   n_regionkey
            FROM nation)
      SELECT COALESCE(b.n_nationkey, a.n_nationkey) AS n_nationkey,
             CASE WHEN b.n_nationkey IS NULL THEN 'inserted'
                  WHEN a.n_nationkey IS NULL THEN 'deleted'
                  WHEN b.n_name <> a.n_name
                       OR b.n_regionkey <> a.n_regionkey
                  THEN 'updated' END AS change
      FROM b FULL OUTER JOIN a ON b.n_nationkey = a.n_nationkey
      WHERE b.n_nationkey IS NULL OR a.n_nationkey IS NULL
            OR b.n_name <> a.n_name OR b.n_regionkey <> a.n_regionkey
      ORDER BY n_nationkey"""),

    // ---- windows / sort / top-k (§2.6) ---------------------------------
    QuerySpec("w10_ewma", (s, dir) => {
      // exponential smoothing (zero-seeded EWMA, α=0.1) per user over
      // event time, via the closed form ewma_t = α·r^t·Σ(x_k/r^k)
      // (r = 1−α): ONE ordered running window sum instead of a
      // sequential recurrence Spark can't express. Running sums
      // evaluate sequentially in frame order, so both engines add the
      // same doubles in the same order. r^t does NOT go through
      // libm pow — Java's and DuckDB's pow differ in the final ulp,
      // which flipped two rounded rows — it joins from [[ewmaPowers]],
      // the same driver-computed double literals the generated oracle
      // embeds (the pagerankOracleSql discipline); the broadcast side
      // is ewmaMaxT rows.
      val alpha = 0.1d
      val pw = s.createDataFrame(ewmaPowers).toDF("t", "p")
      val byT = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("t", row_number().over(byT))
        // LEFT join + loud failure on a missed power row: an INNER join
        // would silently TRUNCATE any per-user purchase series longer
        // than ewmaMaxT — and since the oracle embeds the same table,
        // the hash check could never see the loss on grown data. (The
        // other grown-data hazard, decimal(38,12) running-sum overflow
        // near t≈500, already fails loudly under Spark 4's default
        // ANSI mode.)
        .join(broadcast(pw), Seq("t"), "left")
        .withColumn("p", when(col("p").isNull,
            raise_error(concat(lit("w10_ewma: series position t="),
              col("t").cast("string"),
              lit(" exceeds the precomputed power table (ewmaMaxT); " +
                "raise ewmaMaxT"))))
          .otherwise(col("p")))
        // the running sum goes through DECIMAL: DuckDB windows sum via
        // a segment TREE (different FP addition order), so double sums
        // diverge in ulps — the repo's decimal-aggregation gotcha
        // applied to window frames
        .withColumn("s",
          sum((col("value") / col("p")).cast("decimal(38,12)")).over(run)
            .cast(DoubleType))
        // quantize at 8dp BEFORE the 4dp round: Spark rounds the
        // double's exact binary value (BigDecimal HALF_UP), DuckDB the
        // shortest decimal repr — a product an ulp from x.xxxx5 flips
        // between them; the intermediate decimal cast resolves the
        // boundary identically on both sides
        .select(col("user_id"), col("event_id"),
          round((lit(alpha) * col("p") * col("s")).cast("decimal(20,8)"),
            4).cast(DoubleType).as("ewma"))
        .orderBy(col("user_id"), col("event_id"))
    }, ewmaOracleSql),

    QuerySpec("w3_window_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))
    }, """
      SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rank
        FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank"""),

    QuerySpec("w11_topk_agg", (s, dir) => {
      // w3's grouped top-k via the bounded-heap aggregate
      // (graft_topk_agg) instead of a window sort: per-group state is
      // ≤k values, partial-combines map-side, so the exchange moves
      // |groups|·k rows — not the whole fact table (the scale
      // difference the window form can't avoid). Direction and
      // tie-break ride the struct ordering: (price, -orderkey) =
      // price desc then orderkey asc, w3's exact semantics — and the
      // oracle IS w3's oracle, so both formulations must agree
      // row-for-row
      import graft.functions.TopKAgg
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(TopKAgg.topK(struct(col("o_totalprice"),
          (-col("o_orderkey")).as("neg_key"), col("o_orderkey")), 3)
          .as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "r")))
        .select(col("o_custkey"), (col("i") + 1).cast(IntegerType).as("rank"),
          col("r.o_orderkey").as("o_orderkey"),
          col("r.o_totalprice").as("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))
    }, """
      SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rank
        FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank"""),

    QuerySpec("w4_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, """
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_total
      FROM orders ORDER BY o_custkey, o_orderkey"""),

    QuerySpec("w5_lag_delta", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_price",
          lag(col("o_totalprice").cast("decimal(18,2)"), 1).over(w))
        .withColumn("delta",
          (col("o_totalprice").cast("decimal(18,2)") - col("prev_price"))
            .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("prev_price").cast("double").as("prev_price"), col("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, """
      SELECT o_custkey, o_orderkey,
             CAST(prev AS DOUBLE) AS prev_price,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) - prev AS DOUBLE)
               AS delta
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               lag(CAST(o_totalprice AS DECIMAL(18,2)), 1)
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders) ORDER BY o_custkey, o_orderkey"""),

    QuerySpec("w6_range_frame", (s, dir) => {
      // value-range window frame: trailing 30-day revenue per customer
      // (RANGE, not ROWS — peers share the frame, so ties are harmless)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .withColumn("sum_30d",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("sum_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, """
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY date_diff('day', DATE '1970-01-01',
                                           CAST(o_orderdate AS DATE))
                        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS sum_30d
      FROM orders ORDER BY o_custkey, o_orderkey"""),

    QuerySpec("w7_rank_family", (s, dir) => {
      // the rest of the ranking family over one keyed window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          dense_rank().over(w).as("drank"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"),
          first(col("o_orderkey")).over(w).as("top_key"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey, o_orderstatus,
             dense_rank() OVER w AS drank,
             round(percent_rank() OVER w, 6) AS prank,
             round(cume_dist() OVER w, 6) AS cdist,
             first_value(o_orderkey) OVER w AS top_key
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderkey"""),

    QuerySpec("w8_forward_fill", (s, dir) => {
      // forward-fill (LOCF): last non-null observation carried forward
      // per key in event-time order — the gap-repair op for sensor /
      // metric streams (pandas ffill re-expressed as one keyed window,
      // ignoreNulls last_value; leading nulls stay null). Gaps are
      // derived deterministically so the oracle sees the same holes.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("gappy",
          when(col("event_id") % 5 === 0, lit(null).cast("double"))
            .otherwise(col("value")))
        .select(col("event_id"), col("user_id"),
          last(col("gappy"), ignoreNulls = true).over(w).as("filled"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, user_id,
             last_value(gappy IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM (SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE value END AS gappy
            FROM events)
      ORDER BY event_id"""),

    QuerySpec("w9_cumulative_distinct", (s, dir) => {
      // running COUNT(DISTINCT) per key — not directly plannable as a
      // window in Spark (or most engines); the composable form is a
      // first-occurrence flag + cumulative sum. Both windows partition
      // by user_id alone (first-occurrence via lag over a (type, ts)
      // sort instead of a per-(user, type) row_number), so the plan
      // pays ONE exchange and two in-partition sorts, not two shuffles.
      val typeRuns = Window.partitionBy(col("user_id"))
        .orderBy(col("event_type"), col("ts"), col("event_id"))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("first_seen",
          when(!(lag(col("event_type"), 1).over(typeRuns) <=>
            col("event_type")), 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("first_seen")).over(cum).as("types_seen"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, user_id,
             CAST(SUM(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS types_seen
      FROM (SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END AS first_seen
            FROM events)
      ORDER BY event_id"""),

    // ---- set ops (§2.7) ------------------------------------------------
    QuerySpec("u1_union_distinct", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(su).distinct().orderBy(col("nationkey"))
    }, """
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier ORDER BY nationkey"""),

    QuerySpec("u2_intersect", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(su).orderBy(col("nationkey"))
    }, """
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT DISTINCT s_nationkey FROM supplier ORDER BY nationkey"""),

    QuerySpec("u3_except", (s, dir) => {
      // nations with customers but no negative-balance supplier. The
      // unrestricted customer-minus-supplier nation difference was
      // EMPTY at sf0.01/sf0.1 (suppliers cover every customer nation)
      // — a vacuous oracle match (round-6 vacuity sweep); the acctbal
      // restriction keeps the difference non-empty at all scales
      // (25/21/2)
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nationkey"))
      c.except(su).orderBy(col("nationkey"))
    }, """
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT DISTINCT s_nationkey FROM supplier
        WHERE s_acctbal < 0 ORDER BY nationkey"""),

    QuerySpec("u4_union_evolved", (s, dir) => {
      // schema-drift union: an old extract (no balance column) unions
      // with the new one — allowMissingColumns null-fills the gap
      // (the generation-merge read every evolving pipeline does)
      val old = t(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"))
      val neu = t(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      old.unionByName(neu, allowMissingColumns = true)
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal
      FROM customer WHERE c_custkey % 2 = 1
      ORDER BY c_custkey"""),

    // ---- reshape (§2.8) ------------------------------------------------
    QuerySpec("r6_pivot_multi_measure", (s, dir) => {
      // multi-measure pivot: count AND decimal-exact value sum per
      // pivoted event type in one pass (Spark emits type_n / type_sum
      // column pairs)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy(col("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
      p.select(col("day") +: types.flatMap(ty => Seq(
          coalesce(col(s"${ty}_n"), lit(0L)).as(s"${ty}_n"),
          coalesce(col(s"${ty}_sv").cast(DoubleType), lit(0.0d))
            .as(s"${ty}_sv"))): _*)
        .orderBy(col("day"))
    }, """
      WITH e AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events)
      SELECT day,
        COUNT(*) FILTER (WHERE event_type='click') AS click_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='click'), 0)
          AS DOUBLE) AS click_sv,
        COUNT(*) FILTER (WHERE event_type='error') AS error_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='error'), 0)
          AS DOUBLE) AS error_sv,
        COUNT(*) FILTER (WHERE event_type='purchase') AS purchase_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='purchase'), 0)
          AS DOUBLE) AS purchase_sv,
        COUNT(*) FILTER (WHERE event_type='signup') AS signup_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='signup'), 0)
          AS DOUBLE) AS signup_sv,
        COUNT(*) FILTER (WHERE event_type='view') AS view_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='view'), 0)
          AS DOUBLE) AS view_sv
      FROM e GROUP BY day ORDER BY day"""),

    QuerySpec("r1_unpivot_melt", (s, dir) => {
      // ordered-melt at a quarter of the sorted volume: range-sort the
      // BASE rows on the id prefix, then unpivot (narrow — rows never
      // change partitions), then add the measure key with a partition-
      // local sort. Global order is identical to orderBy-after-melt
      // because range partitions are disjoint on (l_orderkey,
      // l_linenumber) and the 4-way fan-out stays inside its partition
      // — but the exchange+sort now moves 6M wide-less rows instead of
      // 24M melted ones.
      Reshape.melt(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_discount", "l_tax")
            .orderBy(col("l_orderkey"), col("l_linenumber")),
          ids = Seq("l_orderkey", "l_linenumber"),
          values = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          varName = "measure", valName = "value")
        .sortWithinPartitions(
          col("l_orderkey"), col("l_linenumber"), col("measure"))
    }, """
      SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS value FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               l_extendedprice FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
               FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
               FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, measure"""),

    QuerySpec("r2_explode_split", (s, dir) => {
      Reshape.explodeSplit(t(s, dir, "part"), "p_type", "type_word", " ")
        .select(col("p_partkey"), col("type_word"))
        .orderBy(col("p_partkey"), col("type_word"))
    }, """
      SELECT p_partkey, type_word FROM (
        SELECT p_partkey, trim(unnest(string_split(p_type, ' '))) AS type_word
        FROM part) ORDER BY p_partkey, type_word"""),

    QuerySpec("r3_transpose_small", (s, dir) => {
      Reshape.transposeSmall(t(s, dir, "region"), "r_name", "r_regionkey")
    }, """
      SELECT MIN(r_regionkey) FILTER (WHERE r_name = 'AFRICA') AS "AFRICA",
             MIN(r_regionkey) FILTER (WHERE r_name = 'AMERICA') AS "AMERICA",
             MIN(r_regionkey) FILTER (WHERE r_name = 'ASIA') AS "ASIA",
             MIN(r_regionkey) FILTER (WHERE r_name = 'EUROPE') AS "EUROPE",
             MIN(r_regionkey) FILTER (WHERE r_name = 'MIDDLE EAST')
               AS "MIDDLE EAST"
      FROM region"""),

    QuerySpec("r4_column_reorder", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_name"), col("c_custkey"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_mktsegment, c_name, c_custkey FROM customer ORDER BY c_custkey"""),

    // ---- scalar functions (§2.9) ---------------------------------------
    QuerySpec("f1_md5_key", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), ColFns.md5Key(col("c_name")).as("name_md5"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, md5(c_name) AS name_md5 FROM customer
      ORDER BY c_custkey"""),

    QuerySpec("f2_regexp_extract", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "(\\d+)-(\\w+)", 1)
            .cast(IntegerType).as("prio_num"),
          regexp_extract(col("o_orderpriority"), "(\\d+)-(\\w+)", 2)
            .as("prio_word"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey,
             CAST(regexp_extract(o_orderpriority, '(\d+)-(\w+)', 1) AS INT)
               AS prio_num,
             regexp_extract(o_orderpriority, '(\d+)-(\w+)', 2) AS prio_word
      FROM orders ORDER BY o_orderkey"""),

    QuerySpec("f3_rel_date_zh", (s, dir) => {
      // Chinese relative-date resolution (reference convertDate UDF) —
      // relative strings synthesized deterministically from events
      val e = t(s, dir, "events")
      val n = (col("user_id") % 30 + 1).cast(StringType)
      val rel = when(col("event_type") === "click", concat(n, lit("分鐘前")))
        .when(col("event_type") === "signup", concat(n, lit("小時前")))
        .when(col("event_type") === "purchase", concat(n, lit("天前")))
        .when(col("event_type") === "view", concat(n, lit("週前")))
        .when(col("event_type") === "error", concat(n, lit("個月前")))
        .otherwise(lit("在線上"))
      e.withColumn("published_raw", rel)
        .withColumn("published_at", date_format(
          ColFns.convertRelDate(col("published_raw"), col("ts")), "yyyy-MM-dd"))
        .select(col("event_id"), col("published_raw"), col("published_at"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, published_raw,
        strftime(CAST(CASE
          WHEN published_raw LIKE '%分鐘前'
            THEN CAST(ts - to_minutes(n) AS DATE)
          WHEN published_raw LIKE '%小時前'
            THEN CAST(ts - to_hours(n) AS DATE)
          WHEN published_raw LIKE '%天前'
            THEN CAST(ts - to_days(n) AS DATE)
          WHEN published_raw LIKE '%週前'
            THEN CAST(ts - to_days(n * 7) AS DATE)
          WHEN published_raw LIKE '%個月前'
            THEN CAST(CAST(ts AS DATE) - to_months(n) AS DATE)
          WHEN published_raw LIKE '%年前'
            THEN CAST(CAST(ts AS DATE) - to_months(n * 12) AS DATE)
          ELSE NULL
        END AS DATE), '%Y-%m-%d') AS published_at
      FROM (
        SELECT event_id, ts,
               CAST(user_id % 30 + 1 AS INT) AS n,
               CASE event_type
                 WHEN 'click' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '分鐘前'
                 WHEN 'signup' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '小時前'
                 WHEN 'purchase' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '天前'
                 WHEN 'view' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '週前'
                 WHEN 'error' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '個月前'
                 ELSE '在線上'
               END AS published_raw
        FROM events)
      ORDER BY event_id"""),

    QuerySpec("f4_fb_date_zh", (s, dir) => {
      // fb pandas date-normalization variant (reference
      // fb_scraper/normalization.py:23-53): absolute "Y年M月D日",
      // month-day with 上午/下午 suffix, "N天", 分鐘/小時 → ref date,
      // 在線上 → null. Raw strings synthesized per event type.
      val e = t(s, dir, "events")
      val refD = col("ts").cast(DateType)
      val n = (col("user_id") % 30 + 1).cast(StringType)
      val d40 = date_sub(refD, 40); val d3 = date_sub(refD, 3)
      val raw = when(col("event_type") === "click", concat(n, lit("天")))
        .when(col("event_type") === "signup", concat(n, lit("分鐘")))
        .when(col("event_type") === "purchase",
          concat(year(d40).cast(StringType), lit("年"),
            month(d40).cast(StringType), lit("月"),
            dayofmonth(d40).cast(StringType), lit("日")))
        .when(col("event_type") === "view",
          concat(month(d3).cast(StringType), lit("月"),
            dayofmonth(d3).cast(StringType), lit("日下午3:15")))
        .otherwise(lit("在線上"))
      e.withColumn("raw", raw)
        .withColumn("created_at",
          date_format(ColFns.fbDate(col("raw"), col("ts")), "yyyy-MM-dd"))
        .select(col("event_id"), col("raw"), col("created_at"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, raw,
        strftime(CASE
          WHEN event_type = 'click' THEN ref - n
          WHEN event_type = 'signup' THEN ref
          WHEN event_type = 'purchase' THEN d40
          WHEN event_type = 'view'
            THEN make_date(year(ref), month(d3), day(d3))
          ELSE NULL END, '%Y-%m-%d') AS created_at
      FROM (
        SELECT event_id, event_type, ref, n, d40, d3,
               CASE event_type
                 WHEN 'click' THEN CAST(n AS VARCHAR) || '天'
                 WHEN 'signup' THEN CAST(n AS VARCHAR) || '分鐘'
                 WHEN 'purchase' THEN CAST(year(d40) AS VARCHAR) || '年' ||
                      CAST(month(d40) AS VARCHAR) || '月' ||
                      CAST(day(d40) AS VARCHAR) || '日'
                 WHEN 'view' THEN CAST(month(d3) AS VARCHAR) || '月' ||
                      CAST(day(d3) AS VARCHAR) || '日下午3:15'
                 ELSE '在線上'
               END AS raw
        FROM (
          SELECT event_id, event_type, CAST(ts AS DATE) AS ref,
                 CAST(user_id % 30 + 1 AS INT) AS n,
                 CAST(ts AS DATE) - 40 AS d40,
                 CAST(ts AS DATE) - 3 AS d3
          FROM events))
      ORDER BY event_id"""),

    QuerySpec("f5_parse_rating", (s, dir) => {
      // "4.0 分 (共 5 分)" parse (reference tripadvisor rating clean)
      val e = t(s, dir, "events")
      e.withColumn("rating_raw",
          format_string("%.1f 分 (共 5 分)", (col("user_id") % 50) / lit(10.0d)))
        .withColumn("rating", ColFns.parseRating(col("rating_raw")))
        .select(col("event_id"), col("rating_raw"), col("rating"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, rating_raw,
             TRY_CAST(string_split(rating_raw, ' ')[1] AS DOUBLE) AS rating
      FROM (
        SELECT event_id,
               printf('%.1f 分 (共 5 分)', (user_id % 50) / 10.0) AS rating_raw
        FROM events)
      ORDER BY event_id"""),

    QuerySpec("f7_roc_year", (s, dir) => {
      // "104(2015)" ROC year extraction (reference taipei visitors)
      t(s, dir, "orders")
        .withColumn("roc_raw", concat(
          (year(col("o_orderdate")) - 1911).cast(StringType),
          lit("("), year(col("o_orderdate")).cast(StringType), lit(")")))
        .withColumn("year", ColFns.rocYear(col("roc_raw")))
        .select(col("o_orderkey"), col("roc_raw"), col("year"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey, roc_raw,
             TRY_CAST(regexp_extract(roc_raw, '\((\d+)\)', 1) AS INT) AS year
      FROM (
        SELECT o_orderkey,
               CAST(year(o_orderdate) - 1911 AS VARCHAR) || '(' ||
               CAST(year(o_orderdate) AS VARCHAR) || ')' AS roc_raw
        FROM orders)
      ORDER BY o_orderkey"""),

    QuerySpec("f8_delim_normalize", (s, dir) => {
      // " • "-delimited multi-value normalize to comma string (reference
      // tripadvisor categories clean); bullet list synthesized from p_type
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_replace(regexp_replace(col("p_type"), " ", " • "),
            "\\s*•\\s*", ",").as("type_csv"))
        .orderBy(col("p_partkey"))
    }, """
      SELECT p_partkey,
             regexp_replace(regexp_replace(p_type, ' ', ' • ', 'g'),
               '\s*•\s*', ',', 'g') AS type_csv
      FROM part ORDER BY p_partkey"""),

    QuerySpec("f12_filename_parse", (s, dir) => {
      // filename → field parse via input_file_name (reference
      // fb_scraper/normalization.py:8-13: place+date from csv name).
      // Files land under r_name=<value>/ dirs; the glob defeats partition
      // discovery so the value genuinely comes from the path string.
      val out = tmpDir("f12_files")
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").partitionBy("r_name").json(out)
      s.read.schema(StructType(Seq(StructField("r_regionkey", LongType))))
        .json(s"$out/r_name=*")
        .withColumn("place",
          url_decode(regexp_extract(input_file_name(), "r_name=([^/]+)/", 1)))
        .select(col("place"), col("r_regionkey"))
        .orderBy(col("place"))
    }, """
      SELECT r_name AS place, r_regionkey FROM region ORDER BY place"""),

    QuerySpec("f9_date_parts", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          ColFns.quarterCase(month(col("o_orderdate"))).as("q_case"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(month(o_orderdate) AS INT) AS m,
             CAST(day(o_orderdate) AS INT) AS d,
             CAST(quarter(o_orderdate) AS INT) AS q,
             CAST(CASE WHEN month(o_orderdate) BETWEEN 1 AND 3 THEN 1
                  WHEN month(o_orderdate) BETWEEN 4 AND 6 THEN 2
                  WHEN month(o_orderdate) BETWEEN 7 AND 9 THEN 3
                  WHEN month(o_orderdate) BETWEEN 10 AND 12 THEN 4
             END AS INT) AS q_case
      FROM orders ORDER BY o_orderkey"""),

    QuerySpec("f13_split_ym", (s, dir) => {
      t(s, dir, "events")
        .withColumn("ym", date_format(col("ts"), "yyyy-MM"))
        .select(col("event_id"), col("ym"),
          split(col("ym"), "-").getItem(0).cast(IntegerType).as("y"),
          split(col("ym"), "-").getItem(1).cast(IntegerType).as("m"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, ym,
             CAST(string_split(ym, '-')[1] AS INT) AS y,
             CAST(string_split(ym, '-')[2] AS INT) AS m
      FROM (SELECT event_id, strftime(ts, '%Y-%m') AS ym FROM events)
      ORDER BY event_id"""),

    QuerySpec("fj_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events ORDER BY event_id"""),

    // ---- time buckets / sessionization ---------------------------------
    QuerySpec("t1_time_bucket", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("bucket"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("bucket"))
    }, """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY bucket"""),

    QuerySpec("t7_interval_merge", (s, dir) => {
      // gaps-and-islands: each event opens a 10-min presence interval;
      // overlapping intervals merge into islands (classic interval
      // union — one keyed window pass, no self-join). Reports per-user
      // island count and total covered seconds.
      val w = Window.partitionBy(col("user_id")).orderBy(col("st"))
      val iv = t(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("st"))
        .distinct()
        .withColumn("en", col("st") + 600)
      val isl = iv
        .withColumn("max_prev_en",
          max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("max_prev_en").isNull ||
            col("st") > col("max_prev_en"), 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      isl.groupBy(col("user_id"), col("island"))
        .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ien") - col("ist")).as("covered_s"))
        .orderBy(col("user_id"))
    }, """
      WITH iv AS (
        SELECT DISTINCT user_id,
               epoch_ns(ts) // 1000000000 AS st
        FROM events),
      iv2 AS (SELECT user_id, st, st + 600 AS en FROM iv),
      mk AS (
        SELECT user_id, st, en,
               MAX(en) OVER (PARTITION BY user_id ORDER BY st
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS max_prev_en
        FROM iv2),
      br AS (
        SELECT user_id, st, en,
               CASE WHEN max_prev_en IS NULL OR st > max_prev_en
                    THEN 1 ELSE 0 END AS brk
        FROM mk),
      isl AS (
        SELECT user_id, st, en,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY st
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM br),
      g AS (
        SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
        FROM isl GROUP BY user_id, island)
      SELECT user_id, COUNT(*) AS n_islands,
             CAST(SUM(ien - ist) AS BIGINT) AS covered_s
      FROM g GROUP BY user_id ORDER BY user_id"""),

    QuerySpec("t6_gap_detection", (s, dir) => {
      // downtime detection: consecutive-event gaps over 10 min per
      // stream (lag window — the monitoring dual of sessionization:
      // t2 groups activity, this reports the silences)
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"))
      t(s, dir, "events").select(col("event_type"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
        .filter(col("prev").isNotNull && col("gap_s") > 600)
        .select(col("event_type"),
          date_format(col("prev"), "yyyy-MM-dd HH:mm:ss").as("gap_start"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("gap_end"),
          col("gap_s"))
        .orderBy(col("event_type"), col("gap_start"))
    }, """
      WITH o AS (
        SELECT event_type, ts,
               lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev
        FROM events)
      SELECT event_type,
             strftime(prev, '%Y-%m-%d %H:%M:%S') AS gap_start,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
             CAST(epoch_ns(ts) // 1000000000
                  - epoch_ns(prev) // 1000000000 AS BIGINT) AS gap_s
      FROM o
      WHERE prev IS NOT NULL
        AND epoch_ns(ts) // 1000000000
            - epoch_ns(prev) // 1000000000 > 600
      ORDER BY event_type, gap_start"""),

    QuerySpec("f18_normalize_text", (s, dir) => {
      // the composed normalization ingest applies unconditionally:
      // lowercase → accent fold → whitespace collapse → trim
      // (idempotent, property-tested); here over synthesized messy
      // strings
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          concat(lit("  CAFÉ  "), col("n_name"), lit("   à  CÔTÉ "))
            .as("raw"))
        .withColumn("norm",
          graft.functions.ColFns.normalizeText(col("raw")))
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey,
             '  CAFÉ  ' || n_name || '   à  CÔTÉ ' AS raw,
             trim(regexp_replace(translate(
               lower('  CAFÉ  ' || n_name || '   à  CÔTÉ '),
               'àáâãäåÀÁÂÃÄÅçÇèéêëÈÉÊËìíîïÌÍÎÏñÑòóôõöÒÓÔÕÖùúûüÙÚÛÜýÿÝ',
               'aaaaaaAAAAAAcCeeeeEEEEiiiiIIIInNoooooOOOOOuuuuUUUUyyY'),
               '\s+', ' ', 'g')) AS norm
      FROM nation ORDER BY n_nationkey"""),

    QuerySpec("f17_accent_fold", (s, dir) => {
      // latin accent folding + control-strip ahead of dedup hashing
      // (café/cafe must collide) — explicit translate table, engine-
      // portable (ColFns.foldAccents)
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          concat(lit("Café "), col("n_name"),
            lit(" à l'Élysée û")).as("raw"))
        .withColumn("folded",
          graft.functions.ColFns.foldAccents(col("raw")))
        .orderBy(col("n_nationkey"))
    }, """
      SELECT n_nationkey,
             'Café ' || n_name || ' à l''Élysée û' AS raw,
             translate('Café ' || n_name || ' à l''Élysée û',
               'àáâãäåÀÁÂÃÄÅçÇèéêëÈÉÊËìíîïÌÍÎÏñÑòóôõöÒÓÔÕÖùúûüÙÚÛÜýÿÝ',
               'aaaaaaAAAAAAcCeeeeEEEEiiiiIIIInNoooooOOOOOuuuuUUUUyyY')
               AS folded
      FROM nation ORDER BY n_nationkey"""),

    QuerySpec("t4_dense_spine", (s, dir) => {
      // dense hourly spine with zero-fill: a sequence() spine per key
      // left-joined to observed buckets — the gap-fill every
      // time-series rollup needs (missing hours must EXIST with 0, not
      // be silently absent). Spine cardinality = key × hours, tiny next
      // to the fact side at any scale.
      val e = t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
      val counts = e.groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
      val spine = e.groupBy(col("event_type"))
        .agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
            .as("hour"))
      spine.join(counts, Seq("event_type", "hour"), "left")
        .select(col("event_type"),
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy(col("event_type"), col("bucket"))
    }, """
      WITH obs AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
      bounds AS (
        SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
        FROM obs GROUP BY 1),
      spine AS (
        SELECT event_type,
               UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                 CAST(hi AS TIMESTAMP), INTERVAL 1 HOUR)) AS hour
        FROM bounds)
      SELECT s.event_type, strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS bucket,
             CAST(COALESCE(o.n_events, 0) AS BIGINT) AS n_events
      FROM spine s LEFT JOIN obs o
        ON s.event_type = o.event_type AND s.hour = CAST(o.hour AS TIMESTAMP)
      ORDER BY s.event_type, bucket"""),

    QuerySpec("t5_ohlc_bars", (s, dir) => {
      // OHLC time bars: open/high/low/close + volume per (event_type,
      // hour) — min_by/max_by over a (ts, event_id) struct picks the
      // first/last observation without a second window pass; ties are
      // impossible (event_id unique). One hash aggregation, the shape a
      // 100 TB tick rollup wants (no sort, no window state).
      val e = t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
        .withColumn("ord", struct(col("ts"), col("event_id")))
      e.groupBy(col("event_type"),
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("bar"))
        .agg(min_by(col("value"), col("ord")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ord")).as("close"),
          count(lit(1)).as("n_ticks"),
          dsum(col("value")).as("volume"))
        .orderBy(col("event_type"), col("bar"))
    }, """
      WITH e AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar,
               value, ts, event_id,
               row_number() OVER (PARTITION BY event_type,
                 date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type,
                 date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC)
                 AS rn_d
        FROM events)
      SELECT event_type, bar,
             MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
             MAX(value) AS high, MIN(value) AS low,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
             COUNT(*) AS n_ticks,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
      FROM e GROUP BY event_type, bar ORDER BY event_type, bar"""),

    QuerySpec("t2_sessionize", (s, dir) => {
      // gap>30min session split per user: lag + cumulative flag sum
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .withColumn("prev_sec", lag(unix_timestamp(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_sec").isNull ||
            unix_timestamp(col("ts")) - col("prev_sec") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy(col("user_id"), col("session_id"))
    }, """
      SELECT user_id, session_id, COUNT(*) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      FROM (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_sec IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT) - prev_sec > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_sec
            FROM events)))
      GROUP BY user_id, session_id ORDER BY user_id, session_id"""),

    QuerySpec("t3_session_window", (s, dir) => {
      // Spark's native session_window (gap-merge sessionization) —
      // same 30-min-gap semantics as the lag+cumsum t2 formulation*,
      // renumbered to ordinal session ids by window start so the two
      // share an oracle. (*boundary note: session_window closes a
      // session at gap >= 30min vs t2's > 30min; the event stream has
      // sub-second timestamps, so exact-1800s gaps don't occur, and the
      // oracle compare would flag it if they ever did.)
      val e = t(s, dir, "events")
      val sessions = e
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("session_window.start"))
      sessions
        .withColumn("session_id", row_number().over(w).cast(LongType))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start"))
        .orderBy(col("user_id"), col("session_id"))
    }, """
      SELECT user_id, session_id, COUNT(*) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      FROM (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_sec IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT) - prev_sec > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_sec
            FROM events)))
      GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
  )
}
