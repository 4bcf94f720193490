package graft
package queries

import org.apache.spark.sql.functions._

/** Streaming (§2.11): each stream query shares its batch
  * formulation's oracle. */
private[graft] object StreamQueries {
  import QuerySupport._

  val specs: Seq[QuerySpec] = Seq(
    // ---- streaming (§2.11) ---------------------------------------------
    QuerySpec("st1_stream_hourly", (s, dir) => {
      graft.streaming.Streams.hourlyEventRollup(s, dir)
        .orderBy(col("bucket"), col("event_type"))
    }, """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"""),

    QuerySpec("st2_stream_sliding", (s, dir) => {
      graft.streaming.Streams.slidingEventCounts(s, dir)
        .orderBy(col("bucket"), col("event_type"))
    }, """
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
             COUNT(*) AS n_events
      FROM (
        SELECT date_trunc('hour', ts) - to_hours(h) AS ws, event_type
        FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS h))
      GROUP BY 1, 2 ORDER BY bucket, event_type"""),

    QuerySpec("st3_stream_dedup_users", (s, dir) => {
      graft.streaming.Streams.streamDistinctUsers(s, dir)
        .orderBy(col("user_id"))
    }, """
      SELECT DISTINCT user_id FROM events ORDER BY user_id"""),

    QuerySpec("st5_stream_static_join", (s, dir) => {
      graft.streaming.Streams.streamStaticEnrich(s, dir)
        .orderBy(col("day"), col("c_mktsegment"))
    }, """
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             c_mktsegment, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2 ORDER BY day, c_mktsegment"""),

    QuerySpec("st6_stream_upsert", (s, dir) => {
      graft.streaming.Streams.streamUpsertUsers(s, dir)
        .orderBy(col("user_id"))
    }, """
      SELECT DISTINCT user_id FROM events ORDER BY user_id"""),

    QuerySpec("st7_stream_stream_join", (s, dir) => {
      // stream ⋈ stream with event-time range (view→click conversion)
      graft.streaming.Streams.streamStreamJoin(s, dir)
        .orderBy(col("user_id"))
    }, """
      SELECT user_id, COUNT(*) AS n_view_click_pairs FROM (
        SELECT v.user_id
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOURS)
      GROUP BY user_id ORDER BY user_id"""),

    QuerySpec("st10_stream_left_join", (s, dir) => {
      // left-OUTER stream-stream join: unmatched views emit with null
      // click only after the watermark proves no future match can
      // arrive — the emission rule itself is the oracle spec
      graft.streaming.Streams.streamStreamLeftJoin(s, dir)
        .orderBy(col("user_id"))
    }, """
      WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, event_id AS click_id, ts AS cts
            FROM events WHERE event_type = 'click'),
      wm AS (SELECT least(
               (SELECT MAX(epoch_ns(vts) // 1000000) FROM v),
               (SELECT MAX(epoch_ns(cts) // 1000000) FROM c))
             - 3600000 AS w_ms),
      m AS (SELECT v.user_id, 1 AS pair, 0 AS unm
            FROM v JOIN c ON v.user_id = c.user_id
             AND c.cts >= v.vts
             AND c.cts <= v.vts + INTERVAL 24 HOURS),
      u AS (SELECT v.user_id, 0 AS pair, 1 AS unm
            FROM v, wm
            WHERE NOT EXISTS (
                    SELECT 1 FROM c WHERE c.user_id = v.user_id
                      AND c.cts >= v.vts
                      AND c.cts <= v.vts + INTERVAL 24 HOURS)
              AND epoch_ns(v.vts) // 1000000 + 86400000 < wm.w_ms)
      SELECT user_id, CAST(SUM(pair) AS BIGINT) AS n_pairs,
             CAST(SUM(unm) AS BIGINT) AS n_expired_unmatched
      FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
      GROUP BY user_id ORDER BY user_id"""),

    QuerySpec("st4_stream_sessionize", (s, dir) => {
      // custom keyed-state streaming operator (flatMapGroupsWithState);
      // same session semantics as batch t2 → same oracle
      graft.streaming.Streams.streamSessionize(s, dir)
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

    QuerySpec("st8_stream_late_drop", (s, dir) => {
      // watermark semantics made observable: 2 forced micro-batches,
      // batch 2 mostly late → dropped from closed windows; append mode
      // emits exactly the windows the final watermark closed. The
      // oracle is the same spec in plain SQL.
      graft.streaming.Streams.streamLateDataDrop(s, dir)
        .orderBy(col("bucket"), col("event_type"))
    }, """
      WITH wma AS (SELECT (epoch_ns(MAX(ts)) // 1000000) - 3600000 AS ms
                   FROM events WHERE event_id % 3 = 1),
      wmf AS (SELECT (epoch_ns(MAX(ts)) // 1000000) - 3600000 AS ms
              FROM events),
      uni AS (
        SELECT ts, event_type FROM events WHERE event_id % 3 <> 0
        UNION ALL
        SELECT e.ts, e.event_type FROM events e, wma
        WHERE e.event_id % 3 = 0
          AND (epoch_ns(date_trunc('hour', e.ts)) // 1000000) + 3600000
              > wma.ms)
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, COUNT(*) AS n_events
      FROM uni, wmf
      WHERE (epoch_ns(date_trunc('hour', ts)) // 1000000) + 3600000
            <= wmf.ms
      GROUP BY 1, 2 ORDER BY bucket, event_type"""),

    QuerySpec("st11_stream_incremental_rollup", (s, dir) => {
      // streaming m5: each micro-batch folds into a materialized
      // additive rollup (foreachBatch + upsertAggregate); final state
      // is batching-invariant, which is the oracle
      graft.streaming.Streams.streamIncrementalRollup(s, dir)
        .orderBy(col("event_type"))
    }, """
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type"""),

    QuerySpec("st12_stream_quality_monitor", (s, dir) => {
      // streaming x62: each micro-batch appends its integrityReport
      // counts to a ledger; additive counts make the summed ledger
      // equal the batch report however the stream was batched
      graft.streaming.Streams.streamQualityMonitor(s, dir)
        .orderBy(col("check_name"))
    }, """
      SELECT 'check_allowed_types' AS check_name, 'events' AS table_name,
             (SELECT COUNT(*) FROM events WHERE event_type NOT IN
              ('click', 'purchase', 'signup', 'view')) AS n_violations
      UNION ALL
      SELECT 'check_value_cap_100', 'events',
             (SELECT COUNT(*) FROM events
              WHERE NOT COALESCE(value <= 100.0, FALSE))
      UNION ALL
      SELECT 'notnull_props', 'events',
             (SELECT COUNT(*) FROM events WHERE props IS NULL)
      ORDER BY check_name"""),

    QuerySpec("st13_stream_sketch_rollup", (s, dir) => {
      // streaming m8: each micro-batch's HLL folds into the standing
      // sketch ledger via hll_union_agg — batching-invariant by sketch
      // algebra, gated on the exact distinct (5% contract)
      graft.streaming.Streams.streamSketchRollup(s, dir)
        .orderBy(col("event_type"))
    }, """
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_distinct,
             TRUE AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""),

    QuerySpec("st16_stream_topk", (s, dir) => {
      // w11's bounded-heap top-k folding into a parquet LEDGER of
      // ≤ k rows per group (st11/st15 foreachBatch-upsert discipline
      // — update-grain state, no complete-mode re-emission, no
      // driver-side buffer); top-k re-aggregation is associative so
      // the ledger is batching-invariant and shares w3/w11's oracle
      graft.streaming.Streams.streamTopK(s, dir)
        .orderBy(col("o_custkey"), col("rank"))
    }, """
      SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rank
        FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank"""),

    QuerySpec("st17_stream_freq_ledger", (s, dir) => {
      // streaming x89: micro-batch heavy-hitter sketches fold into the
      // per-source ledger; Misra-Gries bounds hold under ANY batching
      // and merge order, so the post-ledger contract is x89's
      graft.streaming.Streams.streamFreqLedger(s, dir)
        .orderBy(col("token"))
    }, """
      WITH tokens AS (
        SELECT UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      top AS (
        SELECT tok AS token, COUNT(*) AS exact_n
        FROM tokens GROUP BY tok
        ORDER BY exact_n DESC, token ASC LIMIT 5),
      s AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
      SELECT token, exact_n, n_sources, TRUE AS bounds_ok
      FROM top CROSS JOIN s ORDER BY token"""),

    QuerySpec("st15_stream_kll_ledger", (s, dir) => {
      // streaming m9: micro-batch KLL sketches fold into the per-day
      // quantile ledger; KLL merge associativity makes the state
      // batching-invariant, so the rank contract (and oracle) is m9's
      graft.streaming.Streams.streamKllLedger(s, dir)
        .orderBy(col("q"))
    }, """
      WITH d AS (SELECT COUNT(DISTINCT o_orderdate) AS n_slices
                 FROM orders)
      SELECT CAST(q AS DOUBLE) AS q, n_slices, TRUE AS rank_err_ok
      FROM (VALUES (0.5), (0.9), (0.99)) AS t(q) CROSS JOIN d
      ORDER BY q"""),

    QuerySpec("st14_stream_theta_novelty", (s, dir) => {
      // streaming x75: per-batch theta sketches fold into a standing
      // keyed ledger; the novelty curve is computed from ledger state
      // alone. Per-key sketch union is micro-batch-invariant, so this
      // shares x75's exact oracle (the st13↔m8 relationship, for set
      // algebra instead of distinct counts)
      graft.streaming.Streams.streamThetaNovelty(s, dir)
        .orderBy(col("batch"))
    }, """
      WITH tk AS (
        SELECT doc_id % 3 AS batch,
               string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents),
      grams AS (
        SELECT batch,
               CAST(('0x' || substring(md5(array_to_string(
                 t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
        FROM tk, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
      fs AS (SELECT g, MIN(batch) AS batch FROM grams GROUP BY g)
      SELECT batch, COUNT(*) AS n_novel, TRUE AS est_within_5pct
      FROM fs GROUP BY batch ORDER BY batch"""),

    QuerySpec("st9_stream_neardup_admit", (s, dir) => {
      // online near-dup admission: docs stream in, each admitted or
      // dropped against the simhash band cohorts of everything that
      // arrived before it (flatMapGroupsWithState keyed on the band
      // bucket). Single-batch AvailableNow = the batch "collides with
      // any smaller-id doc" spec, which is the oracle.
      graft.streaming.Streams.streamNearDupAdmit(s, dir)
        .orderBy(col("doc_id"))
    }, """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id)
      -- arrival order = doc_id order in the single-batch run, so the
      -- streaming admission must equal: dropped iff any smaller-id doc
      -- is within Hamming distance 3 (banding reaches exactly this set)
      SELECT f.id AS doc_id,
             CASE WHEN EXISTS (SELECT 1 FROM fp e WHERE e.id < f.id
                    AND bit_count(xor(e.simhash, f.simhash)) <= 3)
                  THEN 'near_dup' ELSE 'admitted' END AS status
      FROM fp f ORDER BY doc_id"""),
  )
}
