package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.ScratchRoot

/** Structured Streaming surface. The reference is all `@daily` batch
  * (SURVEY §2.11) — its incremental daily file drops map to file-source
  * streams with `Trigger.AvailableNow`; this module provides that shape
  * plus windowed/watermarked aggregation over the `events` table.
  *
  * Each step has one owner: [[run]] runs a stream to completion (with
  * [[runToMemory]] and [[runFold]] for the two sink kinds),
  * [[stageFiles]] + [[fileStream]] stage and read a source, and
  * [[guardedFold]] folds a micro-batch into a replay-guarded ledger.
  * Scratch paths come from [[graft.sources.ScratchRoot]]. */
object Streams {

  /** Memory-sink names must be unique per start (a repeated bench pass
    * in one session would otherwise collide on the temp view). */
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` with the shuffle-partition conf scoped down for a
    * stateful stream, restoring it afterwards. A streaming aggregation
    * materializes one state store (+ checkpoint dir, + task commit) per
    * shuffle partition per micro-batch — at batch-parity scale (one
    * AvailableNow micro-batch) 8 stores cover the keyspace; the
    * session-wide 32 just multiplies fixed state-store overhead. On a
    * real cluster this is the same knob, sized to executor count. */
  private def withStreamShuffle[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run `w` to completion: AvailableNow processes the backlog, then
    * stops (the batch-parity mode). Returns the finished query. */
  private def run(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** [[run]] `stream` into an in-memory sink named uniquely for this
    * start, and return the sink's rows. The sink's temp view is
    * dropped once resolved: the returned DataFrame holds the sink
    * itself, so no run's result stays registered in the session after
    * its caller lets go. `onDone` sees the finished query. */
  private def runToMemory(stream: DataFrame, mode: String,
                          queryName: String,
                          onDone: StreamingQuery => Unit = _ => ())
      : DataFrame = {
    val q = run(stream.writeStream.outputMode(mode).format("memory")
      .queryName(s"${queryName}_${runSeq.incrementAndGet()}"))
    onDone(q)
    val spark = stream.sparkSession
    val out = spark.table(q.name)
    spark.catalog.dropTempView(q.name)
    out
  }

  /** [[run]] `stream` in append mode through `fold` on every
    * micro-batch (foreachBatch), checkpointed at `checkpointDir` when
    * the caller must resume across runs. */
  private def runFold(stream: DataFrame,
                      checkpointDir: Option[String] = None)
                     (fold: (DataFrame, Long) => Unit): Unit = {
    val w = stream.writeStream.outputMode("append")
    run(checkpointDir.fold(w)(w.option("checkpointLocation", _))
      .foreachBatch(fold))
  }

  /** Stage a stream source as the parquet files of a fresh scratch
    * directory `name`, and return that directory: either a copy of
    * one parquet file (`Left`, a plain file copy, no Spark job) or
    * `src` split `splitFiles` ways as `part<i>.parquet` holding the
    * rows whose `split` is `i` (`Right`). The split writes overlap on
    * [[graft.Par]] (disjoint targets, guide §2.6), so they finish in
    * any order; `FileStreamSource` orders files by modification time,
    * so each part gets a strictly increasing time and micro-batch `i`
    * reads `part<i>` on every run. */
  private def stageFiles(name: String,
                         from: Either[String, (DataFrame, Column, Int)])
      : String = {
    val dir = ScratchRoot.tmpDir(name)
    from match {
      case Left(file) =>
        val f = java.nio.file.Paths.get(file)
        java.nio.file.Files.copy(f,
          java.nio.file.Paths.get(dir).resolve(f.getFileName))
      case Right((src, split, splitFiles)) =>
        val t0 = System.currentTimeMillis() - 1000L * splitFiles
        graft.Par.run((0 until splitFiles).map { i => () =>
          // a `_` directory is invisible to the stream's listing; its
          // one data file (task 0 writes one even when empty) moves up
          val tmp = new java.io.File(dir, s"_part$i")
          src.filter(split === i).coalesce(1).write.parquet(tmp.getPath)
          val data = tmp.listFiles().filter(_.getName.endsWith(".parquet"))
          val part = new java.io.File(dir, s"part$i.parquet")
          java.nio.file.Files.move(data.head.toPath, part.toPath)
          part.setLastModified(t0 + 1000L * i)
          org.apache.commons.io.FileUtils.deleteQuietly(tmp)
        })
    }
    dir
  }

  /** The parquet files in `dir` as a stream of one file per trigger
    * (N files ⇒ N micro-batches, the multi-batch proof the ledger
    * streams share). `schema` None reads it from the files (one Spark
    * job). */
  private def fileStream(spark: SparkSession, dir: String,
                         schema: Option[StructType] = None): DataFrame =
    spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(dir).schema))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Stream the events parquet as a file source and run an hourly
    * windowed count/sum into an in-memory sink, synchronously
    * (AvailableNow processes the backlog then stops — the batch-parity
    * mode). Returns the materialized result. */
  def hourlyEventRollup(spark: SparkSession, sfDir: String,
                        queryName: String = "graft_stream_out"): DataFrame = {
    val stream = eventStream(spark, sfDir, "st1_src", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
    withStreamShuffle(spark, 8)(
      runToMemory(stream, "complete", queryName))
  }

  /** Stage the events table and return a watermarked event-time stream
    * with `ts` as a proper timestamp. */
  private def eventStream(spark: SparkSession, sfDir: String,
                          stageName: String, watermark: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = fileStream(spark,
      stageFiles(stageName, Left(s"$sfDir/events.parquet")))
    staged.withColumn("ts", graft.Tables.normalizeTs(staged, "ts"))
      .withWatermark("ts", watermark)
  }

  /** Sliding-window aggregation (2 h window, 1 h slide): each event lands
    * in two overlapping windows. Batch-parity via AvailableNow + complete
    * mode into a memory sink. */
  def slidingEventCounts(spark: SparkSession, sfDir: String,
                         queryName: String = "graft_stream_sliding"): DataFrame = {
    val stream = eventStream(spark, sfDir, "st2_src", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n_events"))
    runToMemory(stream, "complete", queryName)
  }

  /** flatMapGroupsWithState input/output rows for [[streamSessionize]]. */
  final case class SessEvent(user_id: Long, event_id: Long, sec: Long)
  final case class SessionRow(user_id: Long, session_id: Long,
                              n_events: Long, start_sec: Long)

  /** Custom-state streaming sessionization: gap>30 min session split per
    * user via `flatMapGroupsWithState` (`KeyValueGroupedDataset` state
    * API — SURVEY §2.11's beyond-parity surface). Batch-parity mode:
    * AvailableNow delivers each user's whole history to one group call,
    * which sorts by (ts, event_id) and cuts sessions exactly like the
    * lag+cumsum batch formulation (t2), so the two share an oracle.
    *
    * Single-delivery is a CONTRACT, not an assumption: the state slot
    * records that a user's group fired, and a second invocation (multi-
    * batch delivery — e.g. someone setting maxFilesPerTrigger on a
    * multi-file stage) fails fast instead of silently restarting
    * session ids per batch. True incremental sessionization would hold
    * the open session in state and only emit closed ones — but Append
    * mode can never retract the already-emitted open session, so the
    * batch-parity contract is the honest shape for this oracle.
    *
    * The in-function sort holds one user's events in memory — the same
    * per-key bound every keyed-state operator carries; at 100 TB the
    * keyed shuffle spreads users across executors and hot users are the
    * thing to cap (event-count guard), not total volume. */
  def streamSessionize(spark: SparkSession, sfDir: String,
                       queryName: String = "graft_stream_sessions"): DataFrame = {
    import spark.implicits._
    val events = eventStream(spark, sfDir, "st4_src", "365 days")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"))
      .as[SessEvent]
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[Long]) =>
          if (state.exists) throw new IllegalStateException(
            s"streamSessionize: user $uid delivered across micro-batches; " +
              "batch-parity sessionization requires single delivery " +
              "(AvailableNow over one stage file)")
          state.update(1L)
          val sorted = it.toIndexedSeq.sortBy(e => (e.sec, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          var sessionId = 0L; var prevSec = Long.MinValue
          var n = 0L; var startSec = 0L
          def flush(): Unit = if (sessionId > 0)
            out += SessionRow(uid, sessionId, n, startSec)
          sorted.foreach { e =>
            if (prevSec == Long.MinValue || e.sec - prevSec > 1800) {
              flush(); sessionId += 1; n = 0L; startSec = e.sec
            }
            n += 1; prevSec = e.sec
          }
          flush()
          out.iterator
      }
    runToMemory(sessions.toDF(), "append", queryName)
      .select(col("user_id"), col("session_id"), col("n_events"),
        date_format(timestamp_seconds(col("start_sec")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"))
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (the reference's daily drops joining warehouse dims),
    * then a per-segment windowed rollup. The static side is re-planned
    * per micro-batch — broadcast each time (small dim), no stream-side
    * state beyond the window aggregation. */
  def streamStaticEnrich(spark: SparkSession, sfDir: String,
                         queryName: String = "graft_stream_enrich"): DataFrame = {
    val dim = graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val stream = eventStream(spark, sfDir, "st5_src", "1 hour")
      .join(dim, Seq("user_id"))        // stream ⋈ static
      .groupBy(window(col("ts"), "1 day"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("c_mktsegment"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
    runToMemory(stream, "complete", queryName)
  }

  /** foreachBatch incremental upsert: each micro-batch's new user ids
    * are merged into a parquet target with the anti-join INSERT-missing
    * rewrite ([[graft.operators.Mutations.insertMissing]]) — the
    * streaming version of the reference's daily-drop upsert DAGs. The
    * final target is the distinct user set regardless of how the stream
    * was batched, which is what the oracle checks. Crash-resume: the
    * merge is IDEMPOTENT (re-inserting present keys is a no-op), so a
    * replayed batch cannot corrupt the target — the non-idempotent
    * case (additive sums) carries the explicit `__last_batch` guard in
    * [[incrementalRollupPass]], proven by Round8Spec's kill/restart/
    * replay test. */
  def streamUpsertUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ScratchRoot.fresh("st6_target")
    // seed an empty target with the right schema
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType))))
      .write.mode("overwrite").parquet(path)
    runFold(eventStream(spark, sfDir, "st6_src", "365 days")
        .select(col("user_id"))) { (batch, _) =>
      val merged = graft.operators.Mutations.insertMissing(
        batch.sparkSession.read.parquet(path), batch.distinct(),
        Seq("user_id"))
      graft.operators.Mutations.overwriteAtomic(merged, path)
    }
    spark.read.parquet(path)
  }

  /** Stream-stream inner join: the view→click conversion join, both
    * sides streams (the shape a real-time attribution pipeline has).
    * Equality on user_id + an event-time range (click within 24 h of
    * the view); both sides watermarked so the join state is bounded —
    * Spark derives each side's state retention from the watermark and
    * the time-interval condition. Batch-parity via AvailableNow; the
    * joined pairs land in the sink and the per-user rollup happens on
    * the materialized result (keeps the stream single-stateful-op). */
  def streamStreamJoin(spark: SparkSession, sfDir: String,
                       queryName: String = "graft_stream_ssj"): DataFrame = {
    val views = eventStream(spark, sfDir, "st7_views", "30 days")
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val clicks = eventStream(spark, sfDir, "st7_clicks", "30 days")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val joined = views.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"))
      .select(col("user_id"), col("view_id"), col("click_id"))
    withStreamShuffle(spark, 8)(
      runToMemory(joined, "append", queryName))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_view_click_pairs"))
  }

  /** Watermark late-data semantics, observable: the stream arrives in
    * THREE forced micro-batches (staged files, `maxFilesPerTrigger=1`,
    * modification times ordering them). Spark filters late events with
    * the watermark the PREVIOUS batch planned with and evicts state
    * with the current one (SPARK-40925's two-watermark model), so a
    * two-batch stage never drops anything — the third batch is the
    * first one whose late filter sees a real watermark:
    *
    *  - batch A (ids ≡ 1 mod 3, full time range): plans with wm=0;
    *    advances the watermark to `max(ts_A) − 1 h` =: wmA.
    *  - batch M (ids ≡ 2 mod 3): late filter still uses 0 → all kept;
    *    eviction emits windows closed at wmA with A+M counts.
    *  - batch B (ids ≡ 0 mod 3): late filter uses wmA → every B row
    *    whose window closed before wmA is DROPPED; eviction (and the
    *    final no-data batch) emits the remaining windows.
    *
    * Emitted result ≡ SQL spec (the st8 oracle): A ∪ M ∪ (B rows whose
    * window end > wmA), over windows with end ≤ final watermark —
    * compared at Spark's millisecond watermark precision. */
  def streamLateDataDrop(spark: SparkSession, sfDir: String,
                         queryName: String = "graft_stream_late"): DataFrame = {
    val events = graft.Tables.load(spark, sfDir, "events") // ts → micros
      .select(col("ts"), col("event_id"), col("event_type"))
    // part0 = A (ids ≡ 1), part1 = M (≡ 2), part2 = B (≡ 0)
    val stream = fileStream(spark, stageFiles("st8_src",
        Right((events, pmod(col("event_id") - 1, lit(3)), 3))))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n_events"))
    withStreamShuffle(spark, 8)(
      runToMemory(stream, "append", queryName, _.recentProgress.foreach(p =>
        System.err.println(s"[st8] batch=${p.batchId} in=${p.numInputRows} " +
          s"wm=${p.eventTime.get("watermark")}"))))
  }

  /** Streaming stateful dedup: first event per user within the watermark
    * horizon (`dropDuplicates` keyed state). Output is projected to the
    * key alone so the result set is order-independent. */
  def streamDistinctUsers(spark: SparkSession, sfDir: String,
                          queryName: String = "graft_stream_users"): DataFrame = {
    val stream = eventStream(spark, sfDir, "st3_src", "365 days")
      .dropDuplicates("user_id")
      .select(col("user_id"))
    runToMemory(stream, "append", queryName)
  }

  /** Left-OUTER stream-stream join: st7's view→click attribution with
    * the unmatched views kept — Spark emits a null-joined left row
    * only once the watermark proves no future click can match it
    * (view_ts + 24 h < global watermark); left rows younger than that
    * are still open state when an AvailableNow run stops, so they are
    * in the checkpoint, not the sink. The oracle encodes exactly that
    * spec: matched pairs ∪ unmatched views older than
    * min(max(view_ts), max(click_ts)) − 1 h − 24 h, at Spark's
    * millisecond watermark precision (the st8 discipline). Both
    * sides' state stays bounded by the watermark + interval, same as
    * the inner form. */
  def streamStreamLeftJoin(spark: SparkSession, sfDir: String,
                           queryName: String = "graft_stream_sslj"): DataFrame = {
    val views = eventStream(spark, sfDir, "st10_views", "1 hour")
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val clicks = eventStream(spark, sfDir, "st10_clicks", "1 hour")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val joined = views.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 24 HOURS"),
      "left_outer")
      .select(col("user_id"), col("view_id"), col("click_id"))
    withStreamShuffle(spark, 8)(
      runToMemory(joined, "append", queryName))
      .groupBy(col("user_id"))
      .agg(count(col("click_id")).as("n_pairs"),
        sum(when(col("click_id").isNull, 1L).otherwise(0L))
          .as("n_expired_unmatched"))
  }

  /** foreachBatch incremental AGGREGATE maintenance: each micro-batch
    * pre-aggregates to rollup grain and folds into a materialized
    * additive rollup via [[graft.operators.Mutations.upsertAggregate]]
    * — the streaming form of m5, and the standing-dashboard shape (the
    * rollup is always query-ready; history is never rescanned). The
    * final table equals the batch aggregate regardless of how the
    * stream was batched, which is what the oracle checks (the st6
    * batching-invariance discipline). */
  def streamIncrementalRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val target = ScratchRoot.fresh("st11_target")
    incrementalRollupPass(spark,
      stageFiles("st11_src", Left(s"$sfDir/events.parquet")),
      target, ScratchRoot.fresh("st11_ckpt"))
    spark.read.parquet(target)
      .select(col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
  }

  /** One RESTARTABLE AvailableNow pass of the st11 additive rollup:
    * folds whatever event files are currently under `stageDir` into
    * the ledger at `ledgerPath`, with an EXPLICIT checkpoint so a
    * stopped or killed query RESUMES from the last committed offset on
    * the next call instead of reprocessing history — the crash-resume
    * shape of a production ingest loop (new files land, the same
    * query restarts, only the new files fold in).
    *
    * Exactly-once THROUGH the ledger, not just at-least-once:
    * foreachBatch alone replays a batch when the process dies between
    * the ledger swap and the checkpoint commit. Every ledger row
    * therefore carries the id of the last applied micro-batch
    * (`__last_batch`), committed in the SAME atomic swap as the data;
    * an arriving batch with `batchId <= max(__last_batch)` is a replay
    * and is skipped (the Structured Streaming docs' "use batchId to
    * deduplicate" discipline, made concrete). Round8Spec proves both
    * properties: restart-equals-uninterrupted, and a forced full
    * replay (same ledger, fresh checkpoint) changing nothing. */
  def incrementalRollupPass(spark: SparkSession, stageDir: String,
                            ledgerPath: String, checkpointDir: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val lp = new org.apache.hadoop.fs.Path(ledgerPath)
    if (!lp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lp))
      graft.operators.Mutations.seedEmptyLedger(spark, ledgerPath,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_value",
            org.apache.spark.sql.types.DecimalType(18, 2)),
          org.apache.spark.sql.types.StructField("__last_batch",
            org.apache.spark.sql.types.LongType))))
    // file-grain batches, resumable from the explicit checkpoint
    runFold(fileStream(spark, stageDir)
        .select(col("event_type"), col("value")),
        Some(checkpointDir)) { (batch, batchId) =>
      guardedFold(batch, batchId, ledgerPath, "incrementalRollupPass") {
        ledger =>
          graft.operators.Mutations.upsertAggregate(ledger,
            batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("n_events"),
                sum(col("value").cast("decimal(18,2)")).as("sum_value")),
            Seq("event_type"), Seq("n_events", "sum_value"))
      }
    }
  }

  /** A ledger's recipe stamp: column `col` holds the `param` value the
    * ledger was built at. State folded under another value does not
    * merge with it (`why` says how); `show` renders a value for the
    * error text. */
  private final case class Recipe(col: String, param: String,
                                  value: Any, why: String,
                                  show: Any => String = _.toString)

  /** The one replay-guarded ledger fold (exactly-once THROUGH the
    * ledger). Reads the ledger at `path` and, with one `head()`, its
    * `max(__last_batch)` and recipe stamp. A missing stamp column (a
    * pre-stamp ledger) or a different stamp fails fast with the
    * rebuild message — BEFORE the idempotence gate, since even a
    * replayed batch id signals a caller whose next batch would merge
    * under the wrong recipe. A batch with `batchId ≤ max(__last_batch)`
    * is an at-least-once replay and is skipped (the Structured
    * Streaming docs' "use batchId to deduplicate" discipline);
    * otherwise `merge` gets the ledger without its bookkeeping columns
    * and the result is committed with `__last_batch` and the stamp in
    * ONE atomic swap. */
  private def guardedFold(batch: DataFrame, batchId: Long, path: String,
                          fold: String, recipe: Option[Recipe] = None)
                         (merge: DataFrame => DataFrame): Unit = {
    val ledger = batch.sparkSession.read.parquet(path)
    recipe.foreach(r => require(ledger.columns.contains(r.col),
      s"$fold: ledger at $path carries no ${r.col} recipe stamp " +
        s"(pre-stamp ledger) — ${r.why}; rebuild the ledger"))
    val head = ledger.agg(coalesce(max(col("__last_batch")), lit(-1L)),
      recipe.map(r => max(col(r.col))).toSeq: _*).head()
    recipe.foreach(r => require(head.isNullAt(1) || head.get(1) == r.value,
      s"$fold: ledger at $path was built at ${r.param}=" +
        s"${r.show(head.get(1))} but this fold was called with " +
        s"${r.param}=${r.show(r.value)} — ${r.why}; rebuild the ledger"))
    if (batchId > head.getLong(0)) { // else: replayed batch, already folded
      val merged =
        merge(ledger.drop("__last_batch" +: recipe.map(_.col).toSeq: _*))
          .withColumn("__last_batch", lit(batchId))
      graft.operators.Mutations.overwriteAtomic(
        recipe.fold(merged)(r => merged.withColumn(r.col, lit(r.value))),
        path)
    }
  }

  /** Streaming data-quality monitor: every micro-batch runs the same
    * [[graft.operators.Quality.integrityReport]] check set a batch
    * build would run post-hoc, and appends the per-batch violation
    * counts to a ledger — the standing DQ dashboard that catches a
    * poisoned upstream drop WITHIN the batch that delivered it instead
    * of at the next nightly audit. Violation counts are additive, so
    * the summed ledger equals the batch report over the full table
    * regardless of how the stream was batched (the st6/st11
    * batching-invariance discipline — exactly what the oracle checks).
    * Scale shape: per batch this is the x62 plan (parallel
    * filter-aggregate subtrees); the ledger append is a few rows. */
  def streamQualityMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Quality
    val path = ScratchRoot.tmpDir("st12_target")
    val allowed = Seq("click", "purchase", "signup", "view")
    runFold(eventStream(spark, sfDir, "st12_src", "365 days")
        .select(col("event_type"), col("value"), col("props"))) {
      (batch, batchId) =>
        Quality.integrityReport(Seq(
          ("check_value_cap_100", "events",
            batch.filter(!coalesce(col("value") <= 100.0d, lit(false)))),
          ("check_allowed_types", "events",
            batch.filter(!col("event_type").isin(allowed.map(x => x: Any): _*))),
          ("notnull_props", "events",
            batch.filter(col("props").isNull))))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(path)
    }
    spark.read.parquet(path)
      .groupBy(col("check_name"), col("table_name"))
      .agg(sum(col("n_violations")).as("n_violations"))
  }

  /** Streaming mergeable-sketch maintenance — the distinct-count dual
    * of [[streamIncrementalRollup]] (additive sums merge; distinct
    * counts DON'T, so the materialized state is a DataSketches HLL
    * sketch per key, not a number): each micro-batch sketches its own
    * rows (`hll_sketch_agg`) and folds into the standing ledger with
    * `hll_union_agg` — history is never rescanned. The sketch's
    * REGISTER STATE is batching-invariant (union is associative and
    * commutative); the ESTIMATE read off it is only coupon-mode-exact
    * at low cardinality — after a union DataSketches switches from the
    * HIP to the composite estimator, so at high cardinality the ledger
    * and a one-shot sketch can differ by a few counts. Hence the
    * contract is the a4-style 5% tolerance flag against the exact
    * distinct, not estimate equality.
    *
    * Ledger durability: each batch swaps the ledger via
    * [[graft.operators.Mutations.overwriteAtomic]] (backup-rename
    * swap — a crash mid-swap leaves the ledger intact under the
    * `__bak` path, never lost). Single-writer per ledger path is
    * assumed, which foreachBatch guarantees within one query; a real
    * multi-writer deployment needs a table format's commit protocol.
    * Crash-resume: HLL union is IDEMPOTENT on register state
    * (re-unioning the same users changes nothing), so a replayed batch
    * cannot corrupt the ledger; the non-idempotent additive case is
    * where [[incrementalRollupPass]]'s `__last_batch` guard applies. */
  def streamSketchRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ScratchRoot.fresh("st13_target")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("sk",
          org.apache.spark.sql.types.BinaryType))))
    runFold(eventStream(spark, sfDir, "st13_src", "365 days")
        .select(col("event_type"), col("user_id"))) { (batch, _) =>
      val delta = batch.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val merged = batch.sparkSession.read.parquet(path)
        .unionByName(delta)
        .groupBy(col("event_type"))
        .agg(expr("hll_union_agg(sk)").as("sk"))
      graft.operators.Mutations.overwriteAtomic(merged, path)
    }
    val est = spark.read.parquet(path)
      .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("est"))
    graft.Tables.load(spark, sfDir, "events") // schema-normalizing read
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .join(est, Seq("event_type"))
      .select(col("event_type"), col("exact_distinct"),
        graft.operators.Mutations.toleranceFlag(
          col("exact_distinct"), col("est"), 0.05).as("est_within_5pct"))
  }

  /** Streaming x75: per-ingest-batch theta sketches maintained as a
    * parquet ledger keyed by batch id (st13's shape with theta state),
    * novelty curve computed FROM the ledger afterwards. The ledger
    * merge is per-key sketch union, so the result is micro-batch-
    * boundary-invariant by sketch algebra — however the file source
    * slices the stream, the final ledger equals x75's batch sketches,
    * which is what lets this query share x75's exact oracle. A
    * production deployment keeps exactly this ledger standing and
    * answers "how much new content did snapshot N add" without ever
    * rescanning history. */
  def streamThetaNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.SketchFns
    val path = ScratchRoot.fresh("st14_target")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sk",
          org.apache.spark.sql.types.BinaryType))))
    val toks = split(trim(regexp_replace(lower(col("text")),
      "\\s+", " ")), " ")
    runFold(fileStream(spark,
        stageFiles("st14_src", Left(s"$sfDir/documents.parquet")))
      .select((col("doc_id") % 3).as("batch"), toks.as("__t"))
      .filter(size(col("__t")) >= 5)
      .select(col("batch"),
        explode(transform(sequence(lit(1), size(col("__t")) - 4),
          i => graft.functions.ColFns.portableHash60(
            concat_ws(" ", slice(col("__t"), i, lit(5)))))).as("g"))) {
      (batch, _) =>
        val delta = batch.groupBy(col("batch"))
          .agg(SketchFns.thetaAgg(col("g"), 14).as("sk"))
        val merged = batch.sparkSession.read.parquet(path)
          .unionByName(delta)
          .groupBy(col("batch"))
          .agg(SketchFns.thetaUnionAgg(col("sk"), 14).as("sk"))
        graft.operators.Mutations.overwriteAtomic(merged, path)
    }
    // novelty from the LEDGER alone (x75's prior-union + a-not-b)
    val sk = spark.read.parquet(path)
    val prior = sk.as("b").join(sk.as("p"), col("p.batch") < col("b.batch"))
      .groupBy(col("b.batch").as("batch"))
      .agg(SketchFns.thetaUnionAgg(col("p.sk"), 14).as("prior_sk"))
    val est = sk.join(prior, Seq("batch"), "left")
      .select(col("batch"),
        when(col("prior_sk").isNull, SketchFns.thetaEstimate(col("sk")))
          .otherwise(SketchFns.thetaAnotBEstimate(col("sk"),
            col("prior_sk"))).as("est"))
    val grams = graft.Tables.load(spark, sfDir, "documents")
      .select((col("doc_id") % 3).as("batch"), toks.as("__t"))
      .filter(size(col("__t")) >= 5)
      .select(col("batch"),
        explode(transform(sequence(lit(1), size(col("__t")) - 4),
          i => graft.functions.ColFns.portableHash60(
            concat_ws(" ", slice(col("__t"), i, lit(5)))))).as("g"))
    val exact = grams.groupBy(col("g")).agg(min(col("batch")).as("batch"))
      .groupBy(col("batch")).agg(count(lit(1)).as("n_novel"))
    est.join(exact, Seq("batch"))
      .select(col("batch"), col("n_novel"),
        graft.operators.Mutations.toleranceFlag(col("n_novel"),
          col("est"), 0.05).as("est_within_5pct"))
  }

  /** Stage `<sfDir>/<table>.parquet` under scratch `stageName` as one
    * file (`splitFiles` ≤ 1) or that many modulo-of-`keyCol` split
    * files, and return the file stream reading it one file per
    * trigger — the multi-micro-batch proof pattern the ledger streams
    * (st15…st22) share: N files ⇒ N micro-batches, so a spec can
    * assert ledger state is batching-invariant. */
  private def stagedFileStream(spark: SparkSession, sfDir: String,
                               table: String, keyCol: String,
                               stageName: String,
                               splitFiles: Int): DataFrame = {
    val file = s"$sfDir/$table.parquet"
    fileStream(spark, stageFiles(stageName,
      if (splitFiles <= 1) Left(file)
      else Right((spark.read.parquet(file), col(keyCol) % splitFiles,
        splitFiles))))
  }

  /** Streaming m9: per-micro-batch KLL sketches of order totalprice
    * fold into a per-day parquet ledger (st13's shape with quantile
    * state). KLL merge is associative with proven rank-error bounds,
    * so the final ledger state is micro-batch-boundary-invariant and
    * the post-ledger rank contract is m9's — any date-range quantile
    * query then reads ledger rows, never history.
    *
    * Replay caveat (honest limit): foreachBatch is at-least-once
    * under restart, and merging the same delta sketch twice doubles
    * its stream weight (quantiles degrade gracefully — duplicated
    * mass is uniform — but the weight is wrong). A production
    * restartable deployment keys the upsert by batchId — the pattern
    * st17 now implements concretely ([[freqLedgerFold]]'s
    * `__last_batch` guard, replay-proven by Round12Spec) and st11
    * pioneered; the AvailableNow single-run form here never
    * replays. */
  def streamKllLedger(spark: SparkSession, sfDir: String,
                      splitFiles: Int = 1): DataFrame = {
    import graft.functions.SketchFns
    val path = ScratchRoot.fresh("st15_target")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("d",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("sk",
          org.apache.spark.sql.types.BinaryType))))
    // splitFiles > 1: the spec's multi-micro-batch proof that ledger
    // state is batching-invariant (KLL merge associativity), not an
    // artifact of single-batch AvailableNow delivery
    runFold(stagedFileStream(spark, sfDir, "orders", "o_orderkey",
        "st15_src", splitFiles)
      .select(col("o_orderdate").cast("date").as("d"),
        col("o_totalprice").cast("double").as("v"))) { (batch, _) =>
      val delta = batch.groupBy(col("d"))
        .agg(SketchFns.kllAgg(col("v"), 400).as("sk"))
      val merged = batch.sparkSession.read.parquet(path)
        .unionByName(delta)
        .groupBy(col("d"))
        .agg(SketchFns.kllMergeAgg(col("sk"), 400).as("sk"))
      graft.operators.Mutations.overwriteAtomic(merged, path)
    }
    // m9's rank contract, answered FROM the ledger
    val merged = spark.read.parquet(path).agg(
      SketchFns.kllMergeAgg(col("sk"), 400).as("sk"),
      count(lit(1)).as("n_slices"))
    val est = merged.select(col("n_slices"),
      explode(array(Seq(0.5d, 0.9d, 0.99d).map(p =>
        struct(lit(p).as("q"),
          SketchFns.kllQuantile(col("sk"), lit(p)).as("est_v"))): _*))
        .as("r"))
      .select(col("n_slices"), col("r.q").as("q"), col("r.est_v"))
    graft.Tables.load(spark, sfDir, "orders")
      .select(col("o_totalprice").cast("double").as("v"))
      .crossJoin(broadcast(est))
      .groupBy(col("q"), col("n_slices"))
      .agg((sum(when(col("v") <= col("est_v"), 1L).otherwise(0L))
        .cast("double") / count(lit(1))).as("rank"))
      .select(col("q"), col("n_slices"),
        (abs(col("rank") - col("q")) <= lit(0.02d)).as("rank_err_ok"))
  }

  /** Streaming grouped top-k as a LEDGER (st11/st15 discipline,
    * replacing the round-4 complete-mode memory sink that re-emitted
    * every group each micro-batch and buffered the whole result on
    * the driver): each micro-batch folds into a parquet ledger of
    * ≤ k ROWS PER GROUP via foreachBatch — the upsert re-aggregates
    * ledger ∪ delta through the same bounded-heap TopKAgg, which is
    * associative (top-k(top-k(L) ∪ B) = top-k(L ∪ B)), so ledger
    * state is micro-batch-boundary-invariant. Update-grain state, no
    * driver-side result buffer; the final answer is a scan of
    * |groups|·k ledger rows. Inside every micro-batch the partial
    * aggregation still moves k-bounded heap state through the
    * exchange via TopKAgg's spill serializer. `splitFiles` stages the
    * source as N files fed one per trigger — the multi-micro-batch
    * proof (st15's pattern). Shares w3/w11's oracle.
    *
    * Replay semantics: foreachBatch is AT-LEAST-ONCE under restart;
    * this ledger is replay-IDEMPOTENT by algebra — top-k(L ∪ B ∪ B) =
    * top-k(L ∪ B) — so redelivery of a batch cannot corrupt state
    * (contrast st15/st17, whose sketch merges double-count on replay
    * and need st11's batchId-keyed upsert for production restart). */
  def streamTopK(spark: SparkSession, sfDir: String,
                 splitFiles: Int = 1): DataFrame = {
    import graft.functions.TopKAgg
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val heapStruct = struct(col("o_totalprice"),
      (-col("o_orderkey")).as("neg_key"), col("o_orderkey"))
    val ledgerCols = Seq(col("o_custkey"), col("o_totalprice"),
      col("o_orderkey"))
    val path = ScratchRoot.fresh("st16_target")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select(ledgerCols: _*).schema)
    runFold(stagedFileStream(spark, sfDir, "orders", "o_orderkey",
        "st16_src", splitFiles)) { (batch, _) =>
      val merged = batch.sparkSession.read.parquet(path)
        .unionByName(batch.select(ledgerCols: _*))
        .groupBy(col("o_custkey"))
        .agg(TopKAgg.topK(heapStruct, 3).as("top"))
        .select(col("o_custkey"), explode(col("top")).as("e"))
        .select(col("o_custkey"), col("e.o_totalprice"),
          col("e.o_orderkey"))
      graft.operators.Mutations.overwriteAtomic(merged, path)
    }
    // ranks FROM the ledger alone (≤ k rows per group; the re-agg just
    // orders each group's k survivors)
    spark.read.parquet(path)
      .groupBy(col("o_custkey"))
      .agg(TopKAgg.topK(heapStruct, 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "r")))
      .select(col("o_custkey"), (col("i") + 1).cast("int").as("rank"),
        col("r.o_orderkey").as("o_orderkey"),
        col("r.o_totalprice").as("o_totalprice"))
  }

  /** Streaming x89: per-micro-batch frequent-items token sketches fold
    * into a per-source parquet ledger (st13/st15 discipline for the
    * heavy-hitter tier). The upsert merges delta sketches into ledger
    * sketches with the sketch's own merge; the Misra-Gries
    * lb ≤ true ≤ ub guarantee holds for ANY stream split and merge
    * order, so ledger state is contract-stable under batching even
    * where raw estimates are not — which is exactly why the final
    * answer (x89's shape) gates on bounds, not estimates. `splitFiles`
    * stages the source as N files fed one per trigger (st15's
    * multi-micro-batch proof pattern).
    *
    * Replay semantics: foreachBatch is at-least-once under restart,
    * and merging the SAME delta sketch twice double-counts its stream
    * weight — enough to push the sketch's lower bound above the true
    * single-delivery count and fail the bounds contract. This ledger
    * therefore folds through [[freqLedgerFold]], the batchId-KEYED
    * idempotent upsert (st11's discipline applied to sketch state):
    * every ledger row carries `__last_batch` committed in the same
    * atomic swap as the sketches, and a redelivered batch is detected
    * and SKIPPED instead of merged again. Round12Spec redelivers a
    * micro-batch through the fold and proves ledger bytes and
    * contract flags unchanged. st15 still documents the unguarded
    * form's caveat; st16's top-k ledger never needed the guard — its
    * merge is idempotent by algebra. */
  /** st17's ledger schema: per-source sketch + the id of the last
    * applied micro-batch, committed in the SAME atomic swap. `__cap`
    * is the recipe stamp (the dsir `__nb` / boilerplate `__sep`
    * discipline on the sketch tier): the sketch's error bound is a
    * function of its capacity, so a fold called at a different
    * maxMapSize would merge-and-truncate state whose published
    * bounds no longer hold — it fails fast instead. */
  val freqLedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("sk",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("__last_batch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__cap",
        org.apache.spark.sql.types.LongType)))

  /** One batchId-keyed idempotent fold ([[guardedFold]]) of a
    * (source, tok) micro-batch into the frequent-items ledger at
    * `path`. Sketch state, unlike st16's top-k, is not
    * replay-idempotent by algebra: merging the same delta twice
    * double-counts its stream weight, enough to push the sketch's
    * lower bound above the true single-delivery count and fail the
    * bounds contract. Named — rather than an inline foreachBatch
    * closure — so Round12Spec can redeliver a batch directly and
    * assert ledger bytes and contract flags unchanged. */
  def freqLedgerFold(batch: DataFrame, batchId: Long, path: String,
                     maxMapSize: Int = 1024): Unit = {
    import graft.functions.FreqFns
    guardedFold(batch, batchId, path, "freqLedgerFold",
      Some(Recipe("__cap", "maxMapSize", maxMapSize.toLong,
        "sketch bounds are only meaningful within one capacity"))) {
      ledger =>
        ledger.unionByName(batch.groupBy(col("source"))
            .agg(FreqFns.freqAgg(col("tok"), maxMapSize).as("sk")))
          .groupBy(col("source"))
          .agg(FreqFns.freqMergeAgg(col("sk"), maxMapSize).as("sk"))
    }
  }

  def streamFreqLedger(spark: SparkSession, sfDir: String,
                       splitFiles: Int = 1): DataFrame = {
    import graft.functions.FreqFns
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val toks = split(trim(regexp_replace(lower(col("text")),
      "\\s+", " ")), " ")
    val path = ScratchRoot.fresh("st17_target")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      freqLedgerSchema)
    runFold(stagedFileStream(spark, sfDir, "documents", "doc_id",
        "st17_src", splitFiles)
      .select(col("source"), explode(toks).as("tok"))
      .filter(length(col("tok")) > 0))(freqLedgerFold(_, _, path))
    // x89's contract, answered FROM the ledger — the SAME
    // TextOps.freqBoundsContract tail as the batch twin, so tokenizer,
    // tie-break, and flag definition can never silently diverge.
    // n_sources via countDistinct over docs (x89's oracle alignment
    // note: ledger-row counting diverges on token-less sources).
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val nSrc = docs.agg(countDistinct(col("source")).as("n_sources"))
    // merge at the ledger's OWN stamped capacity — a consumer that
    // hardcoded its own would be the parallel-definition divergence
    // the __cap stamp exists to kill (1-row scalar read, the
    // advisor-decision idiom)
    val folded = spark.read.parquet(path)
    // the consumer-side twin of freqLedgerFold's recipe gates (ADVICE
    // r9): a pre-stamp ledger fails with the rebuild message, and a
    // seeded-but-never-folded ledger fails with the explicit
    // capacity-stamp message instead of an NPE off getLong on null
    require(folded.columns.contains("__cap"),
      s"streamFreqLedger: ledger at $path carries no __cap capacity " +
        "stamp (pre-stamp ledger) — rebuild the ledger")
    val capRow = folded.agg(max(col("__cap"))).head()
    require(!capRow.isNullAt(0),
      s"streamFreqLedger: ledger at $path is seeded but has never " +
        "been folded — no capacity stamp to merge at; fold at least " +
        "one batch first")
    val cap = capRow.getLong(0).toInt
    val merged = folded
      .agg(FreqFns.freqMergeAgg(col("sk"), cap).as("sk"))
      .crossJoin(broadcast(nSrc)) // 1-row scalar idiom
    graft.operators.TextOps.freqBoundsContract(docs, merged)
  }

  /** st18's ledger schema: DSIR bucket counts + the last applied
    * micro-batch id + the feature-recipe width `__nb`, committed in
    * the same atomic swap. `__nb` is the recipe stamp: hashed-ngram
    * bucket counts are only additive WITHIN one bucket space, so a
    * fold called at a different nBuckets would silently merge
    * incompatible count tables — the st19/st23 version-contract class
    * on the DSIR tier (the fold fails fast instead; spec-pinned). */
  val dsirLedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ct",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__last_batch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__nb",
        org.apache.spark.sql.types.LongType)))

  /** One batchId-keyed idempotent fold of a raw documents micro-batch
    * into the DSIR bucket-count ledger — st17's guard discipline over
    * st11's additive upsert. The DSIR model's sufficient statistic is
    * additive counts, so the ledger model after any batching equals
    * the batch-trained model (what the st18 oracle checks by sharing
    * x94's); the `__last_batch` guard keeps at-least-once redelivery
    * from double-counting a batch's features, and the `__nb` recipe
    * stamp keeps a caller with a different feature width from folding
    * counts into a bucket space they don't belong to. */
  def dsirLedgerFold(batch: DataFrame, batchId: Long, path: String,
                     nBuckets: Int = 4096): Unit = {
    import graft.operators.{Mutations, TextOps}
    guardedFold(batch, batchId, path, "dsirLedgerFold",
      Some(Recipe("__nb", "nBuckets", nBuckets.toLong,
        "hashed-ngram counts are only additive within one bucket " +
          "space (derive the ledger path from the recipe)"))) {
      ledger =>
        Mutations.upsertAggregate(ledger,
          TextOps.dsirCounts(TextOps.dsirFeatures(batch, col("doc_id"),
            col("text"), col("lang") === "en", nBuckets)),
          Seq("b"), Seq("ct", "cq"))
    }
  }

  /** Executable DSIR feature-width sizing — the nlistFor discipline
    * on the hashed-ngram bucket space: size the table to run at load
    * ≤ 1/4 (sized = power-of-two ceil of 4·occupied, clamped
    * [4096, 2²⁴]), because past that, pairwise hash collisions — two
    * distinct n-gram features sharing a bucket and silently AVERAGING
    * their importance ratios — stop being rare. Bit arithmetic for
    * the round-up (nlistFor's determinism note: log-based ceils flip
    * at exact powers of two across JVMs). */
  def dsirBucketsFor(occupied: Long): Int = {
    require(occupied >= 0, s"dsirBucketsFor: occupied=$occupied")
    val t = math.min(1L << 24, math.max(4096L, 4L * occupied))
    val hb = java.lang.Long.highestOneBit(t)
    val p2 = if (hb == t) t else hb << 1
    math.min(1L << 24, p2).toInt
  }

  /** DSIR-ledger GEOMETRY-DRIFT advisor — the indexGeometryDrift
    * discipline on the text tier (VERDICT r9 #8): st18's fold freezes
    * the bucket width `__nb` at seed time and accretes counts
    * forever, so a ledger that was sized for an early corpus slice
    * silently saturates as features accrete — counts stay exactly
    * additive (nothing is WRONG), but collision rate grows with load
    * and the importance ratios blur, with no error anywhere. One
    * KB-grain read of the standing ledger (bucket rows only, never
    * the corpus): occupied buckets vs the stamped width, the sizing
    * rule's answer for the CURRENT occupancy, and the same
    * ×`rebuildFactor` trigger as the index tier (2 = one power-of-two
    * step, so jitter can't flap it). [[dsirBucketsFor]] is the single
    * owner of the sizing arithmetic. */
  def dsirLedgerAdvisor(spark: SparkSession, path: String,
                        rebuildFactor: Int = 2): DataFrame = {
    require(rebuildFactor >= 1,
      s"dsirLedgerAdvisor: rebuildFactor=$rebuildFactor")
    val head = dsirLedgerStats(spark, path).head()
    require(!head.isNullAt(0),
      s"dsirLedgerAdvisor: ledger at $path is seeded but has never " +
        "been folded — no bucket width to advise against; fold at " +
        "least one batch first")
    val a = dsirAdvice(head.getLong(0), head.getLong(1), rebuildFactor)
    spark.range(1).select(
      lit(a.nb).as("nb"),
      lit(a.nOccupied).as("n_occupied"),
      lit(a.loadFactor).as("load_factor"),
      lit(a.sizedNbNow).as("sized_nb_now"),
      lit(a.recommended).as("rebuild_recommended"))
  }

  /** [[dsirLedgerAdvisor]]'s measured state as a LAZY 1-row relation
    * — (nb, n_occupied) — the console-poll unit (one collect per
    * poll across every registered ledger, VERDICT r10; see
    * [[graft.operators.Similarity.indexGeometryStats]]). */
  private[graft] def dsirLedgerStats(spark: SparkSession,
                                     path: String): DataFrame = {
    // declared ledger schema: no per-read schema-inference job (the
    // one-collect poll contract); a foreign ledger without the
    // __nb stamp reads null there and fails the advisor's
    // never-folded guard instead
    val ledger = spark.read.schema(dsirLedgerSchema).parquet(path)
    ledger.agg(max(col("__nb")).as("nb"),
      count(when(col("ct") + col("cq") > 0L, 1)).as("n_occupied"))
  }

  /** The DSIR-width DECISION from the measured stats —
    * [[dsirBucketsFor]] stays the single owner of the sizing
    * arithmetic; advisor pane and ops console both call this.
    *
    * The trigger compares the UNCLAMPED sizing target (power-of-two
    * ceil of 4·occupied) against the stamped width: a ledger already
    * AT the 2²⁴ clamp saturates with sized == nb forever, and a
    * clamped-trigger advisor would read healthy in exactly the
    * maximum-collision regime it exists to report (round-10 review).
    * sized_nb_now stays clamped — it is what a rebuild would use;
    * past the clamp the advice is feature-space reduction, and the
    * recommendation must still FIRE. */
  private[graft] final case class DsirAdvice(nb: Long,
                                             nOccupied: Long,
                                             loadFactor: Double,
                                             sizedNbNow: Long,
                                             recommended: Boolean)
  private[graft] def dsirAdvice(nb: Long, occ: Long,
                                rebuildFactor: Int = 2): DsirAdvice = {
    val sized = dsirBucketsFor(occ)
    val t = math.max(4096L, 4L * occ)
    val hb = java.lang.Long.highestOneBit(t)
    val unclamped = if (hb == t) t else hb << 1
    DsirAdvice(nb, occ,
      math.rint(occ.toDouble / nb * 10000) / 10000,
      sized.toLong, unclamped >= rebuildFactor.toLong * nb)
  }

  /** The ACTION to [[dsirLedgerAdvisor]]'s recommendation — the x118
    * rebuild discipline on the text tier (VERDICT r10 #3): hashed
    * counts are not invertible, so a saturated ledger cannot
    * re-bucket itself — the rebuild RE-FOLDS the corpus history at
    * the advisor's sizing into a NEW ledger path per step (the width
    * is part of the recipe, so the path must move — the
    * version-keyed-ledger rule, hence the `newPathFor` policy).
    * `history` is the corpus the ledger accreted, as batches (the
    * replay source a deployment keeps: crawl snapshots, the bronze
    * tier); each batch folds batchId-idempotent exactly like the
    * stream did, so a resized ledger equals a fresh batch build at
    * the same width for ANY batching (st18's invariance at the new
    * width).
    *
    * ITERATIVE, because a saturated ledger UNDERESTIMATES its own
    * feature count: occupied buckets ≤ nb, so `sized_nb_now` derived
    * from a ledger at high load is a floor, not the answer — the
    * first x137 draft folded once at the old ledger's sizing and
    * came out STILL saturated (6.6k features read as 3.3k occupied
    * at nb=4096 → sized 16384, where they occupy 5.4k → fires
    * again). Each re-fold measures occupancy at the wider table and
    * re-advises; occupancy → |features| geometrically as load
    * drops, so the loop converges in a couple of steps (each step
    * at least doubles nb — `maxSteps` default 6 covers 4096 → 2²⁴,
    * the whole legal range). A ledger already AT the 2²⁴ clamp can
    * fire with sized == nb (the advice there is feature-space
    * reduction, not width): the loop stops rather than re-folding
    * at the same width forever, returning quiet = false honestly.
    * Corpus-grain × steps, priced honestly: that is what
    * re-bucketing under measurement costs. Returns
    * (firedBefore, finalNb, finalPath, steps, quietAfter). */
  def dsirLedgerRebuild(spark: SparkSession, oldPath: String,
                        newPathFor: Int => String,
                        history: Seq[DataFrame],
                        rebuildFactor: Int = 2,
                        maxSteps: Int = 6)
      : (Boolean, Int, String, Int, Boolean) = {
    require(history.nonEmpty,
      "dsirLedgerRebuild: no history batches — a resized ledger " +
        "can only be re-folded from the corpus")
    require(maxSteps >= 1, s"dsirLedgerRebuild: maxSteps=$maxSteps")
    def advise(p: String): DsirAdvice = {
      val head = dsirLedgerStats(spark, p).head()
      require(!head.isNullAt(0),
        s"dsirLedgerRebuild: ledger at $p has never been folded")
      dsirAdvice(head.getLong(0), head.getLong(1), rebuildFactor)
    }
    var a = advise(oldPath)
    if (!a.recommended)
      return (false, a.nb.toInt, oldPath, 0, true)
    var cur = oldPath
    var steps = 0
    while (a.recommended && steps < maxSteps &&
      a.sizedNbNow > a.nb) {
      val sized = a.sizedNbNow.toInt
      val next = newPathFor(sized)
      graft.operators.Mutations.seedEmptyLedger(spark, next,
        dsirLedgerSchema)
      history.zipWithIndex.foreach { case (batch, i) =>
        dsirLedgerFold(batch, i.toLong, next, sized)
      }
      cur = next
      steps += 1
      a = advise(cur)
    }
    (true, a.nb.toInt, cur, steps, !a.recommended)
  }

  /** Streaming DSIR (x94's twin): the importance model TRAINS AS THE
    * CORPUS STREAMS IN — each micro-batch's hashed-ngram bucket
    * counts fold into a standing ledger (additive sufficient
    * statistic, batchId-keyed idempotent like st17), and the final
    * selection scores documents against the LEDGER model. Because
    * counts are additive and the fold exactly-once, the ledger model
    * equals the batch-trained model for ANY batching — so this query
    * shares x94's oracle verbatim, which is the batching-invariance
    * proof (st6/st11 discipline). Production shape: the model is
    * nBuckets rows of KB-scale state, always query-ready; a new
    * crawl snapshot folds in one pass and never rescans history. */
  def streamDsirWeights(spark: SparkSession, sfDir: String,
                        splitFiles: Int = 2,
                        nBuckets: Int = 4096): DataFrame = {
    import graft.operators.TextOps
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = ScratchRoot.fresh("st18_target")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      dsirLedgerSchema)
    runFold(stagedFileStream(spark, sfDir, "documents", "doc_id",
      "st18_src", splitFiles))(dsirLedgerFold(_, _, path, nBuckets))
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val counts = spark.read.parquet(path)
      .select(col("b"), col("ct"), col("cq"))
    val feat = TextOps.dsirFeatures(docs, col("doc_id"), col("text"),
      col("lang") === "en", nBuckets)
    TextOps.dsirWeightsFrom(docs, col("doc_id"), feat, counts, nBuckets)
  }

  /** st19's per-batch fold: score a documents micro-batch against the
    * FROZEN model ledger (weights + bias parquet under `modelPath`)
    * and overwrite ONLY this batch's partition of the scored ledger —
    * the batchId-PARTITION-overwrite idempotence pattern. A
    * redelivered batch recomputes byte-identical rows (frozen model +
    * per-doc features) and dynamic partition overwrite confines the
    * rewrite to `__bid=<batchId>`, so replay cannot touch any other
    * batch's rows — no guard column needed, the layout IS the guard.
    * The sibling pattern to st17/st18's `__last_batch` additive-merge
    * guard: use THIS one when batch outputs are disjoint row sets,
    * the guard column when they merge into shared aggregates. */
  def classifierScoreFold(batch: DataFrame, batchId: Long,
                          modelPath: String, scoredPath: String,
                          nBuckets: Int = 4096): Unit = {
    import graft.operators.Learn
    val sp = batch.sparkSession
    // version-checked ledger read — a fold can never silently score
    // against weights trained under a different recipe
    val (w, bias) = Learn.loadModel(sp, modelPath,
      Learn.qualityModelVersion(nBuckets))
    val feat = Learn.features(batch, col("doc_id"), col("text"),
      nBuckets)
    Learn.logisticScore(batch.select(col("doc_id").as("id")), feat,
        w, bias)
      .withColumn("__bid", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bid")
      .parquet(scoredPath)
  }

  /** x97's streaming twin (st19): batch-train the quality classifier
    * once, persist it as the standing model ledger, then stream the
    * corpus and score each micro-batch against the FROZEN model via
    * [[classifierScoreFold]]. Scores are per-doc pure functions of
    * (doc, model) — per-doc L1 feature normalization means a doc
    * scores identically in any batch — so the assembled ledger equals
    * batch scoring for ANY stream split, and st19 shares x97's oracle
    * verbatim (the batching-invariance proof, st6/st18 discipline).
    * Production shape: training is an offline job; the model is KBs
    * of always-loadable state; scoring rides ingest micro-batches and
    * restarts are safe because each batch owns its ledger partition. */
  def streamClassifierScore(spark: SparkSession, sfDir: String,
                            splitFiles: Int = 2,
                            nBuckets: Int = 4096): DataFrame = {
    import graft.operators.Learn
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = graft.Tables.load(spark, sfDir, "documents")
    // x97's standing operating point — shared definition, so the
    // frozen model here can never drift from the batch twin's oracle;
    // persisted via Learn.persistModel, the SAME versioned-ledger
    // form x97b/x98b consume (st19's freeze was the prototype)
    val (_, _, bias, w) = Learn.qualityClassifier(docs, nBuckets)
    val modelPath = ScratchRoot.fresh("st19_model")
    Learn.persistModel(w, bias, modelPath,
      Learn.qualityModelVersion(nBuckets))
    val scoredPath = ScratchRoot.fresh("st19_scores")
    runFold(stagedFileStream(spark, sfDir, "documents", "doc_id",
      "st19_src", splitFiles))(
      classifierScoreFold(_, _, modelPath, scoredPath, nBuckets))
    spark.read.parquet(scoredPath).select(col("id"), col("score"))
  }

  /** st20's ledger schema: the additive RAW-MOMENT sufficient
    * statistic of PCA in one uniform keyed shape —
    * (d1, d2, val): d1,d2 ≥ 1 → Σ xi_d1·xi_d2 co-moments;
    * (d, 0)        → Σ xi_d first moments;
    * (0, 0)        → row count n.
    * All values exact micro-unit integers, so folding is pure
    * addition and the ledger is EXACTLY batching-invariant (stronger
    * than st18's claim: integer equality, not just model
    * equivalence). `__last_batch` guards redelivery (st17/st18
    * discipline). */
  val pcaLedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d1",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("d2",
        org.apache.spark.sql.types.IntegerType),
      // DECIMAL(38,0), not LONG: raw second moments are >= centered
      // co-moments and the additive ledger accumulates forever — a
      // silent long wrap at ~1e7 folded vectors would break the
      // "equals batch moments EXACTLY" invariant with no error
      org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.DecimalType(38, 0)),
      org.apache.spark.sql.types.StructField("__last_batch",
        org.apache.spark.sql.types.LongType)))

  /** An embeddings micro-batch's raw-moment delta in the
    * [[pcaLedgerSchema]] key shape. */
  private def pcaMomentDelta(batch: DataFrame): DataFrame = {
    val xi = batch
      .select(col("vec_id").as("id"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("id"), (col("pos") + 1).as("d"),
        floor(col("xf").cast(org.apache.spark.sql.types.DoubleType)
          * lit(1000000.0d)).as("xi"))
    val a = xi.select(col("id"), col("d").as("d1"), col("xi").as("x1"))
    val b = xi.select(col("id"), col("d").as("d2"), col("xi").as("x2"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val moments = a.join(b, Seq("id"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum((col("x1") * col("x2")).cast(dec38)).as("val"))
    val sums = xi.groupBy(col("d").as("d1"))
      .agg(sum(col("xi").cast(dec38)).as("val"))
      .select(col("d1").cast("int"), lit(0).as("d2"), col("val"))
    val n = batch.agg(count(lit(1)).cast(dec38).as("val"))
      .select(lit(0).as("d1"), lit(0).as("d2"), col("val"))
    moments.select(col("d1").cast("int"), col("d2").cast("int"),
      col("val")).unionByName(sums).unionByName(n)
  }

  /** One batchId-keyed idempotent fold of an embeddings micro-batch
    * into the PCA moment ledger. */
  def pcaLedgerFold(batch: DataFrame, batchId: Long,
                    path: String): Unit =
    guardedFold(batch, batchId, path, "pcaLedgerFold") { ledger =>
      graft.operators.Mutations.upsertAggregate(ledger,
        pcaMomentDelta(batch), Seq("d1", "d2"), Seq("val"))
    }

  /** Reconstruct the CENTERED gram matrix from the raw-moment
    * ledger via the exact integer identity
    *   Σ(xi_a − mi_a)(xi_b − mi_b)
    *     = Σxi_a·xi_b − mi_a·Σxi_b − mi_b·Σxi_a + n·mi_a·mi_b
    * with mi = floor(Σxi/n) — the SAME floored means centeredMicro
    * uses, so the result equals Learn.gramMicro over the batch
    * centered relation EXACTLY (integer algebra, no approximation).
    * Returns ((d1, d2, g), n). */
  def pcaLedgerGram(spark: SparkSession, path: String): (DataFrame, Long) = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ledger = spark.read.parquet(path)
    val nRow = ledger.filter(col("d1") === 0 && col("d2") === 0)
      .head(1)
    require(nRow.nonEmpty, "pcaLedgerGram: ledger has no (0,0) " +
      "count row — no batch was ever folded into it")
    val n = nRow(0).getDecimal(2).longValueExact()
    require(n > 0, s"pcaLedgerGram: ledger vector count is $n — " +
      "only empty batches were folded; the gram is undefined")
    val sums = ledger.filter(col("d1") > 0 && col("d2") === 0)
      .select(col("d1").as("d"), col("val").as("sx"),
        floor(col("val").cast(org.apache.spark.sql.types.DoubleType)
          / lit(n.toDouble)).as("mi"))
    val s1 = sums.select(col("d").as("d1"), col("sx").as("sx1"),
      col("mi").as("mi1"))
    val s2 = sums.select(col("d").as("d2"), col("sx").as("sx2"),
      col("mi").as("mi2"))
    // all in DECIMAL(38,0): n·mi² alone exceeds 64 bits at ~1e7
    // folded vectors
    val gram = ledger.filter(col("d1") > 0 && col("d2") > 0)
      .join(broadcast(s1), Seq("d1")).join(broadcast(s2), Seq("d2"))
      .select(col("d1"), col("d2"),
        (col("val") - col("mi1") * col("sx2") -
          col("mi2") * col("sx1") +
          lit(n).cast(dec38) * col("mi1") * col("mi2")).as("g"))
    (gram, n)
  }

  /** Streaming PCA (x105's twin): the corpus's raw moments fold into
    * a (D²+D+1)-row additive integer ledger as embeddings stream in
    * — PCA's sufficient statistic is Σx, Σxxᵀ, n, all exact
    * micro-unit integer sums, so the ledger after ANY batching
    * equals the batch moments EXACTLY and st20 shares x105's oracle
    * verbatim (the batching-invariance proof, st18 discipline
    * upgraded from model-equivalence to integer equality). The PC is
    * then extracted from the ledger alone: centered gram via the
    * moment identity ([[pcaLedgerGram]]) + gram-space power
    * iteration — no corpus rescan, ever. Production shape: the
    * ledger is KBs of always-query-ready state; a new embedding
    * batch folds in one pass; iterations touch only D² rows. */
  def streamGramPca(spark: SparkSession, sfDir: String,
                    splitFiles: Int = 2, dims: Int = 64,
                    iters: Int = 8): DataFrame = {
    import graft.operators.Learn
    val path = ScratchRoot.fresh("st20_ledger")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      pcaLedgerSchema)
    runFold(stagedFileStream(spark, sfDir, "embeddings", "vec_id",
      "st20_src", splitFiles))(pcaLedgerFold(_, _, path))
    val (gram, n) = pcaLedgerGram(spark, path)
    val w = Learn.gramPowerIteration(gram, dims, iters, n)
    w.crossJoin(broadcast(Learn.gramVariancePane(gram, w, n)))
      .select(col("d"),
        (col("w").cast(org.apache.spark.sql.types.DoubleType)
          / lit(1000000.0d)).as("loading"),
        col("pc_var"), col("total_var"), col("evr"))
      .orderBy(col("d"))
  }

  /** st21's ledger schema: the word-frequency table as standing
    * state — BPE training's sufficient statistic is the (word, freq)
    * relation, and counts are additive, so the ledger after ANY
    * batching equals the batch word-freq table EXACTLY and the
    * merges trained from it are identical (st20's integer-equality
    * discipline applied to the tokenizer tier). */
  val bpeLedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("freq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__last_batch",
        org.apache.spark.sql.types.LongType)))

  /** One batchId-keyed idempotent fold of a documents micro-batch
    * into the word-frequency ledger. */
  def bpeLedgerFold(batch: DataFrame, batchId: Long,
                    path: String): Unit =
    guardedFold(batch, batchId, path, "bpeLedgerFold") { ledger =>
      graft.operators.Mutations.upsertAggregate(ledger,
        graft.operators.Tokenize.wordFreq(batch, col("text")),
        Seq("word"), Seq("freq"))
    }

  /** Streaming BPE training (x101's twin): word counts fold into the
    * standing ledger as documents stream in; the tokenizer retrains
    * from the LEDGER alone — no corpus rescan, ever (the production
    * shape: a crawl snapshot folds in one pass, and retraining the
    * merge table afterwards touches only word TYPES). Because counts
    * are additive and the fold exactly-once, the ledger equals the
    * batch word-freq table EXACTLY for any batching, the trained
    * merges are identical, and st21 shares x101's oracle verbatim —
    * the batching-invariance proof (st18/st20 discipline). */
  def streamBpeTrain(spark: SparkSession, sfDir: String,
                     splitFiles: Int = 2,
                     merges: Int = 12): DataFrame = {
    import graft.operators.Tokenize
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = ScratchRoot.fresh("st21_ledger")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      bpeLedgerSchema)
    runFold(stagedFileStream(spark, sfDir, "documents", "doc_id",
      "st21_src", splitFiles))(bpeLedgerFold(_, _, path))
    Tokenize.bpeTrain(
      spark.read.parquet(path).select(col("word"), col("freq")),
      merges)
  }

  /** st23's per-batch fold: encode an embeddings micro-batch against
    * the STANDING index definition — read VERSION-CHECKED from the
    * ledger every batch (`Similarity.loadIndex`, the st19
    * classifierScoreFold contract on the index tier: a fold can never
    * encode against centroids or a codebook built under a different
    * recipe — a mismatched m would emit codes that ADC-score garbage
    * with no error, so the mismatch fails fast instead) — and
    * overwrite ONLY this batch's partition of the encoded-state
    * ledger, the batchId-PARTITION-overwrite idempotence pattern.
    * Encode is a pure per-row function of (vector, definition), so a
    * redelivered batch recomputes byte-identical rows and replay can
    * never touch another batch's rows — the layout is the guard.
    * Cost per batch: one KB-scale meta read + O(|batch|·m) broadcast
    * joins, no corpus rescan, no retrain (x76/x92's index-INSERT
    * discipline made a streaming fold). */
  def annIngestFold(batch: DataFrame, batchId: Long,
                    definitionPath: String, version: String,
                    encodedPath: String, m: Int = 8): Unit = {
    // the encode GEOMETRY must agree with the validated stamp: a
    // caller passing version=annIndexVersion(nl, 8, ks) with m=16
    // would pass the ledger's version check yet emit wrong-geometry
    // codes that ADC-score garbage — exactly the silent recipe
    // mismatch annIndexVersion exists to prevent, so the stamp's own
    // m token is required to match the encode parameter (ADVICE r8)
    require(version.contains(s"-m$m-"),
      s"annIngestFold: encode geometry m=$m does not match the " +
        s"validated version stamp '$version' — the fold would emit " +
        "codes under a different subspace split than the codebook " +
        "was trained for")
    val (cents, codebook) = graft.operators.Similarity
      .loadIndexDef(batch.sparkSession, definitionPath, version)
    graft.operators.Similarity.ivfpqEncode(batch, "vec_id",
        "embedding", cents, codebook, m)
      .withColumn("__bid", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bid")
      .parquet(encodedPath)
  }

  /** x113's streaming twin (st23): train the IVFPQ definition once
    * on the full lake (production: an initial load or sample),
    * PERSIST it as the versioned standing ledger, then stream the
    * lake in micro-batches, each fold reading the definition back
    * version-checked and encoding against it via [[annIngestFold]].
    * The assembled encoded ledger equals the batch-built index state
    * EXACTLY for any stream split (per-row encode + disjoint
    * batches), so search results — and st23's pane — are
    * bit-identical to x113's and the oracle is shared verbatim (the
    * batching-invariance proof, index tier). Returns
    * (lake, cents, codebook, assembled encoded, defPath, encodedPath);
    * the encoded ledger at `encodedPath` keeps micro-batch `i` under
    * `__bid=i`. */
  def streamAnnIngest(spark: SparkSession, n: Long, nlist: Int,
                      m: Int = 8, ksub: Int = 16,
                      splitFiles: Int = 4, tag: String = "st23")
      : (DataFrame, DataFrame, DataFrame, DataFrame, String, String) = {
    import graft.operators.Similarity
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val (cents0, codebook0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = nlist, m = m, ksub = ksub,
      coarseIters = 1, pqIters = 1)
    // the definition is FROZEN standing state: persisted version-
    // keyed, read back version-checked by EVERY fold (st19's
    // contract — a recipe change can never silently mis-encode a
    // batch mid-stream). (m, ksub) are CALLER-supplied so the pane
    // consumer and this producer share one geometry definition —
    // independent hardcodings are the silent-mismatch class the
    // version contract exists to kill.
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val defPath = ScratchRoot.fresh(s"${tag}_def")
    Similarity.persistIndexDef(defPath, version, cents0, codebook0)
    val (cents, codebook) =
      Similarity.loadIndexDef(spark, defPath, version)
    val stream = splitLake(spark, lake, tag, splitFiles)
    val encodedPath = ScratchRoot.fresh(s"${tag}_encoded")
    runFold(stream)(annIngestFold(_, _, defPath, version, encodedPath, m))
    val encoded = spark.read.parquet(encodedPath)
      .select(col("cell"), col("neighbor_id"), col("sub"), col("code"))
    (lake, cents, codebook, encoded, defPath, encodedPath)
  }

  /** The ANN lake staged as `vec_id % splitFiles` parts under scratch
    * `<tag>_src`, streamed one part per micro-batch. */
  private def splitLake(spark: SparkSession, lake: DataFrame, tag: String,
                        splitFiles: Int): DataFrame =
    fileStream(spark, stageFiles(s"${tag}_src",
      Right((lake, col("vec_id") % splitFiles, splitFiles))),
      Some(lake.schema))

  /** st25: the MAINTENANCE CADENCE rides the stream — ingest folds
    * accrete the write-optimized `__bid` ledger all day, and every
    * `promoteEvery` batches the fold ALSO runs
    * [[graft.operators.Similarity.promoteIngestLedgerIncremental]],
    * so the read-optimized cell-layout bundle trails the stream by at
    * most one cadence window and each promotion pays only the cells
    * the window's batches touched (x129's contract, on the streaming
    * cadence it exists for). Replay safety composes from the parts:
    * the fold is batchId-idempotent via the `__bid` partition, and a
    * replayed promotion re-folds at a watermark it has already
    * passed — the key-deduped merge lands the identical bundle
    * (Round18Spec's stale-watermark pin). Returns (lake, defPath,
    * version, encodedPath, bundlePath, nPromotes). */
  def streamAnnIngestPromote(spark: SparkSession, n: Long, nlist: Int,
                             m: Int = 8, ksub: Int = 16,
                             splitFiles: Int = 4, promoteEvery: Int = 2,
                             tag: String = "st25")
      : (DataFrame, String, String, String, String, Int) = {
    import graft.operators.Similarity
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val defPath = ScratchRoot.fresh(s"${tag}_def")
    val (cents0, codebook0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = nlist, m = m, ksub = ksub,
      coarseIters = 1, pqIters = 1)
    Similarity.persistIndexDef(defPath, version, cents0, codebook0)
    val stream = splitLake(spark, lake, tag, splitFiles)
    val encodedPath = ScratchRoot.fresh(s"${tag}_encoded")
    val bundlePath = ScratchRoot.fresh(s"${tag}_bundle")
    var nPromotes = 0
    runFold(stream) { (b, bid) =>
      annIngestFold(b, bid, defPath, version, encodedPath, m)
      if ((bid + 1) % promoteEvery == 0) {
        Similarity.promoteIngestLedgerIncremental(spark, defPath,
          version, encodedPath, bundlePath)
        nPromotes += 1
      }
    }
    (lake, defPath, version, encodedPath, bundlePath, nPromotes)
  }

  /** st26: the maintenance cadence rides the stream ACROSS THE
    * SHARDED ESTATE — the deployment form st25 (one bundle) and the
    * sharded build (x117/x130) both exist for, composed (VERDICT r10
    * #6): each micro-batch routes to shards by the SAME
    * [[graft.operators.Similarity.annShardKey]] hash that owns the
    * estate's ingest, folds each shard's slice into ITS `__bid`
    * ledger (batchId-idempotent per shard), and every `promoteEvery`
    * batches promotes EVERY shard incrementally — so each shard's
    * read-optimized cell-layout bundle trails the stream by at most
    * one cadence window and each promotion pays only the cells the
    * window's slice touched IN THAT SHARD. Replay safety composes
    * per shard exactly as st25's: `__bid` partition idempotence +
    * the watermark's key-deduped merge.
    *
    * AT-SCALE STANCE (SCALE.md "cadence blocking"): promotions run
    * synchronously inside foreachBatch, so the ingest stream stalls
    * for the promote's duration every cadence window — per shard
    * that cost is the window's touched-cell footprint, and shards
    * promote independently (a real deployment runs them as parallel
    * maintenance jobs; AvailableNow here runs them in-line, which is
    * the same work single-threaded). Accepted at cadence grain; an
    * async promote would trade the stall for a bundle that can lag
    * more than one window.
    *
    * Returns (lake, per-shard (defPath, version, ledgerPath,
    * bundlePath), nPromotes — counted per cadence FIRING, each of
    * which promotes all shards). */
  def streamAnnIngestPromoteSharded(spark: SparkSession, n: Long,
                                    shards: Int, m: Int = 8,
                                    ksub: Int = 16,
                                    splitFiles: Int = 4,
                                    promoteEvery: Int = 2,
                                    tag: String = "st26")
      : (DataFrame, Seq[(String, String, String, String)], Int) = {
    import graft.operators.Similarity
    require(shards >= 1, s"streamAnnIngestPromoteSharded: shards=$shards")
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val shardKey = Similarity.annShardKey(col("vec_id"), shards)
    // per-shard FROZEN definitions, sized to each shard's own count
    // (the x117/x130 discipline: shards are independent estates)
    // shards are independent estates landing in their own paths —
    // train the frozen definitions CONCURRENTLY (graft.Par, guide
    // §2.6: the parallel-maintenance-jobs stance the at-scale note
    // below already documents, applied to the build step too)
    val state = graft.Par.run((0 until shards).map { sh => () =>
      val part = lake.filter(shardKey === sh.toLong)
      val nl = Similarity.nlistFor(part.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val defPath = ScratchRoot.fresh(s"${tag}_def$sh")
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexDef(defPath, v, c0, cb0)
      (defPath, v, ScratchRoot.fresh(s"${tag}_led$sh"),
        ScratchRoot.fresh(s"${tag}_bun$sh"))
    })
    var nPromotes = 0
    runFold(splitLake(spark, lake, tag, splitFiles)) { (b, bid) =>
      val batch = b.localCheckpoint(true) // one eval, |shards| slices
      // per-shard folds/promotes land in per-shard paths — run them
      // as the parallel maintenance jobs the at-scale stance above
      // describes (graft.Par; AvailableNow used to run them in-line
      // single-threaded, which was the same work serialized)
      graft.Par.run(state.zipWithIndex.map {
        case ((defPath, v, ledgerPath, _), sh) => () =>
          annIngestFold(batch.filter(shardKey === sh.toLong), bid,
            defPath, v, ledgerPath, m)
      })
      if ((bid + 1) % promoteEvery == 0) {
        graft.Par.run(state.map {
          case (defPath, v, ledgerPath, bundlePath) => () =>
            Similarity.promoteIngestLedgerIncremental(spark, defPath,
              v, ledgerPath, bundlePath)
        })
        nPromotes += 1
      }
    }
    (lake, state, nPromotes)
  }

  /** st24: DELETION rides the stream — right-to-be-forgotten ids
    * arrive as CDC delete events in micro-batches, and each batch
    * folds into the standing tombstone set via
    * [[graft.operators.Similarity.annForget]] DIRECTLY: tombstone
    * append is replay-idempotent BY ALGEBRA (append-mode +
    * distinct-on-read — the st16 class, where the merge needs no
    * batchId guard because redelivering a batch changes nothing), so
    * the assembled set equals the batch append for ANY stream split
    * and st24 shares x119's oracle VERBATIM (the st18/st20/st23
    * batching-invariance discipline, applied to the delete path).
    * At 100 TB this is how deletion actually arrives: a compliance
    * topic streams ids all day, every consumer's next read excludes
    * them (the tombstone-aware load), and the nightly compact
    * erases the bytes. */
  def streamForget(spark: SparkSession, ids: DataFrame,
                   bundlePath: String, splitFiles: Int = 2,
                   tag: String = "st24"): Unit = {
    val idsC = ids.select(col(ids.columns.head).cast("long")
      .as("vec_id")).localCheckpoint(true)
    runFold(fileStream(spark, stageFiles(s"${tag}_src",
        Right((idsC, pmod(col("vec_id"), lit(splitFiles.toLong)),
          splitFiles))), Some(idsC.schema))) { (b, _) =>
      graft.operators.Similarity.annForget(bundlePath, b)
    }
  }

  /** st22's ledger schema: segment-hash document frequencies as
    * standing state — the boilerplate blacklist's sufficient
    * statistic. A doc lives in exactly one micro-batch
    * (stagedFileStream partitions by doc id), so per-batch
    * DISTINCT-doc counts per hash are ADDITIVE across batches and
    * the folded ledger equals the batch countDistinct EXACTLY (the
    * st20/st21 integer-equality discipline). */
  val boilerplateLedgerSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("docfreq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__last_batch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__sep",
        org.apache.spark.sql.types.StringType)))

  /** One batchId-keyed idempotent fold of a documents micro-batch
    * into the segment-docfreq ledger. `__sep` is the recipe stamp
    * (the dsirLedgerFold `__nb` discipline): segment hashes are only
    * comparable when cut by ONE separator — a fold called with a
    * different sep would merge docfreqs of different segmentations,
    * so it fails fast instead. */
  def boilerplateLedgerFold(batch: DataFrame, batchId: Long,
                            path: String, sep: String = "\n"): Unit =
    guardedFold(batch, batchId, path, "boilerplateLedgerFold",
      Some(Recipe("__sep", "sep", sep,
        "segment hashes are only additive within one segmentation",
        _.toString.map(c => f"\\u${c.toInt}%04x").mkString))) { ledger =>
      val counts = batch.select(col("doc_id"),
          explode(split(col("text"),
            java.util.regex.Pattern.quote(sep))).as("seg"))
        .select(col("doc_id"), xxhash64(trim(col("seg"))).as("h"))
        .distinct() // one vote per (doc, segment) — docfreq semantics
        .groupBy(col("h")).agg(count(lit(1)).as("docfreq"))
      graft.operators.Mutations.upsertAggregate(ledger, counts,
        Seq("h"), Seq("docfreq"))
    }

  /** Boilerplate-ledger CONTENT-DRIFT advisor — the x116 discipline
    * on the segment-docfreq tier (VERDICT r9 #8): st22's ledger
    * accretes docfreq forever while the consumer's `maxDocs`
    * blacklist threshold stays frozen at whatever the corpus looked
    * like when it was chosen — as the corpus grows, ordinary
    * repetition (common short lines, not web furniture) drifts past
    * the stale threshold and the blacklist starts STRIPPING REAL
    * CONTENT, with every individual strip still "correct" against
    * the ledger. The measurable symptom is blacklist occupancy: web
    * furniture is a thin head (a few segments on many docs), so a
    * blacklist capturing more than `fracThreshold` of ALL distinct
    * segments (default 10%) is no longer cutting furniture — the
    * threshold needs re-deriving for the current corpus. One
    * KB-grain read of the standing ledger (segment-hash rows only,
    * never the corpus); both branches live in the pinned query. */
  def boilerplateLedgerAdvisor(spark: SparkSession, path: String,
                               maxDocs: Long,
                               fracThreshold: Double = 0.10)
      : DataFrame = {
    require(maxDocs >= 0 && fracThreshold > 0.0 && fracThreshold <= 1.0,
      s"boilerplateLedgerAdvisor: maxDocs=$maxDocs " +
        s"fracThreshold=$fracThreshold")
    val head = boilerplateLedgerStats(spark, path, maxDocs).head()
    val nSeg = head.getLong(0)
    require(nSeg > 0L,
      s"boilerplateLedgerAdvisor: ledger at $path is seeded but has " +
        "never been folded — no segment frequencies to advise " +
        "against; fold at least one batch first")
    requireBoilerplateStamp(path, nSeg, head.getLong(2))
    val a = boilerplateAdvice(nSeg, head.getLong(1), fracThreshold)
    spark.range(1).select(
      lit(maxDocs).as("max_docs"),
      lit(nSeg).as("n_segments"),
      lit(head.getLong(1)).as("n_blacklisted"),
      lit(a.blacklistFrac).as("blacklist_frac"),
      lit(head.getLong(3)).as("max_docfreq"),
      lit(a.recommended).as("rethreshold_recommended"))
  }

  /** [[boilerplateLedgerAdvisor]]'s measured state as a LAZY 1-row
    * relation — (n_segments, n_blacklisted at `maxDocs`,
    * max_docfreq) — the console-poll unit (see [[dsirLedgerStats]]). */
  private[graft] def boilerplateLedgerStats(spark: SparkSession,
                                            path: String,
                                            maxDocs: Long)
      : DataFrame = {
    // declared schema — no inference job (see dsirLedgerStats).
    // `n_stamped` keeps the __sep recipe-stamp guard alive under the
    // declared read: a FOREIGN ledger (rows but no __sep column)
    // nulls the stamp on every row, so stamped < segments and the
    // advisor/console fail fast instead of reading a wrong-recipe
    // ledger as healthy (round-11 review — the old columns.contains
    // check died with schema inference)
    val ledger = spark.read.schema(boilerplateLedgerSchema)
      .parquet(path)
    ledger.agg(count(lit(1)).as("n_segments"),
      coalesce(sum(when(col("docfreq") > maxDocs, 1L)
        .otherwise(0L)), lit(0L)).as("n_blacklisted"),
      count(col("__sep")).as("n_stamped"),
      coalesce(max(col("docfreq")), lit(0L)).as("max_docfreq"))
  }

  /** The shared stamp-guard check on [[boilerplateLedgerStats]]'
    * collected row — advisor and console both call it. */
  private[graft] def requireBoilerplateStamp(path: String,
                                             nSeg: Long,
                                             nStamped: Long): Unit =
    require(nStamped == nSeg,
      s"boilerplateLedgerAdvisor: ledger at $path carries no __sep " +
        "recipe stamp on every row — rebuild the ledger")

  /** The rethreshold DECISION from the measured stats — single owner
    * of the occupancy arithmetic; advisor pane and ops console both
    * call this. The trigger uses the UNROUNDED fraction; the rounded
    * one is the display value. */
  private[graft] final case class BoilerplateAdvice(
      blacklistFrac: Double, recommended: Boolean)
  private[graft] def boilerplateAdvice(nSeg: Long, nBlack: Long,
                                       fracThreshold: Double = 0.10)
      : BoilerplateAdvice = {
    val frac = nBlack.toDouble / nSeg
    BoilerplateAdvice(math.rint(frac * 10000) / 10000,
      frac >= fracThreshold)
  }

  /** The ACTION to [[boilerplateLedgerAdvisor]]'s recommendation
    * (VERDICT r10 #3, the other half): derive the new `maxDocs` FROM
    * THE LEDGER'S OWN docfreq distribution — the smallest threshold
    * whose blacklist captures at most `targetFrac` of all distinct
    * segments. Web furniture is a thin head (few segments on many
    * docs), so the right threshold is wherever the head ends for the
    * CURRENT corpus; a frozen threshold drifts as the corpus grows
    * (x132's firing branch). One KB-grain histogram aggregation of
    * the standing ledger (distinct docfreq values — never the
    * corpus), then a driver-side suffix scan: blacklist size at
    * threshold t is Σ counts of docfreq > t, a step function that
    * only changes at observed docfreq values, so the smallest
    * satisfying t is 0 or an observed value. Deterministic given the
    * ledger; re-derivable by the oracle from the corpus. */
  def boilerplateThresholdFor(spark: SparkSession, path: String,
                              targetFrac: Double = 0.10): Long = {
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"boilerplateThresholdFor: targetFrac=$targetFrac")
    val ledger = spark.read.parquet(path)
    require(ledger.columns.contains("__sep"),
      s"boilerplateThresholdFor: ledger at $path carries no __sep " +
        "recipe stamp — rebuild the ledger")
    val hist = ledger.groupBy(col("docfreq"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val nSeg = hist.map(_._2).sum
    require(nSeg > 0L,
      s"boilerplateThresholdFor: ledger at $path has never been " +
        "folded — no distribution to derive from")
    val budget = targetFrac * nSeg
    // suffix mass above each candidate threshold, scanned ascending:
    // the first t with mass(docfreq > t) STRICTLY under budget is
    // the answer — strict because the advisor's trigger is
    // frac >= threshold, so a derived threshold landing exactly AT
    // the budget would re-fire the advisor it exists to quiet
    var above = nSeg
    if (above < budget) return 0L
    var i = 0
    while (i < hist.length) {
      above -= hist(i)._2
      if (above < budget) return hist(i)._1
      i += 1
    }
    hist.last._1 // unreachable: above hits 0 at the last bucket
  }

  /** Streaming boilerplate blacklist (x111's twin): segment document
    * frequencies fold into the standing ledger as documents stream
    * in; the blacklist derives from the LEDGER alone and the strip
    * pass runs against it without recomputing frequencies
    * ([[graft.operators.TextOps.boilerplateStripAgainst]]) — the
    * production shape: a crawl snapshot folds in one pass, and the
    * web-furniture blacklist is KBs of always-query-ready state any
    * ingest job can strip against. Because per-batch distinct counts
    * are additive (a doc never spans batches) and the fold
    * exactly-once, the ledger equals x111's batch countDistinct
    * EXACTLY for any batching, the blacklist is identical, and st22
    * shares x111's oracle verbatim — the batching-invariance proof
    * (st18/st20/st21 discipline). `inject` applies the same
    * deterministic per-doc transform the batch query uses (x111's
    * footer canary) to each micro-batch AND to the strip input, so
    * the two paths see one corpus definition. */
  def streamBoilerplateStrip(spark: SparkSession, sfDir: String,
                             inject: DataFrame => DataFrame,
                             splitFiles: Int = 2, sep: String = "\n",
                             maxDocs: Long = 10): DataFrame = {
    import graft.operators.TextOps
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = ScratchRoot.fresh("st22_ledger")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      boilerplateLedgerSchema)
    runFold(stagedFileStream(spark, sfDir, "documents", "doc_id",
        "st22_src", splitFiles)) { (b, bid) =>
      boilerplateLedgerFold(inject(b), bid, path, sep)
    }
    val blacklist = spark.read.parquet(path)
      .filter(col("docfreq") > maxDocs).select(col("h"))
    TextOps.boilerplateStripAgainst(
      inject(graft.Tables.load(spark, sfDir, "documents")),
      col("doc_id"), col("text"), sep, blacklist)
  }

  /** One (band, key) posting of a streamed doc's simhash fingerprint. */
  final case class BandEvent(band: Int, key: Long, doc_id: Long, fp: Long)
  /** Per-band admission flag emitted by [[streamNearDupAdmit]]. */
  final case class AdmitFlag(doc_id: Long, band: Int, hit: Boolean)

  /** Streaming near-dup ADMISSION: documents arrive as a stream and
    * each is admitted or dropped against everything that arrived
    * before it — the online form of the batch `admitIncremental` /
    * `simhashNearDups60` decision. Per doc: portable 60-bit simhash →
    * four 15-bit band postings; state lives per (band, key) bucket as
    * the list of fingerprints seen in that bucket, so a new doc
    * compares only against its bucket cohort (never the corpus). By
    * the pigeonhole argument any pair within Hamming ≤ `maxHamming`=3
    * shares ≥ 1 band, so bucket-local checks reach exactly the brute-
    * force pair set. Arrival order is the admission order; within one
    * micro-batch docs sort by doc_id, so the single-batch AvailableNow
    * run reproduces the batch oracle ("collides with any smaller-id
    * doc") while multi-batch delivery stays well-defined
    * (arrival-order) because the state carries the cohort forward.
    *
    * Scale shape: band keys are uniform 15-bit hashes, so state
    * spreads across the keyed shuffle; a bucket's cohort only grows
    * when true near-dup clusters exist (which is the signal). A
    * production deployment bounds state with timeout eviction
    * (GroupStateTimeout) at the cost of forgetting old cohorts —
    * admission then becomes approximate, which is the standard
    * trade. The final per-doc OR over its 4 band verdicts is a batch
    * aggregation over the materialized sink, keeping the stream
    * single-stateful-op (same discipline as [[streamStreamJoin]]). */
  def streamNearDupAdmit(spark: SparkSession, sfDir: String,
                         maxHamming: Int = 3,
                         queryName: String = "graft_stream_admit"): DataFrame = {
    import spark.implicits._
    // simhash60 already coalesces null text to the all-ones fingerprint
    val fp = graft.operators.Dedup.simhash60(col("text"))
    val banded = fileStream(spark,
        stageFiles("st9_src", Left(s"$sfDir/documents.parquet")))
      .select(col("doc_id"), fp.as("fp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("band").cast("int").as("band"),
        call_function("shiftrightunsigned", col("fp"), col("band") * 15)
          .bitwiseAND(lit(0x7FFFL)).as("key"),
        col("doc_id"), col("fp"))
      .as[BandEvent]
    val flags = banded
      .groupByKey(e => (e.band, e.key))
      .flatMapGroupsWithState[Seq[(Long, Long)], AdmitFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: (Int, Long), it: Iterator[BandEvent],
         state: GroupState[Seq[(Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[AdmitFlag]
          it.toIndexedSeq.sortBy(_.doc_id).foreach { e =>
            val hit = seen.exists { case (_, f) =>
              java.lang.Long.bitCount(f ^ e.fp) <= maxHamming }
            out += AdmitFlag(e.doc_id, bucket._1, hit)
            seen = seen :+ (e.doc_id, e.fp)
          }
          state.update(seen)
          out.iterator
      }
    withStreamShuffle(spark, 8)(
      runToMemory(flags.toDF(), "append", queryName))
      .groupBy(col("doc_id"))
      .agg(max(when(col("hit"), 1).otherwise(0)).as("__anyhit"))
      .select(col("doc_id"),
        when(col("__anyhit") === 1, "near_dup")
          .otherwise("admitted").as("status"))
  }
}
