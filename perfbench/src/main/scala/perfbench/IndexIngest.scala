package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Similarity
import graft.streaming.Streams

/** `index_ingest`: an open loop. A generator thread moves seeded
  * micro-batches of new vectors into a staging directory on a fixed
  * schedule; each is stamped with when it was due. An always-on ingest
  * stream folds the staged files into the ledger (`Streams.annIngestFold`
  * in `foreachBatch`). Maintenance cycles run back to back while there
  * are folded rows to promote: forget seeded ids and, every other cycle,
  * compact, then promote the ledger incrementally and probe the promoted
  * bundle for the pending batches. An operation is one batch; its
  * latency is its freshness, from when it was due until a probe finds
  * its vectors. */
final class IndexIngest(spark: SparkSession, in: JsonNode) extends Workload {
  import AnnSearch.{K, Ksub, M, Nlist, QueryIdBase}
  import IndexIngest._
  private val n0 = in.get("n0").asLong
  private val perBatch = in.get("per_batch").asLong
  private val intervalNs = in.get("interval_ms").asLong * 1000000L
  private val forgetSets = In.objs(in.get("forgets")).map(In.ints)
  private val version = Similarity.annIndexVersion(Nlist, M, Ksub)

  private var root: String = _
  private def defPath = s"$root/def"
  private def ledgerPath = s"$root/ledger"
  private def bundlePath = s"$root/${Workloads.BundleMarker}"
  private val staging = new File("staging").getAbsolutePath
  private val held = new File("gen-held").getAbsolutePath
  /** Batches the run may need: every phase of the window, plus slack. */
  private val maxBatches =
    (in.get("seconds").asDouble * 1e9 / intervalNs).toInt + 4

  /** Generated batches: index -> the time it was due (nanoTime). */
  private val stamps = new ConcurrentHashMap[Int, java.lang.Long]()
  private val confirmed = ConcurrentHashMap.newKeySet[Int]()
  private val generated = new AtomicLong(0)
  /** Batches the ingest stream has folded into the ledger. */
  private val foldedBatches = new AtomicLong(0)
  private val forgotten = mutable.LinkedHashSet.empty[Long]
  private val lateNs = mutable.ArrayBuffer.empty[Long]
  private var violations = 0L
  private var forgetsDone = 0
  private var cyclesRun = 0
  /** Staged batches not yet folded, summed over cycles. */
  private var backlog = 0L
  private var schema: StructType = _
  /** Folded batches the last cycle's promote could take. */
  private var promotedBatches = 0L
  private var stream: StreamingQuery = _
  private var store: DataFrame = _

  private def vectors(lo: Long, hi: Long): DataFrame =
    Similarity.hashBlobLake(spark, hi).filter(col("vec_id") >= lo)

  def setup(rep: Int): Unit = {
    root = new File(s"lake/setup$rep").getAbsolutePath
    val lake0 = Trace.span("similarity", "hashBlobLake")(
      Similarity.hashBlobLake(spark, n0).localCheckpoint(true))
    // the definition is trained on a fixed sample, as the engine trains
    // at scale; the fold then encodes the whole lake against it
    val (c, cb) = Trace.span("similarity", "ivfpqTrain")(
      Similarity.ivfpqTrain(lake0.filter(col("vec_id") % TrainEvery === 0),
        "vec_id", "embedding", Nlist, M, Ksub, coarseIters = 1, pqIters = 1))
    Trace.span("versioned", "persistIndexDef", "write")(
      Similarity.persistIndexDef(defPath, version, c, cb))
    Trace.span("streaming", "annIngestFold")(
      Streams.annIngestFold(lake0, 0L, defPath, version, ledgerPath, M))
    promote()
  }

  private def promote(): Unit =
    Trace.span("versioned", "promoteIngestLedgerIncremental", "write")(
      Similarity.promoteIngestLedgerIncremental(spark, defPath, version,
        ledgerPath, bundlePath))

  /** The ingest stream: a file source over the staging directory whose
    * `foreachBatch` folds each micro-batch into the ledger. It runs on
    * its own thread from `prepare` to `verify`. */
  private def startStream(): Unit = {
    stream = Trace.span("streaming", "start") {
      spark.readStream.schema(schema).parquet(staging)
        .writeStream
        .option("checkpointLocation", new File("stream-checkpoint").getAbsolutePath)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Trace.span("streaming", "annIngestFold")(
            Streams.annIngestFold(batch, batchId + 1, defPath, version, ledgerPath, M))
          // the micro-batch reaches foreachBatch as an RDD-backed frame,
          // so its rows are counted here (one small job)
          val n = Trace.span("bench", "count")(batch.count())
          foldedBatches.addAndGet(n / perBatch)
          ()
        }
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .start()
    }
  }

  def inputBytes: Long = (n0 + generated.get * perBatch) * 64L * 4L

  def prepare(): Unit = {
    new File(staging).mkdirs()
    // every batch's file is written up front, so the scheduled arrival
    // is a file move and the generator cannot fall behind on Spark work
    Trace.span("gen", "write")(Trace.asRole(spark, "gen") {
      vectors(n0, n0 + maxBatches * perBatch)
        .withColumn("b", ((col("vec_id") - n0) / perBatch).cast("int"))
        .repartition(col("b")).write.partitionBy("b").parquet(held)
    })
    schema = vectors(0, 1).schema
    // the probe's rerank source: every vector the run can ingest, held
    // in memory, as a vector store would serve them
    store = vectors(0, n0 + maxBatches * perBatch).localCheckpoint(true)
    startStream()
    // warm the probe path once on the set-up bundle (the set-up
    // repetitions already ran train, fold and promote)
    val warm = probe(Seq(n0 - 1))
    require(Checks.searchable(warm, n0 - 1, n0 - 1),
      "set-up bundle does not find its own vector")
  }

  /** Batch `j`, due at `dueNs`, arrives: its single parquet file moves
    * into staging. Freshness counts from when the batch was due, so a
    * late generator cannot hide a stall. */
  private def generate(j: Int, dueNs: Long): Unit = Trace.span("gen", "arrive") {
    require(j < maxBatches, s"batch $j beyond the $maxBatches written up front")
    val part = new File(s"$held/b=$j").listFiles().filter(_.getName.endsWith(".parquet"))
    require(part.length == 1, s"batch $j has ${part.length} files")
    // stamped before it lands: a cycle that folds it also probes for it
    stamps.put(j, dueNs)
    generated.incrementAndGet()
    Files.move(part.head.toPath, new File(s"$staging/b$j.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The generator thread for one phase: `count` batches on a fixed
    * schedule from `t0`. */
  private def generator(t0: Long, count: Int): Thread = {
    val t = new Thread(() => {
      spark.sparkContext.setLocalProperty(Trace.RoleProp, "gen")
      (0 until count).foreach { k =>
        val due = t0 + (k + 1) * intervalNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateNs.synchronized { lateNs += math.max(0L, System.nanoTime() - due) }
        generate(generated.get.toInt, due)
      }
    }, "perfbench-generator")
    t.start(); t
  }

  /** Search the live promoted bundle for the vectors `ids`: returns
    * (probed id, neighbor id) pairs. */
  private def probe(ids: Seq[Long]): Seq[(Long, Long)] = {
    val hi = n0 + generated.get * perBatch
    val (c, cb, enc) = Trace.span("versioned", "loadIndexCellLayout", "read") {
      val (c, cb, e) = Similarity.loadIndexCellLayout(spark, bundlePath, version)
      (c, cb, Similarity.liveEncoded(e, Similarity.annTombstones(spark, bundlePath)))
    }
    val src = store.filter(col("vec_id") < hi)
    val q = src.filter(col("vec_id").isin(ids: _*))
      .select((col("vec_id") + QueryIdBase).as("vec_id"), col("embedding"))
    val got = Trace.span("similarity", "ivfpqSearchPruned") {
      Similarity.ivfpqSearchPruned(q, "vec_id", "embedding", enc, c, cb, K,
        ProbeCells, M, rerank = Similarity.rerankFor(hi, Nlist, ProbeCells),
        rerankSource = Some(src))._2
    }
    Loop.collect(got.select("query_id", "neighbor_id"))
      .map(r => (r.getLong(0) - QueryIdBase, r.getLong(1))).toSeq
  }

  /** Per cycle: (start, duration, folded rows its promote took), times
    * in seconds from the first window's start; and the time each step of
    * the cycle took. */
  private val cycleLog = mutable.ArrayBuffer.empty[(Double, Double, Long)]
  private val stepNs = mutable.LinkedHashMap.empty[String, Long]
  private var windowT0 = 0L
  private def step[A](name: String)(body: => A): A = {
    val t = System.nanoTime()
    try body finally stepNs(name) = stepNs.getOrElse(name, 0L) + System.nanoTime() - t
  }

  /** One maintenance cycle: between the last promote and this one,
    * forget the next seeded id set and, every [[CompactEvery]] cycles,
    * compact; then promote what the stream has folded and probe every
    * pending batch (its first and last vector) and the forgotten ids.
    * Forget and compact lie on the path to freshness. Returns the
    * batches newly found searchable, with their freshness. */
  private def cycle(newRows: Long): Seq[Op] = {
    val start = System.nanoTime()
    backlog += stamps.size - foldedBatches.get
    if (forgetsDone < forgetSets.length) step("forget") {
      val ids = forgetSets(forgetsDone); forgetsDone += 1
      import spark.implicits._
      Trace.span("versioned", "annForgetPromoted", "write")(
        Similarity.annForgetPromoted(bundlePath, ledgerPath, ids.toDF("vec_id")))
      forgotten ++= ids
    }
    if (cyclesRun % CompactEvery == CompactEvery - 1) step("compact") {
      Trace.span("versioned", "annCompact", "write")(
        Similarity.annCompact(spark, bundlePath, version))
    }
    step("promote")(promote())
    val pending = stamps.keySet.asScala.filterNot(confirmed.contains).toSeq.sorted
    val rows = step("probe")(probe(pending.flatMap { j =>
      val lo = n0 + j * perBatch; Seq(lo, lo + perBatch - 1)
    } ++ forgotten.toSeq.takeRight(6)))
    val now = System.nanoTime()
    violations += Checks.forgottenHits(rows, forgotten.toSet)
    val found = pending.flatMap { j =>
      val lo = n0 + j * perBatch
      if (Checks.searchable(rows, lo, lo + perBatch - 1)) {
        confirmed.add(j)
        Some(Op((now - stamps.get(j)) / 1e6, perBatch, ok = true))
      } else None
    }
    cyclesRun += 1
    cycleLog += (((start - windowT0) / 1e9, (System.nanoTime() - start) / 1e9,
      newRows))
    found
  }

  /** A phase: batches arrive every interval from its start until the
    * deadline while the stream folds them. The maintenance cadence runs
    * a cycle whenever the stream has folded rows that no promote has
    * taken yet, so cycles run back to back under load, each over what
    * has been folded when it starts. After the deadline cycles go on
    * until every batch of the phase is searchable. */
  def runUntil(deadlineNs: Long, traced: Boolean): Seq[Op] = {
    val t0 = System.nanoTime()
    if (windowT0 == 0L) windowT0 = t0
    val count = math.max(1L, math.round((deadlineNs - t0).toDouble / intervalNs)).toInt
    val first = generated.get.toInt
    val gen = generator(t0, count)
    val limit = deadlineNs + DrainLimitNs
    val ops = mutable.ArrayBuffer.empty[Op]
    def done = !gen.isAlive && (first until first + count).forall(confirmed.contains)
    while (!done && System.nanoTime() < limit) {
      val folded = foldedBatches.get
      if (folded > promotedBatches) {
        val newRows = (folded - promotedBatches) * perBatch
        promotedBatches = folded
        ops ++= Trace.root("cycle")(cycle(newRows))._1
      } else Thread.sleep(5)
    }
    gen.join()
    ops.toSeq
  }

  def verify(out: Out): Seq[(String, Boolean, String)] = {
    stream.processAllAvailable()
    stream.stop()
    val lateMax = lateNs.synchronized(if (lateNs.isEmpty) 0L else lateNs.max)
    out.num("gen_late_max_ms", lateMax / 1e6)
    out.num("gen_interval_ms", intervalNs / 1e6)
    // the stream-assembled part of the ledger (set-up folded batch 0)
    // equals a batch encode of the same vectors
    val (cents, codebook) = Similarity.loadIndexDef(spark, defPath, version)
    val ledger = spark.read.parquet(ledgerPath).filter(col("__bid") > 0).drop("__bid")
    val streamed = vectors(n0, n0 + generated.get * perBatch)
    val batch = Similarity.ivfpqEncode(streamed, "vec_id", "embedding", cents, codebook, M)
      .select(ledger.columns.toSeq.map(col): _*)
    val diff = Checks.rowDiff(ledger, batch)
    Seq(
      ("all_batches_searchable", confirmed.size == stamps.size,
        s"${confirmed.size} of ${stamps.size} in $cyclesRun cycles"),
      ("forgotten_never_returned", violations == 0, s"$violations hits on ${forgotten.size} ids"),
      ("ledger_equals_batch_encode", diff == 0, s"$diff differing rows"),
      ("forgets_ran", forgetsDone > 0, s"$forgetsDone forget sets"))
  }

  override def extra(out: Out): Unit = {
    val late = lateNs.synchronized(lateNs.toSeq)
    out.num("gen.late_ms", if (late.isEmpty) 0.0 else late.sum / 1e6 / late.length)
    out.num("streaming.backlog_files", backlog.toDouble / math.max(1, cyclesRun))
    out.arr("cycle_start_s", cycleLog.map(_._1).toSeq)
    out.arr("cycle_s", cycleLog.map(_._2).toSeq)
    out.arr("cycle_rows", cycleLog.map(_._3.toDouble).toSeq)
    stepNs.foreach { case (k, v) => out.num(s"cycle_${k}_s", v / 1e9 / math.max(1, cyclesRun)) }
  }

  /** One set-up: in a fresh JVM it costs 20–40 s (train, fold and
    * promote 20k vectors), and a second would not fit the comparison's
    * time budget. */
  override def reps: Int = 1
}

object IndexIngest {
  /** How long past the schedule a phase may wait for its last batch. */
  val DrainLimitNs = 60L * 1000000000L
  /** Cells a probe searches. A stored vector lies in the cell of its
    * nearest centroid, which is the first cell its own search probes;
    * the exact rerank over that cell then finds it. */
  val ProbeCells = 1
  /** The ingest stream's trigger interval. */
  val TriggerMs = 250L
  /** Cycles per compaction. */
  val CompactEvery = 2
  /** The index definition is trained on every `TrainEvery`-th vector. */
  val TrainEvery = 5
}
