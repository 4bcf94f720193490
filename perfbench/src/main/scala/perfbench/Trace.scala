package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine's layers, plus the
  * listeners that attribute Spark work to them.
  *
  * A span is opened with [[span]] around one call into a layer. While it
  * is open, the Spark local property [[SpanProp]] names it, so every job
  * submitted from the calling thread (and from threads it creates, such as
  * `graft.Par`'s pool, which inherit local properties) is attributed to
  * the innermost open span. Self time is a span's duration minus the
  * durations of its child spans on the same thread.
  *
  * When tracing is off, [[span]] only runs its body; the always-on
  * [[Writes]] listener still counts the bytes tasks write, which the
  * untraced `write_amp` metric needs.
  */
object Trace {
  val SpanProp = "perfbench.span"
  val RoleProp = "perfbench.role"

  val layers: Seq[String] = Seq("sources", "versioned", "pipelines",
    "relational", "dedup", "learn", "similarity", "streaming", "plans",
    "exec", "jvm", "gen", "bench")

  @volatile var enabled = false
  @volatile private var spark: SparkSession = _

  final class Span(val id: Long, val layer: String, val name: String,
                   val kind: String, val parent: Span, val start: Long) {
    var childNs = 0L
    var durNs = 0L
  }

  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val spanLayer = new ConcurrentHashMap[String, String]()

  final class LayerAcc {
    val calls = new LongAdder
    val selfNs = new LongAdder
    val jobs = new LongAdder
    val kindNs = new ConcurrentHashMap[String, LongAdder]()
  }
  val acc: Map[String, LayerAcc] = layers.map(_ -> new LayerAcc).toMap
  val unattributedJobs = new LongAdder

  /** Operation durations by root name: the root span's duration while
    * tracing, the latency measured around the call otherwise. */
  private val roots = new ConcurrentHashMap[String, java.util.Queue[java.lang.Long]]()
  private val lastRootNs = new ThreadLocal[java.lang.Long]
  /** DAG scheduler job count when tracing started and stopped. */
  @volatile var schedulerJobs0 = 0L
  @volatile var schedulerJobs1 = 0L

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(Writes)
  }

  /** Start attributing: register the tracing listeners. The workload
    * is idle here, so every job the scheduler numbers from now on posts
    * its start to these listeners. */
  def start(): Unit = {
    Bus.drain(spark)
    schedulerJobs0 = Bus.jobsSubmitted(spark)
    enabled = true
    spark.sparkContext.addSparkListener(Exec)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streaming)
    Jvm.mark()
  }

  def stop(): Unit = {
    schedulerJobs1 = Bus.jobsSubmitted(spark)
    Bus.drain(spark)
    Jvm.sample()
    spark.sparkContext.removeSparkListener(Exec)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streaming)
    enabled = false
  }

  /** Run `body` as one call into `layer`. `kind` tags sub-kinds such as
    * versioned reads and writes. */
  def span[A](layer: String, name: String, kind: String = "")(body: => A): A = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parents = stack.get()
    val s = new Span(nextId.getAndIncrement(), layer, name, kind,
      parents.headOption.orNull, System.nanoTime())
    val key = s.id.toString
    spanLayer.put(key, layer)
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, key)
    stack.set(s :: parents)
    try body
    finally {
      s.durNs = System.nanoTime() - s.start
      stack.set(parents)
      sc.setLocalProperty(SpanProp, prevProp)
      val self = s.durNs - s.childNs
      val a = acc(layer)
      a.calls.increment(); a.selfNs.add(self)
      if (kind.nonEmpty)
        a.kindNs.computeIfAbsent(kind, _ => new LongAdder).add(s.durNs)
      if (s.parent != null) s.parent.childNs += s.durNs
      else lastRootNs.set(s.durNs)
    }
  }

  /** One operation: a root span named by the operation's kind. Returns
    * the result and the latency measured around the call. */
  def root[A](name: String)(body: => A): (A, Long) = {
    val wasEnabled = enabled
    lastRootNs.remove()
    val t0 = System.nanoTime()
    val r = span("bench", name)(body)
    val ns = System.nanoTime() - t0
    val spanNs: Long = Option(lastRootNs.get()).filter(_ => wasEnabled)
      .map(_.longValue).getOrElse(ns)
    roots.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]())
      .add(spanNs)
    (r, ns)
  }

  /** The operation durations recorded since the last call, by kind. */
  def takeRoots(): Map[String, Seq[Long]] = {
    val m = roots.asScala.map { case (k, q) => k -> q.asScala.map(_.longValue).toSeq }.toMap
    roots.clear()
    m
  }

  /** Bytes written by tasks of the workload; always on. Jobs that
    * [[RoleProp]] marks as the generator's (`gen`) or the output checks'
    * (`check`) do not count. */
  object Writes extends SparkListener {
    val bytes = new LongAdder
    private val roleStages = ConcurrentHashMap.newKeySet[Int]()
    def benchOwned(stageId: Int): Boolean = roleStages.contains(stageId)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(p => p.getProperty(RoleProp) != null))
        e.stageIds.foreach(roleStages.add)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      if (!roleStages.contains(info.stageId) && info.taskMetrics != null)
        bytes.add(info.taskMetrics.outputMetrics.bytesWritten)
    }
  }

  /** Run `body` as the benchmark's own work of `role` (`gen`, `check`):
    * the bytes it writes are not the workload's. */
  def asRole[A](spark: SparkSession, role: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(RoleProp)
    sc.setLocalProperty(RoleProp, role)
    try body finally sc.setLocalProperty(RoleProp, prev)
  }

  /** The Spark engine underneath every layer. */
  object Exec extends SparkListener {
    val jobs = new LongAdder
    val stages = new LongAdder
    val tasks = new LongAdder
    val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder
    val spill = new LongAdder
    val cpuNs = new LongAdder
    val bytesRead = new LongAdder
    val bytesWritten = new LongAdder
    val jobSumNs = new LongAdder
    @volatile var worstSkew = 0.0
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    private val taskTimes = new ConcurrentHashMap[Int, java.util.List[java.lang.Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      jobStart.put(e.jobId, e.time)
      val key = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp)))
      key.flatMap(k => Option(spanLayer.get(k))) match {
        case Some(layer) => acc(layer).jobs.increment()
        case None => unattributedJobs.increment()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) {
        jobSumNs.add((e.time - s) * 1000000L)
        intervals.synchronized { intervals += ((s.longValue, e.time)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      if (e.taskInfo != null)
        taskTimes.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(
            new java.util.ArrayList[java.lang.Long]()))
          .add(e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.increment()
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        cpuNs.add(m.executorCpuTime)
        bytesRead.add(m.inputMetrics.bytesRead)
        if (!Writes.benchOwned(e.stageInfo.stageId))
          bytesWritten.add(m.outputMetrics.bytesWritten)
      }
      val ts = taskTimes.remove(e.stageInfo.stageId)
      if (ts != null && ts.size >= 2) {
        val sorted = ts.asScala.map(_.longValue).sorted
        val med = math.max(1L, sorted(sorted.length / 2))
        worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
      }
    }
    /** Milliseconds covered by the union of job intervals. */
    def unionMs: Long = intervals.synchronized {
      var total = 0L; var curS = -1L; var curE = -1L
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
  }

  /** Query planning and scan/write statistics, per QueryExecution. */
  object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val executions = new LongAdder
    val planNs = new LongAdder
    val exchanges = new LongAdder
    val filesRead = new LongAdder
    val filesWritten = new LongAdder
    val bundleFilesRead = new LongAdder
    val bundleFilesTotal = new LongAdder
    val bundleRowsScanned = new LongAdder

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)

    private def record(qe: QueryExecution): Unit = {
      executions.increment()
      qe.tracker.phases.foreach { case (_, p) =>
        planNs.add((p.endTimeMs - p.startTimeMs) * 1000000L)
      }
      val plan: SparkPlan = qe.executedPlan
      exchanges.add(collect(plan) {
        case e: ShuffleExchangeLike => e
        case e: BroadcastExchangeLike => e
      }.size)
      foreach(plan) {
        case s: FileSourceScanExec =>
          val n = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          filesRead.add(n)
          if (s.relation.location.rootPaths.exists(
              _.toString.contains(Workloads.BundleMarker))) {
            bundleFilesRead.add(n)
            s.relation.location match {
              case l: PartitioningAwareFileIndex =>
                bundleFilesTotal.add(l.allFiles().size)
              case l => bundleFilesTotal.add(l.inputFiles.length)
            }
            bundleRowsScanned.add(s.metrics.get("numOutputRows")
              .map(_.value).getOrElse(0L))
          }
        case w: DataWritingCommandExec =>
          filesWritten.add(w.cmd.metrics.get("numFiles")
            .map(_.value).getOrElse(0L))
        case _ =>
      }
    }
  }

  /** Structured Streaming progress, split by phase. */
  object Streaming extends StreamingQueryListener {
    val batches = new LongAdder
    val phaseMs = new ConcurrentHashMap[String, LongAdder]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        batches.increment()
        p.durationMs.asScala.foreach { case (k, v) =>
          phaseMs.computeIfAbsent(k, _ => new LongAdder).add(v.longValue)
        }
      }
    }
    def phase(k: String): Long = Option(phaseMs.get(k)).map(_.sum).getOrElse(0L)
  }

  /** Garbage collection and old-generation heap after a full collection. */
  object Jvm {
    private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private var t0 = 0L; private var c0 = 0L
    @volatile var gcMs = 0L; @volatile var gcCount = 0L
    def mark(): Unit = { t0 = gcBeans.map(_.getCollectionTime).sum; c0 = gcBeans.map(_.getCollectionCount).sum }
    def sample(): Unit = {
      gcMs = gcBeans.map(_.getCollectionTime).sum - t0
      gcCount = gcBeans.map(_.getCollectionCount).sum - c0
    }
    /** Old-generation bytes in use right after full collections. */
    def oldGenAfterGcMb(): Double = {
      // the second collection frees what the first let Spark's
      // ContextCleaner release (broadcasts, shuffles, checkpoints)
      System.gc()
      Thread.sleep(300)
      System.gc()
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      pools.map(p => Option(p.getCollectionUsage).map(_.getUsed)
        .getOrElse(p.getUsage.getUsed)).sum / (1024.0 * 1024.0)
    }
  }

  /** Jobs attributed to the layers' spans. */
  def attributedJobs: Long = layers.map(l => acc(l).jobs.sum).sum

  /** Per-layer metrics, normalised per operation where additive. */
  def metrics(ops: Long, wallS: Double, untracedOpMs: Double,
              tracedOpMs: Double, extra: Map[String, Double]): Map[String, Double] = {
    val n = math.max(1L, ops).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    val spanLayers = layers.filterNot(l => l == "exec" || l == "jvm" || l == "plans")
    spanLayers.foreach { l =>
      val a = acc(l)
      m(s"$l.calls") = a.calls.sum / n
      m(s"$l.self_s") = a.selfNs.sum / 1e9 / n
      m(s"$l.jobs") = a.jobs.sum / n
    }
    val unionS = Exec.unionMs / 1000.0
    m("unattributed.jobs") = unattributedJobs.sum / n
    m("exec.calls") = Exec.jobs.sum / n
    m("exec.self_s") = Exec.jobSumNs.sum / 1e9 / n
    m("exec.jobs") = Exec.jobs.sum / n
    m("exec.stages") = Exec.stages.sum / n
    m("exec.tasks") = Exec.tasks.sum / n
    m("exec.job_busy_s") = unionS / n
    m("exec.driver_gap_s") = math.max(0.0, wallS - unionS) / n
    m("exec.concurrency") = if (unionS > 0) Exec.jobSumNs.sum / 1e9 / unionS else 0.0
    m("exec.shuffle_read_bytes") = Exec.shuffleRead.sum / n
    m("exec.shuffle_write_bytes") = Exec.shuffleWrite.sum / n
    m("exec.spill_bytes") = Exec.spill.sum / n
    m("exec.executor_cpu_s") = Exec.cpuNs.sum / 1e9 / n
    m("exec.task_skew") = Exec.worstSkew
    m("plans.calls") = Plans.executions.sum / n
    m("plans.self_s") = Plans.planNs.sum / 1e9 / n
    m("plans.jobs") = 0.0
    m("plans.plan_ms") = Plans.planNs.sum / 1e6 / n
    m("plans.exchanges") = Plans.exchanges.sum / n
    m("sources.bytes_read") = Exec.bytesRead.sum / n
    m("sources.files_read") = Plans.filesRead.sum / n
    m("sources.bytes_written") = Exec.bytesWritten.sum / n
    m("sources.files_written") = Plans.filesWritten.sum / n
    def kindS(l: String, k: String) =
      Option(acc(l).kindNs.get(k)).map(_.sum).getOrElse(0L) / 1e9 / n
    m("versioned.read_s") = kindS("versioned", "read")
    m("versioned.write_s") = kindS("versioned", "write")
    val bTotal = Plans.bundleFilesTotal.sum
    m("similarity.files_pruned_ratio") =
      if (bTotal > 0) 1.0 - Plans.bundleFilesRead.sum.toDouble / bTotal else 0.0
    m("streaming.batches") = Streaming.batches.sum / n
    val sb = math.max(1L, Streaming.batches.sum).toDouble
    m("streaming.add_batch_ms") = Streaming.phase("addBatch") / sb
    m("streaming.wal_commit_ms") = Streaming.phase("walCommit") / sb
    m("streaming.query_planning_ms") = Streaming.phase("queryPlanning") / sb
    m("streaming.latest_offset_ms") = Streaming.phase("latestOffset") / sb
    m("jvm.calls") = Jvm.gcCount / n
    m("jvm.self_s") = Jvm.gcMs / 1000.0 / n
    m("jvm.jobs") = 0.0
    m("jvm.gc_s") = Jvm.gcMs / 1000.0 / n
    m("trace.overhead") =
      if (untracedOpMs > 0) (tracedOpMs - untracedOpMs) / untracedOpMs else 0.0
    m("trace.ops") = ops.toDouble
    extra.foreach { case (k, v) => m(k) = v }
    m.toMap
  }

  /** Bundle rows scanned by searches, for rows_scored_per_result. */
  def bundleRowsScanned: Long = Plans.bundleRowsScanned.sum
}
