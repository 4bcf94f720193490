package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's engine-side program. `run.py` generates the seeded
  * inputs, starts this main in a fresh per-run directory and checks what
  * it writes:
  *
  * {{{
  * perfbench.Main <workload> <inputs.json> <out.json> <seconds> <trace 0|1>
  * }}}
  *
  * The main builds the session, times set-up, warms up, runs the timed
  * window (untraced, or an untraced then a traced phase), verifies, and
  * writes one JSON document of raw measurements to `out.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputsPath, outPath, secondsS, traceS) = args
    val inputs = new ObjectMapper().readTree(new File(inputsPath))
    val cpus = inputs.get("cpus").asInt()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      // the status store keeps finished jobs and queries on the heap;
      // bounded, so heap_peak_mb measures the engine, not run length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out = new Out
    out.num("session_s", sessionS)
    val w: Workload = workload match {
      case "mart_reads" => new MartReads(spark, inputs)
      case "daily_etl" => new DailyEtl(spark, inputs)
      case "ann_search" => new AnnSearch(spark, inputs)
      case "index_ingest" => new IndexIngest(spark, inputs)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      Harness.run(spark, w, out, secondsS.toDouble, traceS == "1", sessionS)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.str("fatal", s"${e.getClass.getName}: ${e.getMessage}")
    }
    Files.write(Paths.get(outPath), out.render.getBytes(StandardCharsets.UTF_8))
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.stop()
  }
}

/** One operation's outcome: latency, input rows it completed, and whether
  * its output passed the workload's in-program check. */
final case class Op(ms: Double, rows: Long, ok: Boolean, recall: Double = 1.0)

/** A workload: set-up into fresh roots, an untimed warm-up/verification
  * pass, and a timed phase that runs until the deadline. */
trait Workload {
  /** Workload set-up; called once per repetition, each into fresh roots. */
  def setup(rep: Int): Unit
  /** Untimed preparation after set-up (exact twins, warm-up). */
  def prepare(): Unit
  /** Run operations until `deadlineNs`; returns the completed operations. */
  def runUntil(deadlineNs: Long, traced: Boolean): Seq[Op]
  /** Untimed output checks after the window: (name, ok, detail). */
  def verify(out: Out): Seq[(String, Boolean, String)]
  /** Bytes of input the workload consumed (for write amplification). */
  def inputBytes: Long
  /** Workload-specific numbers for the human-readable report. */
  def extra(out: Out): Unit = ()
  /** Set-up repetitions in an untraced run; setup_s takes their median. */
  def reps: Int = 3
  /** Before a traced run's reference phase: bring the workload to the
    * state its two phases should share, so trace.overhead compares like
    * with like. */
  def warmForTrace(): Unit = ()
}

object Harness {
  def run(spark: SparkSession, w: Workload, out: Out, seconds: Double,
          traced: Boolean, sessionS: Double): Unit = {
    // set-up repeats for setup_s, which a traced run does not report
    val setups = (0 until (if (traced) 1 else w.reps)).map { rep =>
      val root = new File(s"lake/setup$rep")
      require(!root.exists(), s"set-up root ${root.getPath} is not empty")
      val bytes0 = Trace.Writes.bytes.sum
      val t = System.nanoTime()
      w.setup(rep)
      ((System.nanoTime() - t) / 1e9, Trace.Writes.bytes.sum - bytes0)
    }
    out.arr("setup_reps_s", setups.map(_._1))
    out.num("setup_s", sessionS + Stats.median(setups.map(_._1)))
    val setupBytes = setups.last._2
    val tPrep = System.nanoTime()
    w.prepare()
    out.num("prepare_s", (System.nanoTime() - tPrep) / 1e9)
    val heap0 = Trace.Jvm.oldGenAfterGcMb()
    val bytes0 = Trace.Writes.bytes.sum
    val windowNs = (seconds * 1e9).toLong
    val ops: Seq[Op] =
      if (!traced) {
        val t = System.nanoTime()
        val r = w.runUntil(t + windowNs, traced = false)
        out.num("window_s", (System.nanoTime() - t) / 1e9)
        r
      } else {
        // an untraced reference phase, then the traced phase, each half
        // the window over the same operation mix: their latency ratio is
        // trace.overhead
        w.warmForTrace()
        Trace.takeRoots()
        val t = System.nanoTime()
        val ref = w.runUntil(t + windowNs / 2, traced = false)
        val refRoots = Trace.takeRoots()
        Trace.start()
        val t1 = System.nanoTime()
        val r = w.runUntil(t1 + windowNs / 2, traced = true)
        val wallS = (System.nanoTime() - t1) / 1e9
        Trace.stop()
        val tracedRoots = Trace.takeRoots()
        out.num("window_s", wallS)
        // attribution sanity: the listeners saw every job the scheduler
        // numbered, each job fell in a span, and each kind of operation
        // took as long under its root span as without tracing
        val scheduled = Trace.schedulerJobs1 - Trace.schedulerJobs0
        val seen = Trace.attributedJobs + Trace.unattributedJobs.sum
        val dev = Checks.rootDeviation(refRoots, tracedRoots)
        out.checks += (("trace:jobs_match_scheduler", Checks.jobsAddUp(
          Trace.attributedJobs, Trace.unattributedJobs.sum, scheduled),
          s"$seen seen, $scheduled scheduled"))
        out.checks += (("trace:all_jobs_attributed", Checks.allAttributed(Trace.unattributedJobs.sum),
          s"${Trace.unattributedJobs.sum} unattributed"))
        out.checks += (("trace:roots_match_untraced",
          dev.exists(_ <= Checks.RootTolerance),
          s"worst kind off by ${dev.getOrElse(Double.NaN)}"))
        val ext = mutable.Map.empty[String, Double]
        w.extra(out)
        out.nums.foreach { case (k, v) if k.contains('.') => ext(k) = v; case _ => }
        ext("trace.jobs_unaccounted") = (scheduled - seen).toDouble
        ext("trace.root_vs_untraced") = dev.getOrElse(Double.NaN)
        out.obj("trace", Trace.metrics(r.length, wallS,
          Stats.median(ref.map(_.ms)), Stats.median(r.map(_.ms)), ext.toMap))
        r
      }
    val heap1 = Trace.Jvm.oldGenAfterGcMb()
    out.num("heap_peak_mb", math.max(heap0, heap1))
    out.num("written_bytes", (setupBytes + Trace.Writes.bytes.sum - bytes0).toDouble)
    out.num("input_bytes", w.inputBytes.toDouble)
    out.arr("latencies_ms", ops.map(_.ms))
    out.arr("rows", ops.map(_.rows.toDouble))
    out.arr("recalls", ops.map(_.recall))
    out.num("ops_failed", ops.count(!_.ok).toDouble)
    val tVerify = System.nanoTime()
    val checks = w.verify(out)
    out.num("verify_s", (System.nanoTime() - tVerify) / 1e9)
    out.checks ++= checks
    if (!traced) w.extra(out)
  }
}

/** Reach the listener bus, so traced numbers include every event. */
object Bus {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  def jobsSubmitted(spark: SparkSession): Long =
    org.apache.spark.PerfbenchBus.jobsSubmitted(spark.sparkContext)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Order-insensitive digest of collected rows. */
object Digest {
  def of(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Helpers over the JSON inputs. */
object In {
  def ints(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
  def objs(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

/** A minimal JSON document builder for the measurements file. */
final class Out {
  val nums = mutable.LinkedHashMap.empty[String, Double]
  private val strs = mutable.LinkedHashMap.empty[String, String]
  private val arrs = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val objs = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Results handed to run.py's oracle: (name, kind, params JSON, path). */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String, String)]

  def num(k: String, v: Double): Unit = nums(k) = v
  def str(k: String, v: String): Unit = strs(k) = v
  def arr(k: String, v: Seq[Double]): Unit = arrs(k) = v
  def obj(k: String, v: Map[String, Double]): Unit = objs(k) = v

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def n(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def render: String = {
    val parts = mutable.ArrayBuffer.empty[String]
    nums.foreach { case (k, v) => parts += s"${q(k)}: ${n(v)}" }
    strs.foreach { case (k, v) => parts += s"${q(k)}: ${q(v)}" }
    arrs.foreach { case (k, v) => parts += s"${q(k)}: [${v.map(n).mkString(", ")}]" }
    objs.foreach { case (k, v) =>
      parts += s"${q(k)}: {${v.toSeq.sortBy(_._1).map { case (a, b) => s"${q(a)}: ${n(b)}" }.mkString(", ")}}"
    }
    parts += "\"checks\": [" + checks.map { case (name, ok, d) =>
      s"{${q("name")}: ${q(name)}, ${q("ok")}: $ok, ${q("detail")}: ${q(d)}}"
    }.mkString(", ") + "]"
    parts += "\"oracle\": [" + oracle.map { case (name, kind, params, path) =>
      s"{${q("name")}: ${q(name)}, ${q("kind")}: ${q(kind)}, ${q("params")}: $params, ${q("path")}: ${q(path)}}"
    }.mkString(", ") + "]"
    parts.mkString("{\n", ",\n", "\n}\n")
  }
}

/** Closed-loop driver shared by the request workloads. */
object Loop {
  /** `clients` threads each run `op(client, i)` until the deadline. */
  def closed(clients: Int, deadlineNs: Long)(op: (Int, Int) => Op): Seq[Op] = {
    val results = java.util.Collections.synchronizedList(new java.util.ArrayList[Op]())
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadlineNs) {
          results.add(op(c, counter.getAndIncrement()))
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    results.asScala.toSeq
  }

  def collect(df: DataFrame): Array[Row] =
    Trace.span("bench", "materialize")(df.collect())
}
