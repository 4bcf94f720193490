package perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsofJoin, Reshape}
import graft.pipelines.{Gmaps, Medallion}
import graft.sources.Lake

/** `mart_reads`: a closed loop of seeded analyst queries over the
  * warehouse that set-up builds with `Medallion.run`, and over the source
  * tables. Each distinct request runs once untimed first; that result is
  * what the oracle checks, and every timed run of the request must return
  * the same rows. */
final class MartReads(spark: SparkSession, in: JsonNode) extends Workload {
  private val data = in.get("data").asText
  private val pool = In.objs(in.get("requests"))
  private val order = In.ints(in.get("order")).map(_.toInt)
  private val clients = in.get("clients").asInt
  private var root: String = _
  private val digests = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def setup(rep: Int): Unit = {
    root = new File(s"lake/setup$rep").getAbsolutePath
    Trace.span("pipelines", "Medallion.run")(Medallion.run(spark, data, root))
  }

  def inputBytes: Long =
    Seq("orders", "customer").map(t => new File(s"$data/$t.parquet").length).sum

  private def load(name: String): DataFrame =
    Trace.span("sources", "Tables.load")(Tables.load(spark, data, name))

  private def dayLit(d: Long) = date_add(lit("1992-01-01").cast("date"), d.toInt)

  /** The request's plan; construction only, no action. */
  def build(r: JsonNode): DataFrame = r.get("kind").asText match {
    case "flagship" =>
      val lake = new Lake(spark, root)
      val (fact, places, time) = Trace.span("sources", "Lake.read") {
        (lake.read("fact", "reviews"), lake.read("dim", "places"),
          lake.read("dim", "time"))
      }
      val d0 = r.get("d0").asLong; val d1 = r.get("d1").asLong
      val p = places.filter(col("segment") === r.get("segment").asText)
        .select(col("place_id"), col("place_name"),
          col("segment").as("main_category"), lit("TW").as("city"),
          lit("north").as("region"),
          (col("place_id") % 90).cast("double").as("latitude"),
          (col("place_id") % 180).cast("double").as("longitude"))
      val f = fact
        .filter(col("published_at") >= dayLit(d0) && col("published_at") < dayLit(d1))
        .join(p.select("place_id", "place_name"), Seq("place_id"))
        .select(col("review_id"), col("place_name"), col("published_at"),
          col("rating_raw").as("rating"))
      Trace.span("pipelines", "Gmaps.martReviewTrends")(
        Gmaps.martReviewTrends(f, p, time.select("date", "year", "month", "quarter")))
    case "window_topk" =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      load("orders")
        .filter(col("o_custkey") >= r.get("c0").asLong && col("o_custkey") < r.get("c1").asLong)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= r.get("k").asInt)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    case "asof" =>
      val e = load("events")
        .filter(col("user_id") >= r.get("u0").asLong && col("user_id") < r.get("u1").asLong)
        .select("event_id", "user_id", "ts")
      val o = load("orders").groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("last_order_price"))
      Trace.span("relational", "AsofJoin.backward") {
        AsofJoin.backward(e, "user_id", "ts", o, "o_custkey", "o_orderdate",
          Seq("last_order_price"))
      }.select("event_id", "user_id", "last_order_price")
    case "sessionize" =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      load("events")
        .filter(col("user_id") >= r.get("u0").asLong && col("user_id") < r.get("u1").asLong)
        .withColumn("prev_sec", lag(unix_timestamp(col("ts")), 1).over(byUser))
        .withColumn("new_session", when(col("prev_sec").isNull ||
          unix_timestamp(col("ts")) - col("prev_sec") > r.get("gap").asLong, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
    case "melt" =>
      val li = load("lineitem")
        .filter(col("l_orderkey") >= r.get("k0").asLong && col("l_orderkey") < r.get("k1").asLong)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax")
      Trace.span("relational", "Reshape.melt") {
        Reshape.melt(li, Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), "measure", "value")
      }
    case "pivot" =>
      val e = load("events")
        .filter(col("user_id") >= r.get("u0").asLong && col("user_id") < r.get("u1").asLong)
        .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).cast("string").as("h"))
      Trace.span("relational", "Reshape.pivotMatrix") {
        Reshape.pivotMatrix(e, col("dow"), "h", count(lit(1)))
      }
  }

  /** One request: build, run to completion, compare with its first run. */
  private def request(r: JsonNode): Op = {
    val id = r.get("id").asInt
    val (rows, ns) = Trace.root(r.get("kind").asText) {
      Loop.collect(Trace.span("bench", "build")(build(r)))
    }
    val ok = Checks.sameRows(rows.toSeq, digests.get(id))
    Op(ns / 1e6, rows.length.toLong, ok)
  }

  def prepare(): Unit = {
    // every distinct request once: warms the plans and fixes the rows
    // the oracle checks
    pool.foreach { r =>
      val id = r.get("id").asInt
      val df = build(r)
      val path = new File(s"results/r$id").getAbsolutePath
      df.write.parquet(path)
      val rows = spark.read.parquet(path).collect()
      digests.put(id, Digest.of(rows.toSeq))
    }
  }

  /** Code paths keep getting faster over the first requests after the
    * prepare pass, so a traced run first issues every request once more. */
  override def warmForTrace(): Unit = pool.foreach(request)

  @volatile private var cursor = 0
  def runUntil(deadlineNs: Long, traced: Boolean): Seq[Op] = {
    val start = cursor
    val ops = Loop.closed(clients, deadlineNs) { (_, i) =>
      request(pool(order((start + i) % order.length)))
    }
    cursor = start + ops.length
    ops
  }

  def verify(out: Out): Seq[(String, Boolean, String)] = {
    pool.foreach { r =>
      val id = r.get("id").asInt
      out.oracle += ((s"r$id", r.get("kind").asText, r.toString,
        new File(s"results/r$id").getAbsolutePath))
    }
    out.oracle += (("warehouse", "warehouse", "{}", root))
    Seq.empty
  }
}
