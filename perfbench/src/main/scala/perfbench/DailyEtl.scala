package perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Learn, Quality, Reshape}
import graft.pipelines.Medallion
import graft.sources.Lake

/** `daily_etl`: batches back to back. Each batch is one seeded slice (a
  * day range of reviews plus a hash shard of documents) and runs the
  * medallion build into a fresh lake root, then the curation chain:
  * quality checks, MinHash and SimHash near-duplicates, star connected
  * components, the quality classifier, and a manifest (kept documents
  * per source and language, pivoted) written through `Lake.write`. */
final class DailyEtl(spark: SparkSession, in: JsonNode) extends Workload {
  private val slices = In.objs(in.get("slices"))
  private var batches = 0
  private var consumedBytes = 0L
  private var candidates = 0L
  private var verified = 0L
  private var learnIters = 0L
  private val firstRoot = scala.collection.mutable.Map.empty[Int, String]

  private def sliceBytes(s: JsonNode): Long =
    Option(new File(s.get("dir").asText).listFiles()).toSeq.flatten.map(_.length).sum

  /** Set-up opens every slice's tables (schema and file listing). */
  def setup(rep: Int): Unit = {
    new File(s"lake/setup$rep").mkdirs()
    slices.foreach { s =>
      val dir = s.get("dir").asText
      Seq("orders", "customer", "documents").foreach { t =>
        Trace.span("sources", "Tables.load")(Tables.load(spark, dir, t)).schema
      }
    }
  }

  def prepare(): Unit = ()

  def inputBytes: Long = consumedBytes

  /** One batch; returns (ok, input rows). */
  private def batch(s: JsonNode, root: String): (Boolean, Long) = {
    val dir = s.get("dir").asText
    val mart = Trace.span("pipelines", "Medallion.run")(Medallion.run(spark, dir, root))
    val docs = Trace.span("sources", "Tables.load")(Tables.load(spark, dir, "documents"))
    val pkBad = Trace.span("dedup", "Quality.pkViolations")(
      Quality.pkViolations(docs, Seq("doc_id")))
    val mh = Trace.span("dedup", "Dedup.minhashPairs") {
      Dedup.minhashPairs(docs, col("doc_id"), col("text"))
        .select("id_a", "id_b").localCheckpoint()
    }
    val sh = Trace.span("dedup", "Dedup.simhashNearDups60") {
      Dedup.simhashNearDups60(docs, col("doc_id"), col("text"))
        .select("id_a", "id_b").localCheckpoint()
    }
    val pairs = mh.union(sh).distinct()
    val cc = Trace.span("dedup", "Dedup.connectedComponentsStar")(
      Dedup.connectedComponentsStar(pairs)).localCheckpoint()
    val (_, _, _, weights) = Trace.span("learn", "Learn.qualityClassifier")(
      Learn.qualityClassifier(docs))
    // the manifest: kept documents per source, one column per language
    val kept = docs.join(cc, docs("doc_id") === cc("id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
    val manifest = Trace.span("relational", "Reshape.pivotMatrix")(
        Reshape.pivotMatrix(kept, col("source"), "lang", count(lit(1))))
      .crossJoin(weights.agg(count(lit(1)).as("n_weights")))
    Trace.span("sources", "Lake.write")(
      new Lake(spark, root).write(manifest, overwrite = true, "manifest"))
    val (martRows, manifestRows) = Trace.span("bench", "materialize") {
      (mart.collect().length, spark.read.parquet(s"$root/manifest").collect().length)
    }
    // untimed checks: planted near-duplicates (doc d and d-1 for
    // d % 10 == 9) share a component; the components are exactly the
    // connected components of the pairs; most pairs are planted ones.
    // The components are written next to the manifest for its oracle.
    check = () => Trace.span("bench", "check")(Trace.asRole(spark, "check") {
      val missed = Checks.plantedMissed(cc)
      val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val ccRows = cc.select("id", "component").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val off = Checks.componentsOff(pairRows, ccRows)
      val planted = pairRows.count(Checks.planted)
      cc.write.parquet(s"$root/check_cc")
      candidates += pairRows.length
      verified += mh.intersect(sh).count()
      learnIters += Learn.qualityIters
      Seq(("planted_pairs_joined", missed == 0, s"$missed planted pairs split"),
        ("components_equal_pair_closure", off == 0, s"$off ids off"),
        ("pairs_mostly_planted", Checks.mostlyPlanted(pairRows),
          s"$planted of ${pairRows.length} pairs planted"))
    })
    (pkBad == 0 && martRows > 0 && manifestRows > 0, s.get("rows").asLong)
  }

  private var check: () => Seq[(String, Boolean, String)] = () => Nil
  /** Curation checks over every batch: name -> (all passed, detail). */
  private val curation =
    scala.collection.mutable.LinkedHashMap.empty[String, (Boolean, String)]

  /** One batch over the next slice, with its untimed checks. */
  private def runOne(): Op = {
    val s = slices(batches % slices.length)
    val root = new File(s"lake/batch$batches").getAbsolutePath
    val ((ok, rows), ns) = Trace.root("batch")(batch(s, root))
    check().foreach { case (name, passed, detail) =>
      val (allPassed, d) = curation.getOrElse(name, (true, ""))
      curation(name) = (allPassed && passed,
        if (!passed && allPassed) s"batch $batches: $detail" else if (d.nonEmpty) d else detail)
    }
    firstRoot.getOrElseUpdate(s.get("id").asInt, root)
    consumedBytes += sliceBytes(s)
    batches += 1
    Op(ns / 1e6, rows, ok)
  }

  def runUntil(deadlineNs: Long, traced: Boolean): Seq[Op] = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    while (System.nanoTime() < deadlineNs) ops += runOne()
    ops.toSeq
  }

  def verify(out: Out): Seq[(String, Boolean, String)] = {
    firstRoot.foreach { case (id, root) =>
      out.oracle += ((s"mart$id", "etl_mart", slices(id).toString, root))
      out.oracle += ((s"manifest$id", "etl_manifest", slices(id).toString, root))
    }
    Seq(("batches_ran", batches > 0, s"$batches batches")) ++
      curation.toSeq.map { case (name, (passed, detail)) => (name, passed, detail) }
  }

  override def extra(out: Out): Unit = {
    out.num("dedup.candidate_pairs", candidates.toDouble / math.max(1, batches))
    out.num("dedup.verified_ratio",
      if (candidates > 0) verified.toDouble / candidates else 0.0)
    out.num("learn.iterations", learnIters.toDouble / math.max(1, batches))
  }

  /** The first batch in a JVM runs cold; a traced run compares warm ones. */
  override def warmForTrace(): Unit = runOne()
}
