package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 OPTIMIZATION pins: the restructured internals must be
  * value-identical to the forms they replaced —
  * [[graft.operators.Similarity.ivfpqTrainEncode]] (one shared
  * residual pass) vs the two-call train-then-encode form;
  * [[graft.operators.Learn.logisticTrain]] partition-invariance (the
  * training relation is now hash-partitioned by id before its one
  * materialization); and [[graft.Par]]'s ordering/failure contract
  * (the lifecycle queries and maintenance operators now overlap
  * independent branches with it). */
class Round21Spec extends GraftSuite {

  import graft.operators.{Learn, Similarity}

  private def rowsEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  // --------------------------- ivfpqTrainEncode == train + encode

  test("ivfpqTrainEncode equals the two-call train/encode form " +
    "on cents, codebook, and encoded rows") {
    val lake = Similarity.hashBlobLake(spark, 500L)
      .localCheckpoint(true)
    val (c1, cb1) = Similarity.ivfpqTrain(lake, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, coarseIters = 1, pqIters = 1)
    val e1 = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      c1, cb1, 8)
    val (c2, cb2, e2) = Similarity.ivfpqTrainEncode(lake, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16,
      coarseIters = 1, pqIters = 1)
    assert(rowsEqual(c1, c2), "centroids diverged")
    assert(rowsEqual(cb1, cb2), "codebook diverged")
    assert(rowsEqual(e1, e2), "encoded state diverged")
  }

  test("ivfpqTrainEncode untrained path (coarseIters=0, pqIters=0) " +
    "equals the two-call form too") {
    val lake = Similarity.hashBlobLake(spark, 300L)
      .localCheckpoint(true)
    val (c1, cb1) = Similarity.ivfpqTrain(lake, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16)
    val e1 = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      c1, cb1, 8)
    val (c2, cb2, e2) = Similarity.ivfpqTrainEncode(lake, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16)
    assert(rowsEqual(c1, c2) && rowsEqual(cb1, cb2) &&
      rowsEqual(e1, e2))
  }

  // --------------------------- logisticTrain partition invariance

  test("logisticTrain weights are invariant to the input feature " +
    "relation's partitioning (the by-id materialization is a layout " +
    "change, not a numeric one)") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("alpha beta w"), col("id"), lit(" gamma")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"))
    val feat = Learn.features(docs, col("doc_id"), col("text"), 512)
    val labels = docs.select(col("doc_id").as("id"),
      when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y"))
    val w1 = Learn.logisticTrain(feat.repartition(7), labels,
      iters = 3, lr = 2.0)
    val w2 = Learn.logisticTrain(feat.coalesce(1), labels,
      iters = 3, lr = 2.0)
    assert(rowsEqual(w1, w2),
      "weights changed under input partitioning")
  }

  // --------------------------- Par: ordering + failure contract

  test("Par.run returns results in input order whatever the " +
    "completion order") {
    val out = Par.run((0 until 8).map { i => () =>
      Thread.sleep((8 - i) * 20L); i * 10
    })
    assert(out == (0 until 8).map(_ * 10))
  }

  test("Par.run propagates the first failure") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.run[Int](Seq(
        () => 1,
        () => throw new IllegalStateException("boom"),
        () => 3,
        () => { Thread.sleep(300); siblingDone.set(true); 4 }))
    }
    assert(e.getMessage == "boom")
    assert(siblingDone.get,
      "the failure surfaced while a sibling thunk was still running")
  }

  test("Pipelines.runWaves lets a failing wave's siblings finish, " +
    "then propagates the failure and starts no later wave") {
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val laterRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val deps = Map("a" -> Seq.empty[String], "b" -> Seq.empty[String],
      "c" -> Seq("a", "b"))
    val e = intercept[IllegalStateException] {
      graft.pipelines.Pipelines.runWaves[String](Seq("a", "b", "c"),
        identity, deps, "test") {
        case "a" => throw new IllegalStateException("build a failed")
        case "b" => Thread.sleep(300); siblingDone.set(true)
        case _ => laterRan.set(true)
      }
    }
    assert(e.getMessage == "build a failed")
    assert(siblingDone.get,
      "the failure surfaced while a sibling build was still running")
    assert(!laterRan.get)
  }

  test("Par.join2/join3 preserve branch typing and values") {
    val (a, b) = Par.join2({ Thread.sleep(30); "left" }, 42L)
    assert(a == "left" && b == 42L)
    val (x, y, z) = Par.join3(1, "two", Seq(3))
    assert(x == 1 && y == "two" && z == Seq(3))
  }

  // --------------------------- concurrent Spark actions stay correct

  test("independent Spark actions under Par produce the same values " +
    "as sequential execution") {
    val lake = Similarity.hashBlobLake(spark, 400L)
      .localCheckpoint(true)
    val seqCounts = (0 until 4).map(i =>
      lake.filter(pmod(col("vec_id"), lit(4L)) === i.toLong).count())
    val parCounts = Par.run((0 until 4).map { i => () =>
      lake.filter(pmod(col("vec_id"), lit(4L)) === i.toLong).count()
    })
    assert(parCounts == seqCounts)
  }
}
