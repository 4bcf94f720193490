package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-13 OPTIMIZATION pins: the fused internals must be
  * value-identical to the forms they replaced —
  * [[graft.operators.Learn.features]]' doc-length window vs the old
  * aggregate-then-join form; [[graft.operators.Learn.logisticTrain]]'s
  * fused margin window vs the old score-then-join-back iteration;
  * [[graft.operators.Similarity.pqTopK]] invariance under input
  * partitioning (the codebook materialization is an evaluation-count
  * change, not a numeric one); and
  * [[graft.sources.VersionedState.readParts]] keeping [[read]]'s
  * fail-fast version contract while validating once per bundle. */
class Round22Spec extends GraftSuite {

  import graft.operators.{Learn, Similarity, TextOps}

  private def rowsEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private val dec = DecimalType(38, 12)

  private def docs200: DataFrame =
    spark.range(200).select(col("id").as("doc_id"),
      concat(lit("alpha beta w"), col("id"), lit(" gamma when"),
        pmod(col("id"), lit(7L))).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"))
      .localCheckpoint(true)

  // --------------------------- features: window == aggregate+join

  test("Learn.features doc-length window equals the old " +
    "aggregate-then-join form row for row") {
    val docs = docs200
    val got = Learn.features(docs, col("doc_id"), col("text"), 512)
    // the pre-round-13 form, verbatim: dl as a second aggregation
    // joined back by id
    val rawFeat = TextOps.dsirFeatures(docs, col("doc_id"),
        col("text"), lit(true), 512)
      .groupBy(col("id"), col("b")).agg(count(lit(1)).as("cnt"))
    val dl = rawFeat.groupBy(col("id")).agg(sum(col("cnt")).as("dl"))
    val old = rawFeat.join(dl, Seq("id"))
      .select(col("id"), col("b"),
        round(col("cnt") / col("dl"), 6).as("v"))
    assert(rowsEqual(got, old), "features diverged from the old form")
  }

  // --------------------- logisticTrain: fused window == join-back

  /** The pre-round-13 iteration, verbatim: margins aggregated to
    * (id, zd), scores joined BACK to the training relation by id. */
  private def logisticTrainJoinBack(feat: DataFrame, labels: DataFrame,
                                    iters: Int, lr: Double): DataFrame = {
    val biasDf = Learn.logisticBias(labels)
    val f = feat.join(labels, Seq("id"))
      .repartition(col("id")).localCheckpoint()
    val fm = f.groupBy(col("b")).agg(sum(col("v").cast(dec)).as("fm"))
      .localCheckpoint()
    var w: DataFrame = null
    for (_ <- 1 to iters) {
      val scored =
        if (w == null)
          f.crossJoin(broadcast(biasDf))
            .withColumn("p", round(lit(1.0d) /
              (lit(1.0d) + exp(-col("bias"))), 6))
        else {
          val z = f.join(broadcast(w), Seq("b"), "left")
            .withColumn("t",
              round(col("v") * coalesce(col("w"), lit(0.0d)), 12)
                .cast(dec))
            .groupBy(col("id")).agg(sum(col("t")).as("zd"))
            .crossJoin(broadcast(biasDf))
            .withColumn("p", round(lit(1.0d) /
              (lit(1.0d) + exp(-(col("bias") +
                col("zd").cast(DoubleType)))), 6))
            .select(col("id"), col("p"))
          f.join(z, Seq("id"))
        }
      val grad = scored
        .withColumn("g",
          round((col("p") - col("y")) * col("v"), 12).cast(dec))
        .groupBy(col("b")).agg(sum(col("g")).as("grad"))
      val prev =
        (if (w == null) grad.withColumn("w0", lit(0.0d))
         else grad.join(w.withColumnRenamed("w", "w0"), Seq("b"),
           "full_outer"))
          .join(fm, Seq("b"), "left")
      w = prev.select(col("b"),
          round(coalesce(col("w0"), lit(0.0d)) -
            lit(lr) * coalesce(col("grad").cast(DoubleType) /
              col("fm").cast(DoubleType), lit(0.0d)), 6)
            .as("w"))
        .localCheckpoint()
    }
    w
  }

  test("logisticTrain's fused margin window equals the old " +
    "score-then-join-back iteration on every weight") {
    val docs = docs200
    val feat = Learn.features(docs, col("doc_id"), col("text"), 512)
      .localCheckpoint(true)
    val labels = docs.select(col("doc_id").as("id"),
      when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y"))
      .localCheckpoint(true)
    val fused = Learn.logisticTrain(feat, labels, iters = 4, lr = 2.0)
    val joined = logisticTrainJoinBack(feat, labels, iters = 4,
      lr = 2.0)
    assert(rowsEqual(fused, joined),
      "fused-window weights diverged from the join-back form")
  }

  // ------------------------------ pqTopK partitioning invariance

  test("pqTopK results are invariant to corpus partitioning (the " +
    "codebook materialization changes evaluation count, not values)") {
    val lake = Similarity.hashBlobLake(spark, 300L)
      .localCheckpoint(true)
    val q = lake.filter(col("vec_id") < 8L)
    val r1 = Similarity.pqTopK(q, lake.repartition(13), "vec_id",
      "embedding", k = 5, m = 8, ksub = 16, trainIters = 1,
      rerank = 20)
    val r2 = Similarity.pqTopK(q, lake.coalesce(1), "vec_id",
      "embedding", k = 5, m = 8, ksub = 16, trainIters = 1,
      rerank = 20)
    assert(rowsEqual(r1, r2), "pqTopK changed under partitioning")
  }

  // ------------------------------ readParts: one gate, same contract

  test("VersionedState.readParts validates once per bundle and keeps " +
    "read's fail-fast version contract") {
    val dir = new java.io.File(graft.sources.ScratchRoot.path("r22_vs"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val path = dir.getAbsolutePath
    val a = spark.range(5).select(col("id").as("k"))
    val b = spark.range(3).select(col("id").as("n"))
    graft.sources.VersionedState.write(path, "v1", "pa" -> a, "pb" -> b)
    val ps = graft.sources.VersionedState.readParts(spark, path, "v1",
      "pa", "pb")
    assert(ps.length == 2)
    assert(ps(0).count() == 5L && ps(1).count() == 3L)
    assert(rowsEqual(ps(0),
      graft.sources.VersionedState.read(spark, path, "v1", "pa")))
    val e = intercept[IllegalArgumentException] {
      graft.sources.VersionedState.readParts(spark, path, "v2", "pa")
    }
    assert(e.getMessage.contains("v2"))
  }
}
