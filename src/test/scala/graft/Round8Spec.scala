package graft

import org.apache.spark.sql.functions._
import graft.functions.ColFns
import graft.operators.{Dedup, GeoJoin}

/** Round-8 additions: antimeridian-wrapping grid geo join, automatic
  * CC degradation on adversarial chain graphs, streaming crash-resume.
  */
class Round8Spec extends GraftSuite {

  test("GeoJoin: grid path alone resolves pairs straddling the antimeridian") {
    import spark.implicits._
    // Right points hug BOTH sides of ±180°, but split by latitude band
    // so that every left point's true nearest neighbor is on the OTHER
    // side of the seam (same-side candidates are ≥ 2° of latitude away,
    // beyond the provable radius). exactFallback = false: a broken
    // (non-wrapping) cell mapping cannot hide behind the brute pass —
    // it would simply drop these rows.
    //   lat ∈ [0, 5]   → rights only at lng +179.9
    //   lat ∈ [−5, 0)  → rights only at lng −179.9
    val right = ((0 to 20).map(k => (1000L + k, 0.25 * k, 179.9)) ++
      (0 to 19).map(k => (2000L + k, -5.0 + 0.25 * k, -179.9))).toDF(
      "id", "lat", "lng")
    val left = ((0 until 20).map(i => (i.toLong, 0.2 + 0.22 * i, -179.95)) ++
      (100 until 120).map(i => (i.toLong, -4.9 + 0.22 * (i - 100), 179.95)) ++
      Seq((500L, 1.0, 180.0), (501L, -1.0, -180.0))).toDF("id", "lat", "lng")

    val gridOnly = GeoJoin.nearest(left, "id", "lat", "lng",
      right, "id", "lat", "lng", cellDeg = 0.5, maxAbsLatDeg = 6.0,
      exactFallback = false)
    // independent brute reference: full cross product + haversine argmin
    val brute = left.select(col("id"), col("lat").as("llat"),
        col("lng").as("llng"))
      .crossJoin(right.select(col("id").as("rid"), col("lat").as("rlat"),
        col("lng").as("rlng")))
      .withColumn("d", ColFns.haversineKm(col("llat"), col("llng"),
        col("rlat"), col("rlng")))
      .groupBy(col("id"))
      .agg(min(struct(col("d"), col("rid"))).as("b"))
      .select(col("id"), col("b.rid").as("nearest_id"),
        col("b.d").as("dist_km"))
    assert(gridOnly.count() === left.count(),
      "every straddling left point must resolve WITHOUT the brute fallback")
    assert(gridOnly.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(gridOnly).count() === 0L)
    // and every match genuinely crossed the seam: left and nearest
    // right sit on opposite signs of longitude (the two ±180.0 edge
    // probes are exempt — ±180 is the seam itself, so "crossing" is
    // not expressible as a sign flip for them)
    val crossed = gridOnly
      .filter(!col("id").isin(500L, 501L))
      .join(left.select(col("id"), col("lng").as("llng")), Seq("id"))
      .join(right.select(col("id").as("nearest_id"), col("lng").as("rlng")),
        Seq("nearest_id"))
      .filter(signum(col("llng")) === signum(col("rlng")))
    assert(crossed.count() === 0L)
  }

  test("GeoJoin: wrapped grid still equals brute on non-straddling data") {
    import spark.implicits._
    // regression guard for the modular-cell rewrite: ordinary mid-range
    // longitudes (the Taiwan domain) must be byte-identical to brute
    val left = (0 until 30).map(i =>
      (i.toLong, 21.9 + 0.1 * (i % 30), 120.0 + 0.07 * i)).toDF(
      "id", "lat", "lng")
    val right = (0 until 7).map(k =>
      (10L + k, 22.0 + 0.5 * k, 120.1 + 0.3 * k)).toDF("id", "lat", "lng")
    val grid = GeoJoin.nearest(left, "id", "lat", "lng",
      right, "id", "lat", "lng", cellDeg = 0.5, maxAbsLatDeg = 26.0)
    val brute = left.select(col("id"), col("lat").as("llat"),
        col("lng").as("llng"))
      .crossJoin(right.select(col("id").as("rid"), col("lat").as("rlat"),
        col("lng").as("rlng")))
      .withColumn("d", ColFns.haversineKm(col("llat"), col("llng"),
        col("rlat"), col("rlng")))
      .groupBy(col("id"))
      .agg(min(struct(col("d"), col("rid"))).as("b"))
      .select(col("id"), col("b.rid").as("nearest_id"),
        col("b.d").as("dist_km"))
    assert(grid.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(grid).count() === 0L)
  }

  test("connectedComponentsAuto: a 1k-node chain degrades to star CC, no throw") {
    import spark.implicits._
    // the adversarial shape for min-label propagation: one 1000-node
    // path, diameter 999 ≫ maxIter. The x22 query path (pairs → auto
    // CC → per-component rollup) must degrade to large-star/small-star
    // and still produce the single correct component.
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val rollup = Dedup.connectedComponentsAuto(chain, maxIter = 5)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("canonical_id"))
      .collect()
    assert(rollup.length === 1)
    assert(rollup.head.getLong(0) === 0L)   // component label = min id
    assert(rollup.head.getLong(1) === 1000L)
    assert(rollup.head.getLong(2) === 0L)
  }

  test("streaming crash-resume: restart from checkpoint equals uninterrupted run") {
    import java.io.File
    import org.apache.commons.io.FileUtils
    import graft.streaming.Streams
    val base = graft.sources.ScratchRoot.path(s"st_resume_${System.nanoTime()}")
    def dirOf(n: String) = { val f = new File(s"$base/$n"); f.mkdirs(); f }
    // events split into three staged drop files (the multi-day ingest)
    val ev = Tables.load(spark, SparkTestBase.sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val stageU = dirOf("u_stage"); val stageI = dirOf("i_stage")
    def stage(to: File, part: Int, name: String): Unit =
      ev.filter(pmod(col("event_id"), lit(3)) === part)
        .select(col("event_type"), col("value"))
        .coalesce(1).write.mode("append").parquet(to.getAbsolutePath)
    (0 to 2).foreach(k => stage(stageU, k, s"f$k"))
    stage(stageI, 0, "f0")

    def ledger(p: String) = spark.read.parquet(p)
      .select(col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))

    // uninterrupted reference: all three files, one pass
    val ledU = s"$base/u_ledger"
    Streams.incrementalRollupPass(spark, stageU.getAbsolutePath,
      ledU, s"$base/u_ckpt")

    // interrupted run: pass 1 sees only file 0, then the query "dies"
    // (checkpoint + ledger retained), files 1-2 land, pass 2 RESUMES
    val ledI = s"$base/i_ledger"
    Streams.incrementalRollupPass(spark, stageI.getAbsolutePath,
      ledI, s"$base/i_ckpt")
    val afterKill = ledger(ledI).agg(sum(col("n_events"))).head().getLong(0)
    val file0Rows = ev.filter(pmod(col("event_id"), lit(3)) === 0).count()
    assert(afterKill === file0Rows, "pass 1 must have folded file 0 only")
    (1 to 2).foreach(k => stage(stageI, k, s"f$k"))
    Streams.incrementalRollupPass(spark, stageI.getAbsolutePath,
      ledI, s"$base/i_ckpt")

    // resumed final state ≡ uninterrupted ≡ the batch truth
    val truth = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
    assert(ledger(ledI).exceptAll(ledger(ledU)).count() === 0L)
    assert(ledger(ledU).exceptAll(ledger(ledI)).count() === 0L)
    assert(ledger(ledI).exceptAll(truth).count() === 0L)
    assert(truth.exceptAll(ledger(ledI)).count() === 0L)

    // exactly-once through the ledger: force a FULL REPLAY (same
    // ledger, fresh checkpoint — every file re-delivered as batches
    // 0..2). The __last_batch guard must skip them all; without it
    // this would double every count.
    Streams.incrementalRollupPass(spark, stageI.getAbsolutePath,
      ledI, s"$base/i_ckpt_replay")
    assert(ledger(ledI).exceptAll(truth).count() === 0L)
    assert(truth.exceptAll(ledger(ledI)).count() === 0L)
    FileUtils.deleteQuietly(new File(base))
  }

  test("connectedComponentsAuto: shallow graphs still take the propagation path") {
    import spark.implicits._
    // two stars + a singleton pair — converges well inside maxIter, so
    // auto must return the min-label result (identical to the direct
    // call, which would throw if it had not converged)
    val pairs = Seq((1L, 5L), (1L, 7L), (2L, 9L), (2L, 4L), (11L, 12L))
      .toDF("id_a", "id_b")
    val auto = Dedup.connectedComponentsAuto(pairs)
    val direct = Dedup.connectedComponents(pairs)
    assert(auto.exceptAll(direct).count() === 0L)
    assert(direct.exceptAll(auto).count() === 0L)
  }
}
