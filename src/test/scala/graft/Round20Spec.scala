package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 pins: probe-locality batching for the pruned search
  * (VERDICT r11 missing #2), the estate re-shard lifecycle
  * (missing #3), the pruning-degeneracy witnesses (wrong #3), and
  * the ADVICE-r11 fixes (boilerplate targetFrac plumbed through the
  * poll as the fire threshold; versionProbe robust at read time). */
class Round20Spec extends GraftSuite {

  import graft.operators.{Advisors, Similarity}
  import graft.sources.VersionedState
  import graft.streaming.Streams

  private def tmp(name: String): String = {
    val d = new java.io.File(graft.sources.ScratchRoot.path(name))
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getAbsolutePath
  }

  private def rowsEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** `body`'s result and the Spark jobs it fired. AQE is off so one
    * action is one job plus its broadcasts (the console-poll pattern);
    * counted per job group. */
  private def jobsOf[T](group: String)(body: => T): (T, Int) = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val out = try {
      spark.sparkContext.setJobGroup(group, group,
        interruptOnCancel = false)
      body
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    (out, spark.sparkContext.statusTracker
      .getJobIdsForGroup(group).length)
  }

  /** One cell-layout bundle of the n-row blob lake, fresh at `tag`. */
  private def bundleOf(n: Long, nlist: Int, m: Int, ksub: Int,
                       tag: String): (DataFrame, String, String) = {
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val v = Similarity.annIndexVersion(nlist, m, ksub)
    val p = tmp(tag)
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id", "embedding",
      nlist, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexCellLayout(p, v, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    (lake, p, v)
  }

  // --------------------------- probe-locality batched pruned search

  test("ivfpqSearchPrunedBatched row-equals the unbatched pruned " +
       "search on a union-saturating batch, with every sub-batch " +
       "union within budget and fewer sub-batches than queries") {
    val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
    val m = 8; val budget = 16
    val (lake, p, v) = bundleOf(n, nlist, m, 16, "r20_batched")
    val (cents, codebook, enc) =
      Similarity.loadIndexCellLayout(spark, p, v)
    // 4 queries from each of 12 clusters (cluster = id mod 64 by
    // the lake recipe): broad enough to saturate one union, local
    // enough that packing wins
    val q = lake.filter(pmod(col("vec_id"), lit(64L)) < 12 &&
      col("vec_id") < 256).localCheckpoint(true)
    val rr = Similarity.rerankFor(n, nlist, nprobe)
    val (cellsU, unbatched) = Similarity.ivfpqSearchPruned(q,
      "vec_id", "embedding", enc, cents, codebook, k, nprobe, m,
      rerank = rr, rerankSource = Some(lake))
    // the degeneracy this operator exists for: the single union
    // saturates (>80% of nlist read by the "pruned" scan)
    assert(cellsU.length > (0.8 * nlist).toInt,
      s"fixture no longer saturates: ${cellsU.length} of $nlist")
    val (subCells, batched) = Similarity.ivfpqSearchPrunedBatched(q,
      "vec_id", "embedding", enc, cents, codebook, k, nprobe, m,
      rerank = rr, rerankSource = Some(lake), cellBudget = budget)
    assert(subCells.nonEmpty && subCells.forall(_.length <= budget))
    assert(subCells.length < 48,
      s"packing degenerated to one query per sub-batch: " +
        s"${subCells.length}")
    assert(rowsEqual(batched, unbatched))
  }

  test("ivfpqSearchPrunedBatched stays row-equal when the budget is " +
       "unreachably small (every query its own sub-batch — the " +
       "degenerate-but-correct floor)") {
    val n = 500L; val nlist = 16; val nprobe = 4; val k = 3; val m = 8
    val (lake, p, v) = bundleOf(n, nlist, m, 16, "r20_batched_tiny")
    val (cents, codebook, enc) =
      Similarity.loadIndexCellLayout(spark, p, v)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 8)
      .localCheckpoint(true)
    val (_, unbatched) = Similarity.ivfpqSearchPruned(q, "vec_id",
      "embedding", enc, cents, codebook, k, nprobe, m)
    val (subCells, batched) = Similarity.ivfpqSearchPrunedBatched(q,
      "vec_id", "embedding", enc, cents, codebook, k, nprobe, m,
      cellBudget = 1)
    // a single query's probe set (nprobe cells) can never fit a
    // 1-cell budget: each query packs alone, correctness unharmed
    assert(subCells.length === q.count())
    assert(rowsEqual(batched, unbatched))
  }

  test("filtered router surfaces the union-fraction degeneracy " +
       "witness on the pruned ANN branch") {
    val n = 2000L; val nlist = 64; val k = 5; val m = 8
    val (lake0, p, v) = bundleOf(n, nlist, m, 16, "r20_unionfrac")
    val lake = lake0
      .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
    val (cents, codebook, enc) =
      Similarity.loadIndexCellLayout(spark, p, v)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
      .drop("h4").localCheckpoint(true)
    val r = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
      "embedding", col("h4") < 2, k, enc, cents, codebook, nlist, m,
      bruteCutoff = 0L, pruneCells = true)
    assert(r.route === "ann_overfetch")
    assert(r.probedCells.nonEmpty && r.cellUnionFrac.nonEmpty)
    assert(r.cellUnionFrac.get ===
      r.probedCells.get.length.toDouble / nlist)
  }

  test("sharded filtered router with cellBudget row-equals its " +
       "unbatched form, every shard's sub-batch unions within " +
       "budget") {
    val n = 2000L; val k = 5; val m = 8; val ksub = 16
    val shards = 2; val budget = 24
    val lake = Similarity.hashBlobLake(spark, n)
      .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
      .localCheckpoint(true)
    val shardKey = Similarity.annShardKey(col("vec_id"), shards)
    val built = (0 until shards).map { sh =>
      val part = lake.drop("h4").filter(shardKey === sh.toLong)
        .localCheckpoint(true)
      val nl = Similarity.nlistFor(part.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val p = tmp(s"r20_cbshard$sh")
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexCellLayout(p, v, c0, cb0,
        Similarity.ivfpqEncode(part, "vec_id", "embedding",
          c0, cb0, m))
      (p, v)
    }
    val q = lake.filter(pmod(col("vec_id"), lit(64L)) < 8 &&
      col("vec_id") < 256).drop("h4").localCheckpoint(true)
    val pred = col("h4") < 2
    def route(cb: Int) = Similarity.annTopKFilteredRoutedSharded(q,
      lake, "vec_id", "embedding", pred, k,
      built.map(_._1), built.map(_._2), m, bruteCutoff = 0L,
      cellBudget = cb)
    val r0 = route(0)
    val rb = route(budget)
    assert(r0.route === "ann_overfetch" &&
      rb.route === "ann_overfetch")
    assert(r0.shardSubbatchCells.isEmpty)
    assert(rb.shardSubbatchCells.length === shards &&
      rb.shardSubbatchCells.forall(sub =>
        sub.nonEmpty && sub.forall(_.length <= budget)))
    // the per-shard unions agree between the two forms (same probe
    // ranking — the batched union is the same distinct-cell set)
    r0.shardCells.zip(rb.shardCells).foreach { case (a, b) =>
      assert(a.toSeq === b.toSeq)
    }
    assert(rowsEqual(rb.result, r0.result))
  }

  test("the one-shard filtered router and the pruned search fire no " +
       "more Spark jobs than their pre-merge forms (no sharded " +
       "cents.count() on the one-bundle path)") {
    val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5; val m = 8
    val (lake0, p, v) = bundleOf(n, nlist, m, 16, "r20_jobpin")
    val lake = lake0
      .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
      .localCheckpoint(true)
    val (cents, codebook, enc) =
      Similarity.loadIndexCellLayout(spark, p, v)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
      .drop("h4").localCheckpoint(true)
    val (routed, routeJobs) = jobsOf("r20_jobs_route") {
      Similarity.annTopKFilteredRouted(q, lake, "vec_id", "embedding",
        col("h4") < 2, k, enc, cents, codebook, nlist, m,
        bruteCutoff = 0L, pruneCells = true)
    }
    assert(routed.route === "ann_overfetch")
    val (_, routeCollectJobs) = jobsOf("r20_jobs_route_collect") {
      routed.result.collect()
    }
    val ((_, pruned), prunedJobs) = jobsOf("r20_jobs_pruned") {
      Similarity.ivfpqSearchPruned(q, "vec_id", "embedding", enc,
        cents, codebook, k, nprobe, m)
    }
    val (_, prunedCollectJobs) = jobsOf("r20_jobs_pruned_collect") {
      pruned.collect()
    }
    val got = s"route=$routeJobs route_collect=$routeCollectJobs " +
      s"pruned=$prunedJobs pruned_collect=$prunedCollectJobs"
    // ceilings: the counts measured on the separate single-bundle
    // router and pruned search before they shared the sharded core
    assert(routeJobs <= 16, s"router construction: $got")
    assert(routeCollectJobs <= 8, s"router result: $got")
    assert(prunedJobs <= 2, s"pruned construction: $got")
    assert(prunedCollectJobs <= 5, s"pruned result: $got")
  }

  test("the PQ family fires no more Spark jobs than its pinned " +
       "counts: pqTopK untrained and trained with rerank, ivfpqTopK " +
       "with rerank, ivfpqTrainEncode and ivfpqSearchRefined") {
    val k = 5; val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 1000L).localCheckpoint(true)
    val q = lake.filter(col("vec_id") % 97 === 3).localCheckpoint(true)
    // (construction jobs, result-collect jobs) per case
    def pinned(tag: String)(build: => DataFrame): (Int, Int) = {
      val (df, built) = jobsOf(s"r20_pq_$tag")(build)
      val (_, collected) = jobsOf(s"r20_pq_${tag}_collect")(df.collect())
      (built, collected)
    }
    val pq0 = pinned("pq0")(Similarity.pqTopK(q, lake, "vec_id",
      "embedding", k, m, ksub))
    val pq1 = pinned("pq1")(Similarity.pqTopK(q, lake, "vec_id",
      "embedding", k, m, ksub, trainIters = 1, rerank = 20))
    val ivfpq = pinned("ivfpq")(Similarity.ivfpqTopK(q, lake, "vec_id",
      "embedding", k, 16, 4, m, ksub, coarseIters = 1, pqIters = 1,
      rerank = 20))
    val ((cents, codebook, enc), trainJobs) = jobsOf("r20_pq_train") {
      Similarity.ivfpqTrainEncode(lake, "vec_id", "embedding", 16, m,
        ksub, coarseIters = 1, pqIters = 1)
    }
    val (_, encJobs) = jobsOf("r20_pq_train_collect")(enc.collect())
    val refined = pinned("refined")(Similarity.ivfpqSearchRefined(q,
      "vec_id", "embedding", enc, cents, codebook, k, 4, m, pool = 30,
      refineTo = 10, corpus = lake))
    val got = s"pq0=$pq0 pq1=$pq1 ivfpq=$ivfpq " +
      s"trainEncode=($trainJobs,$encJobs) refined=$refined"
    // ceilings: the counts measured while pqTopK still had its own
    // seed draw, encode, ADC and rerank code
    assert(pq0._1 <= 1 && pq0._2 <= 3, s"pqTopK untrained: $got")
    assert(pq1._1 <= 3 && pq1._2 <= 6, s"pqTopK trained+rerank: $got")
    assert(ivfpq._1 <= 9 && ivfpq._2 <= 8, s"ivfpqTopK+rerank: $got")
    assert(trainJobs <= 9 && encJobs <= 2, s"ivfpqTrainEncode: $got")
    assert(refined._1 <= 0 && refined._2 <= 10,
      s"ivfpqSearchRefined: $got")
  }

  // --------------------------------------- estate re-shard lifecycle

  test("reshardAdvice: the published crossovers at the default " +
       "clamp, grow-only firing, and the capacity-knob clamp") {
    // 4·√268M just under 65536 -> one shard; ~1.07B -> two;
    // a 1e10-vector lake -> seven (annShardsFor's scaladoc numbers)
    assert(Similarity.annShardsFor(268000000L) === 1)
    assert(Similarity.annShardsFor(1070000000L) === 2)
    assert(Similarity.annShardsFor(10000000000L) === 7)
    assert(Similarity.reshardAdvice(10000000000L, 7) === ((7, false)))
    assert(Similarity.reshardAdvice(10000000000L, 2) === ((7, true)))
    // over-sharded after mass deletes: sized < current NEVER fires
    assert(Similarity.reshardAdvice(1000L, 4) === ((1, false)))
    // the capacity knob makes the arithmetic exercisable at any n
    assert(Similarity.reshardAdvice(1980L, 1, cellClamp = 16) ===
      ((2, true)))
  }

  test("annReshard refuses a same-count re-shard (routing unchanged " +
       "means rebuild, not re-shard)") {
    val (lake, p, _) = bundleOf(500L, 16, 8, 16, "r20_samecount")
    val e = intercept[IllegalArgumentException] {
      Similarity.annReshard(spark, Seq(p), lake, "vec_id",
        "embedding", 8, 16, newShards = 1,
        (sh, nl) => tmp(s"r20_same_sh$sh"))
    }
    assert(e.getMessage.contains("rebuild action"))
  }

  test("opsLoop executes the estate re-shard: fires at the " +
       "registration's clamp, re-routes every id under the new " +
       "hash, leaves the old bundle intact for retention, and the " +
       "after-poll reads quiet with the UPDATED registration") {
    val n = 500L; val m = 8; val ksub = 16
    val (lake, p0, v0) = bundleOf(n, Similarity.nlistFor(n), m, ksub,
      "r20_estate0")
    // clamp 4: sized = ceil(ceil(min(4·sqrt(500), 500/64))/4) = 2
    val loop = Advisors.opsLoop(spark, estates = Seq(
      Advisors.AnnEstateOps("e", Seq(p0), Seq(v0), lake, m, ksub,
        (sh, nl) => tmp(s"r20_resharded_sh${sh}_nl$nl"),
        cellClamp = 4)))
    val before = loop.before.collect()
    assert(before.length === 1 && before(0).getBoolean(3),
      "reshard row must fire at clamp 4")
    val acts = loop.actions.collect()
    assert(acts.length === 1 && acts(0).getBoolean(3) &&
      acts(0).getString(4).startsWith("resharded shards=2"))
    val after = loop.after.collect()
    assert(after.length === 1 && !after(0).getBoolean(3),
      s"after-poll must be quiet: ${after(0).getString(4)}")
    val est = loop.estates.head
    assert(est.shardPaths.length === 2 && est.shardPaths.forall(_ != p0))
    // every id present exactly once, in its new-hash shard
    val parts = est.shardPaths.zip(est.versions).zipWithIndex.map {
      case ((p, v), sh) =>
        val e = Similarity.loadIndexCellLayout(spark, p, v)._3
        val ids = e.select(col("neighbor_id")).distinct()
          .localCheckpoint(true)
        assert(ids.filter(Similarity.annShardKey(col("neighbor_id"),
          2) =!= sh.toLong).count() === 0L, s"misrouted ids in $sh")
        ids
    }
    assert(parts.map(_.count()).sum === n)
    // the OLD bundle is untouched — the cutover is the returned
    // registration; a crash mid-reshard leaves it serviceable
    assert(Similarity.indexExists(spark, p0, v0))
    assert(VersionedState.read(spark, p0, v0, "encoded")
      .select(col("neighbor_id")).distinct().count() === n)
  }

  test("estate console poll keeps the one-collect contract (the " +
       "reshard branches ride the same single action)") {
    val n = 500L; val m = 8; val ksub = 16
    val (lake, p0, v0) = bundleOf(n, Similarity.nlistFor(n), m, ksub,
      "r20_estate_poll")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sparkContext.setJobGroup("r20_estate_poll",
        "estate console poll", interruptOnCancel = false)
      val rows = Advisors.opsConsole(spark,
        annEstates = Seq(("e", Seq(p0), Seq(v0)))).collect()
      spark.sparkContext.clearJobGroup()
      assert(rows.length === 1 && rows(0).getString(2) == "reshard")
      assert(!rows(0).getBoolean(3)) // default clamp: quiet at 500
      val jobs = spark.sparkContext.statusTracker
        .getJobIdsForGroup("r20_estate_poll")
      assert(jobs.length <= 3,
        s"estate poll launched ${jobs.length} jobs — the " +
          "one-collect contract regressed")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // ------------------------------------------ ADVICE-r11 closures

  test("boilerplate targetFrac is BOTH the fire threshold and the " +
       "derive target: a derived threshold leaving blacklist_frac " +
       "in [default, targetFrac) still reads quiet after") {
    // 8 docs x (1 unique line + 2 shared footers): 10 segments,
    // footers at docfreq 8. At targetFrac=0.3 the derive lands
    // maxDocs=1 -> blacklist_frac 0.2 — INSIDE [0.10, 0.3), exactly
    // the window where the old default-threshold after-poll kept
    // firing (ADVICE r11 medium)
    val pb = tmp("r20_bp_target")
    graft.operators.Mutations.seedEmptyLedger(spark, pb,
      Streams.boilerplateLedgerSchema)
    Streams.boilerplateLedgerFold(
      spark.range(8).select(col("id").as("doc_id"),
        concat(lit("unique line "), col("id"),
          lit("\nfooter one\nfooter two")).as("text")), 0L, pb)
    val loop = Advisors.opsLoop(spark, bp = Seq(
      Advisors.BoilerplateOps("b", pb, 0L, targetFrac = 0.3)))
    val before = loop.before.collect()
    assert(before.length === 1 && before(0).getBoolean(3))
    val acts = loop.actions.collect()
    assert(acts(0).getBoolean(3) &&
      acts(0).getString(4) == "max_docs=1")
    val after = loop.after.collect()
    assert(!after(0).getBoolean(3),
      s"quiet-after failed at targetFrac=0.3: " +
        after(0).getString(4))
    assert(after(0).getString(4).contains("blacklist_frac=0.2"))
  }

  test("versionProbe tolerates data files deleted between plan and " +
       "execution (the rewrite race, closed at read time)") {
    val pb = tmp("r20_probe_race")
    val version = "v-r20-race"
    VersionedState.write(pb, version,
      "data" -> spark.range(3).toDF("id"))
    val probe = VersionedState.versionProbe(spark, pb, version)
    assert(probe.head().getLong(0) === 1L) // healthy read first
    // simulate a rewrite's meta delete AFTER the probe was planned:
    // the lazy branch must read ok=0 at collect, not throw and kill
    // the estate's poll (ADVICE r11). Spark 4 defers file-source
    // resolution to the first action, so versionProbe must force
    // analysis inside its own catch for this to hold.
    val probe2 = VersionedState.versionProbe(spark, pb, version)
    val dir = new java.io.File(s"$pb/meta")
    dir.listFiles().foreach(f => if (!f.getName.startsWith("_") ||
      f.getName.startsWith("_SUCCESS")) f.delete())
    assert(probe2.head().getLong(0) === 0L,
      "a mid-rewrite meta must read invalid, not throw")
    // the WHOLE directory vanishing post-construction is the same
    // execution-time class: cached listing + ignoreMissingFiles
    val probe3 = VersionedState.versionProbe(spark, pb, version)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    assert(probe3.head().getLong(0) === 0L,
      "a deleted meta dir must read invalid, not throw")
    // and gone-before-construction is the exists() branch
    assert(VersionedState.versionProbe(spark, pb, version)
      .head().getLong(0) === 0L)
  }
}
