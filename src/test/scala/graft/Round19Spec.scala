package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 pins: the sharded filtered router's equality contracts,
  * the one-collect console poll (O(1) Spark actions over N ledgers),
  * the closed ops loop, the ADVICE-r10 fixes (incremental promotion
  * anti-joins ledger tombstones on BOTH merge sides, per-shard
  * versions in the sharded forget, the un-honorable nFiles pin
  * failing fast on cell layouts), and the text-tier rebuild
  * executors' minimality/equality properties. */
class Round19Spec extends GraftSuite {

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

  // ------------------------------------ sharded filtered router

  test("sharded filtered router equals the single-bundle filtered " +
       "router on the same lake (ANN route): same rows, and both " +
       "equal the exact filtered twin") {
    val n = 2000L; val k = 5; val m = 8; val ksub = 16
    val shards = 2
    val lake = Similarity.hashBlobLake(spark, n)
      .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
      .localCheckpoint(true)
    val shardKey = Similarity.annShardKey(col("vec_id"), shards)
    val built = (0 until shards).map { sh =>
      val part = lake.drop("h4").filter(shardKey === sh.toLong)
        .localCheckpoint(true)
      val nl = Similarity.nlistFor(part.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val p = tmp(s"r19_fshard$sh")
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexCellLayout(p, v, c0, cb0,
        Similarity.ivfpqEncode(part, "vec_id", "embedding",
          c0, cb0, m))
      (p, v)
    }
    // single-bundle twin over the SAME lake
    val unl = Similarity.nlistFor(n)
    val uv = Similarity.annIndexVersion(unl, m, ksub)
    val uPath = tmp("r19_fsingle")
    val (uc, ucb) = Similarity.ivfpqTrain(lake.drop("h4"), "vec_id",
      "embedding", unl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexCellLayout(uPath, uv, uc, ucb,
      Similarity.ivfpqEncode(lake.drop("h4"), "vec_id", "embedding",
        uc, ucb, m))
    val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
      .drop("h4").localCheckpoint(true)
    val pred = col("h4") < 2
    val sharded = Similarity.annTopKFilteredRoutedSharded(q, lake,
      "vec_id", "embedding", pred, k,
      built.map(_._1), built.map(_._2), m, bruteCutoff = 0L)
    val (cents, codebook, enc) =
      Similarity.loadIndexCellLayout(spark, uPath, uv)
    val single = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
      "embedding", pred, k, Similarity.liveEncoded(enc,
        Similarity.annTombstones(spark, uPath)),
      cents, codebook, unl, m, bruteCutoff = 0L, pruneCells = true)
    assert(sharded.route === "ann_overfetch")
    assert(single.route === "ann_overfetch")
    val exact = Similarity.bruteTopKL2(q, lake.filter(pred),
      "vec_id", "embedding", k)
    assert(rowsEqual(
      sharded.result.select(col("query_id"), col("rank"),
        col("neighbor_id")),
      exact.select(col("query_id"), col("rank"),
        col("neighbor_id"))),
      "sharded filtered router diverged from the exact filtered twin")
    assert(rowsEqual(
      sharded.result.select(col("query_id"), col("rank"),
        col("neighbor_id")),
      single.result.select(col("query_id"), col("rank"),
        col("neighbor_id"))),
      "sharded vs single-bundle filtered router row mismatch")
    // per-shard witnesses populated on the ANN route
    assert(sharded.shardCells.length === shards &&
      sharded.shardCells.forall(_.nonEmpty))
  }

  test("sharded filtered router takes the exact branch below the " +
       "cutoff — no index probed, recall 1.0 by construction") {
    val n = 1000L; val k = 3; val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val built = (0 until 2).map { sh =>
      val part = lake.filter(
        Similarity.annShardKey(col("vec_id"), 2) === sh.toLong)
      val nl = Similarity.nlistFor(part.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val p = tmp(s"r19_eshard$sh")
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexCellLayout(p, v, c0, cb0,
        Similarity.ivfpqEncode(part, "vec_id", "embedding",
          c0, cb0, m))
      (p, v)
    }
    val q = Similarity.stratifiedProbes(lake, "vec_id", 3)
      .localCheckpoint(true)
    val r = Similarity.annTopKFilteredRoutedSharded(q, lake,
      "vec_id", "embedding", col("vec_id") % 2 === 0, k,
      built.map(_._1), built.map(_._2), m) // default cutoff 65536
    assert(r.route === "exact_filtered")
    assert(r.shardCells.isEmpty)
    val exact = Similarity.bruteTopKL2(q,
      lake.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", k)
    assert(rowsEqual(r.result, exact))
    // a negative cutoff is rejected like the single-bundle router's,
    // not silently read as "always ANN"
    val neg = intercept[IllegalArgumentException] {
      Similarity.annTopKFilteredRoutedSharded(q, lake, "vec_id",
        "embedding", col("vec_id") % 2 === 0, k,
        built.map(_._1), built.map(_._2), m, bruteCutoff = -1L)
    }
    assert(neg.getMessage.contains("bruteCutoff=-1"))
  }

  // --------------------------------- console: one collect per poll

  test("opsConsole launches O(1) Spark jobs per poll — the unioned " +
       "stats collect ONCE for N registered ledgers — and its rows " +
       "match the tier advisors' own panes") {
    import spark.implicits._
    val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 500L)
      .localCheckpoint(true)
    val nl = Similarity.nlistFor(500L)
    val v = Similarity.annIndexVersion(nl, m, ksub)
    val p = tmp("r19_console_ann")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(p, v, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    Similarity.annCompact(spark, p, v)
    val docs = spark.range(20).select(col("id").as("doc_id"),
      concat(lit("alpha beta w"), col("id")).as("text"),
      lit("en").as("lang"))
    val pd = tmp("r19_console_dsir")
    graft.operators.Mutations.seedEmptyLedger(spark, pd,
      Streams.dsirLedgerSchema)
    Streams.dsirLedgerFold(docs, 0L, pd, 4096)
    val pb = tmp("r19_console_bp")
    graft.operators.Mutations.seedEmptyLedger(spark, pb,
      Streams.boilerplateLedgerSchema)
    Streams.boilerplateLedgerFold(
      spark.range(40).select(col("id").as("doc_id"),
        concat(lit("unique line "), col("id"), lit("\nfooter text"))
          .as("text")), 0L, pb)
    // count jobs via the job-group check (VERDICT r10 #4). AQE off
    // for the call so stage materialization can't multiply the job
    // count — the contract under test is ONE action, and with AQE
    // disabled one action is one job (plus at most tiny read-side
    // jobs, hence the small bound).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties)
          .exists(_.getProperty("spark.jobGroup.id") ==
            "r19_console_poll"))
          seen.add(s"job ${j.jobId}: stages=[" +
            j.stageInfos.map(_.name).mkString(" | ") + "]")
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      spark.sparkContext.setJobGroup("r19_console_poll",
        "one-collect console poll", interruptOnCancel = false)
      val out = Advisors.opsConsole(spark,
        annBundles = Seq(("a", p, v, nl)),
        dsirLedgers = Seq(("d", pd)),
        boilerplateLedgers = Seq(("b", pb, 10L), ("b2", pb, 0L)))
        .collect()
      spark.sparkContext.clearJobGroup()
      out
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.sparkContext.removeSparkListener(listener)
    }
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("r19_console_poll")
    // 5 registered advisor rows; the OLD per-head console paid ≥ 2
    // actions per ann bundle + 1 per text ledger (≥ 5 here, each
    // itself several jobs); the poll must stay O(1): the one collect
    // plus the final createDataFrame-free emit
    import scala.jdk.CollectionConverters._
    assert(jobs.length <= 3,
      s"console poll launched ${jobs.length} jobs — the one-collect " +
        s"contract regressed:\n  ${seen.asScala.mkString("\n  ")}")
    assert(rows.length === 5)
    // row contract bit-identical to the tier advisors' own panes
    val drift = Similarity.indexGeometryDrift(
      VersionedState.read(spark, p, v, "encoded"), nl).head()
    val geoRow = rows.find(r => r.getString(2) == "rebuild" &&
      r.getString(0) == "ann").get
    assert(geoRow.getBoolean(3) ===
      drift.getAs[Boolean]("rebuild_recommended"))
    assert(geoRow.getString(4) ===
      s"sized_nlist_now=${drift.getAs[Long]("sized_nlist_now")} " +
        s"trained=${drift.getAs[Long]("trained_nlist")} " +
        s"n_now=${drift.getAs[Long]("n_now")}")
    val dsirPane = Streams.dsirLedgerAdvisor(spark, pd).head()
    val dsirRow = rows.find(_.getString(0) == "dsir").get
    assert(dsirRow.getBoolean(3) ===
      dsirPane.getAs[Boolean]("rebuild_recommended"))
    assert(dsirRow.getString(4) ===
      s"load_factor=${dsirPane.getAs[Double]("load_factor")} " +
        s"sized_nb_now=${dsirPane.getAs[Long]("sized_nb_now")} " +
        s"nb=${dsirPane.getAs[Long]("nb")}")
    val bpPane = Streams.boilerplateLedgerAdvisor(spark, pb, 0L).head()
    val bpRow = rows.find(r => r.getString(0) == "boilerplate" &&
      r.getString(1) == "b2").get
    assert(bpRow.getBoolean(3) ===
      bpPane.getAs[Boolean]("rethreshold_recommended"))
  }

  test("opsConsole polls a SHARDED estate in the same one collect: " +
       "per-shard registrations with per-shard versions, shard-local " +
       "debt firing only its own shard's row") {
    val m = 8; val ksub = 16
    val shards = 2
    val lake = Similarity.hashBlobLake(spark, 1000L)
      .localCheckpoint(true)
    val reg = (0 until shards).map { sh =>
      val part = lake.filter(
        Similarity.annShardKey(col("vec_id"), shards) === sh.toLong)
        .localCheckpoint(true)
      val nl = Similarity.nlistFor(part.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val p = tmp(s"r19_consh$sh")
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndex(p, v, c0, cb0,
        Similarity.ivfpqEncode(part, "vec_id", "embedding",
          c0, cb0, m))
      Similarity.annCompact(spark, p, v) // file debt paid
      (s"shard$sh", p, v, nl, part)
    }
    // tombstone 2% of shard0 ONLY — its compact row must fire alone
    Similarity.annForget(reg(0)._2, reg(0)._5
      .filter(pmod(col("vec_id"), lit(50L)) === 0)
      .select(col("vec_id")))
    spark.sparkContext.setJobGroup("r19_console_sharded",
      "sharded-estate poll", interruptOnCancel = false)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val rows = try Advisors.opsConsole(spark,
        annBundles = reg.map(r => (r._1, r._2, r._3, r._4))).collect()
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.sparkContext.clearJobGroup()
      }
    // the poll stays O(1) actions with MORE registered bundles —
    // same bound as the single-bundle pin above
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("r19_console_sharded").length <= 3)
    assert(rows.length === 4)
    def rec(ledger: String, action: String) =
      rows.find(r => r.getString(1) == ledger &&
        r.getString(2) == action).get.getBoolean(3)
    assert(rec("shard0", "compact"), "shard0's tombstone debt quiet")
    assert(!rec("shard1", "compact"), "shard1 fired on shard0's debt")
    assert(!rec("shard0", "rebuild") && !rec("shard1", "rebuild"),
      "right-sized shards must not fire rebuild")
  }

  test("opsConsole still fails fast on a version mismatch — the " +
       "batched probe preserves the VersionedState contract") {
    val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 500L)
    val nl = Similarity.nlistFor(500L)
    val v = Similarity.annIndexVersion(nl, m, ksub)
    val p = tmp("r19_console_badver")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(p, v, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    val e = intercept[IllegalArgumentException] {
      Advisors.opsConsole(spark,
        annBundles = Seq(("a", p, "ivfpq-nl999-m8-ks16-ci1-pi1-fp1e7",
          nl)))
    }
    assert(e.getMessage.contains("does not carry version"))
  }

  // --------------------------------------------- the closed ops loop

  test("opsLoop with nothing firing executes nothing and leaves the " +
       "estate untouched: before == after, every action '-'") {
    val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 500L)
      .localCheckpoint(true)
    val nl = Similarity.nlistFor(500L)
    val v = Similarity.annIndexVersion(nl, m, ksub)
    val p = tmp("r19_loop_quiet")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(p, v, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    Similarity.annCompact(spark, p, v)
    val loop = Advisors.opsLoop(spark,
      ann = Seq(Advisors.AnnOps("a", p, v, nl, lake, m, ksub,
        _ => fail("quiet estate must not rebuild"))))
    assert(rowsEqual(loop.before, loop.after),
      "a quiet loop mutated state")
    val acts = loop.actions.collect()
    assert(acts.forall(r => !r.getBoolean(3) && r.getString(4) == "-"))
    assert(loop.ann.head.path === p && loop.ann.head.version === v,
      "a quiet loop moved a registration")
  }

  test("opsLoop's rebuild carries the old bundle's tombstones and " +
       "its physical layout: forgotten ids stay erased in the " +
       "cell-layout replacement (no resurrection at the rebuild " +
       "seam), and the pruning contract survives") {
    val m = 8; val ksub = 16
    val lakeNow = Similarity.hashBlobLake(spark, 2000L)
      .localCheckpoint(true)
    val lake0 = Similarity.hashBlobLake(spark, 500L)
      .localCheckpoint(true)
    val nl0 = Similarity.nlistFor(500L)
    val v0 = Similarity.annIndexVersion(nl0, m, ksub)
    val p = tmp("r19_loop_resur")
    val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id",
      "embedding", nl0, m, ksub, coarseIters = 1, pqIters = 1)
    // CELL LAYOUT, accreted to 4x its trained sizing -> rebuild fires
    Similarity.persistIndexCellLayout(p, v0, c0, cb0,
      Similarity.ivfpqEncode(lakeNow, "vec_id", "embedding",
        c0, cb0, m))
    // forget 5 ids (0.25% — compact stays quiet; rebuild is the ONLY
    // firing action, so the carry below is what keeps them erased)
    import spark.implicits._
    val forgotten = Seq(100L, 300L, 700L, 1100L, 1900L)
    Similarity.annForget(p, forgotten.toDF("vec_id"))
    val loop = Advisors.opsLoop(spark,
      ann = Seq(Advisors.AnnOps("est", p, v0, nl0, lakeNow, m, ksub,
        nl => tmp(s"r19_loop_resur_nl$nl"))))
    val updated = loop.ann.head
    assert(updated.path != p, "rebuild did not move the bundle")
    // layout preserved: the replacement is still cell-partitioned
    assert(Similarity.isCellLayoutBundle(spark, updated.path),
      "rebuild flattened a cell-layout estate — the pruning " +
        "contract silently died")
    // no resurrection: the forgotten ids were re-encoded from the
    // lake, but the carried tombstones + the landing compact erased
    // them PHYSICALLY from the replacement
    val (_, _, encNew) = Similarity.loadIndexCellLayout(spark,
      updated.path, updated.version)
    assert(encNew.filter(col("neighbor_id")
      .isInCollection(forgotten)).count() === 0L,
      "rebuild resurrected forgotten ids from the lake")
    // and the after-poll reads quiet on the replacement
    assert(loop.after.filter(col("recommended")).count() === 0L)
  }

  test("opsConsole fails fast (not AnalysisException) on a bundle " +
       "whose meta is mid-rewrite (deleted) — the torn-meta probe " +
       "reads invalid instead of killing the poll at plan time") {
    val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 500L)
    val nl = Similarity.nlistFor(500L)
    val v = Similarity.annIndexVersion(nl, m, ksub)
    val p = tmp("r19_tornmeta")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(p, v, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$p/meta")) // the invalidate-first window
    val e = intercept[IllegalArgumentException] {
      Advisors.opsConsole(spark, annBundles = Seq(("a", p, v, nl)))
    }
    assert(e.getMessage.contains("does not carry version"))
  }

  test("boilerplate advisor still fails fast on a FOREIGN ledger " +
       "(rows but no __sep stamp) under the declared-schema read") {
    val p = tmp("r19_foreign_bp")
    // a parquet dir with docfreq-shaped rows but NO recipe stamp
    spark.range(10).select(col("id").as("h"),
        (col("id") + 1).as("docfreq"))
      .write.mode("overwrite").parquet(p)
    val e = intercept[IllegalArgumentException] {
      Streams.boilerplateLedgerAdvisor(spark, p, 10L)
    }
    assert(e.getMessage.contains("no __sep"))
  }

  // ---------------------- ADVICE r10: promote vs pre-compact erasure

  test("incremental promote anti-joins ledger tombstones on the " +
       "BUNDLE side too: an id erased via annForgetPromoted before " +
       "any compact does not re-enter the fresh cell files, and the " +
       "live state equals a full re-promote") {
    val nlist = 32; val m = 8; val ksub = 16
    val lakeAll = Similarity.hashBlobLake(spark, 2000L)
      .localCheckpoint(true)
    val lake0 = lakeAll.filter(col("vec_id") < 1600L)
    val delta = lakeAll.filter(col("vec_id") >= 1600L &&
      pmod(col("vec_id"), lit(64L)) < 8L)
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val defPath = tmp("r19_prom_def")
    val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id",
      "embedding", nlist, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexDef(defPath, version, c0, cb0)
    val ledgerPath = tmp("r19_prom_ledger")
    (0 until 2).foreach { i =>
      Streams.annIngestFold(
        lake0.filter(pmod(col("vec_id"), lit(2L)) === i.toLong),
        i.toLong, defPath, version, ledgerPath, m)
    }
    val outPath = tmp("r19_prom_bundle")
    Similarity.promoteIngestLedgerIncremental(spark, defPath, version,
      ledgerPath, outPath)
    // fold the delta, find a cell it touches, erase an OLD id from
    // that cell BEFORE any compact runs (the ADVICE-r10 seam)
    Streams.annIngestFold(delta, 2L, defPath, version, ledgerPath, m)
    val touched = spark.read.parquet(ledgerPath)
      .filter(col("__bid") === 2)
      .select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSet
    val (_, _, bundleEnc) =
      Similarity.loadIndexCellLayout(spark, outPath, version)
    val victim = bundleEnc
      .filter(col("cell").isInCollection(touched.toSeq) &&
        col("neighbor_id") < 1600L)
      .select(col("neighbor_id")).head().getLong(0)
    import spark.implicits._
    Similarity.annForgetPromoted(outPath, ledgerPath,
      Seq(victim).toDF("vec_id"))
    Similarity.promoteIngestLedgerIncremental(spark, defPath, version,
      ledgerPath, outPath)
    // the erased id is PHYSICALLY absent from the rewritten touched
    // cells (the round-10 form merged bundle rows raw and re-wrote it)
    val (_, _, encAfter) =
      Similarity.loadIndexCellLayout(spark, outPath, version)
    assert(encAfter
      .filter(col("cell").isInCollection(touched.toSeq) &&
        col("neighbor_id") === victim)
      .count() === 0L,
      "erased id re-entered a fresh touched-cell file")
    // and the LIVE state equals a full re-promote's
    val outFull = tmp("r19_prom_full")
    Similarity.promoteIngestLedger(spark, defPath, version,
      ledgerPath, outFull)
    val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
    val liveInc = Similarity.liveEncoded(encAfter,
      Similarity.annTombstones(spark, outPath)).select(cols: _*)
    val liveFull = Similarity.liveEncoded(
      Similarity.loadIndexCellLayout(spark, outFull, version)._3,
      Similarity.annTombstones(spark, outFull)).select(cols: _*)
    assert(rowsEqual(liveInc, liveFull),
      "incremental live state diverged from the full re-promote")
  }

  // ------------------- ADVICE r10: per-shard versions in the forget

  test("annForgetSharded verifies routing on a heterogeneous estate " +
       "(per-shard versions) — and a single broadcast stamp fails " +
       "on exactly that estate") {
    val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 2000L)
      .localCheckpoint(true)
    val shards = 2
    val paths = (0 until shards).map(sh => tmp(s"r19_hetshard$sh"))
    // shard1 deliberately carries a DIFFERENT geometry (rebuilt at a
    // drifted sizing) — a healthy estate annForgetSharded must accept
    val versions = (0 until shards).map { sh =>
      val part = lake.filter(
        Similarity.annShardKey(col("vec_id"), shards) === sh.toLong)
      val nl0 = Similarity.nlistFor(part.count())
      val nl = if (sh == 1) nl0 * 2 else nl0
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndex(paths(sh), v, c0, cb0,
        Similarity.ivfpqEncode(part, "vec_id", "embedding",
          c0, cb0, m))
      v
    }
    assert(versions.distinct.length === 2,
      "the estate must actually be heterogeneous for this pin")
    import spark.implicits._
    val ids = Seq(3L, 10L, 77L, 500L).toDF("vec_id")
    // the round-10 form: one shared stamp — fails on shard 1
    val e = intercept[IllegalArgumentException] {
      Similarity.annForgetSharded(paths, ids, verifyRouting = true,
        versions = Seq(versions.head))
    }
    assert(e.getMessage.contains("version"))
    // per-shard stamps: verifies and lands
    Similarity.annForgetSharded(paths, ids, verifyRouting = true,
      versions = versions)
    val landed = (0 until shards).map(sh =>
      Similarity.annTombstones(spark, paths(sh)).count()).sum
    assert(landed === 4L, s"expected all 4 tombstones to land, got " +
      s"$landed")
  }

  // ----------------- ADVICE r10: un-honorable nFiles pin fails fast

  test("annCompact refuses a pinned nFiles on a cell-layout bundle " +
       "instead of silently ignoring it") {
    val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 500L)
    val nl = Similarity.nlistFor(500L)
    val v = Similarity.annIndexVersion(nl, m, ksub)
    val p = tmp("r19_cellpin")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexCellLayout(p, v, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    val e = intercept[IllegalArgumentException] {
      Similarity.annCompact(spark, p, v, nFiles = 1)
    }
    assert(e.getMessage.contains("cannot be honored"))
    // the default (sized) form still compacts a cell layout fine
    val (nb, na, _) = Similarity.annCompact(spark, p, v)
    assert(nb === na, "no tombstones — compact must erase nothing")
  }

  // --------------------------- text-tier executors: properties

  test("boilerplateThresholdFor returns the MINIMAL threshold whose " +
       "blacklist stays strictly under the target") {
    import spark.implicits._
    val p = tmp("r19_bpmin")
    graft.operators.Mutations.seedEmptyLedger(spark, p,
      Streams.boilerplateLedgerSchema)
    // 50 docs: each doc one unique line + one of 2 footers + a
    // medium-frequency line shared by 10 docs each
    val docs = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("unique "), col("id"), lit("\nshared "),
        (col("id") % 5).cast("string"),
        lit("\n"), when(col("id") % 2 === 0, "footer a")
          .otherwise("footer b")).as("text"))
    Streams.boilerplateLedgerFold(docs, 0L, p)
    val derived = Streams.boilerplateThresholdFor(spark, p, 0.10)
    val hist = spark.read.parquet(p)
      .groupBy(col("docfreq")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val nSeg = hist.map(_._2).sum.toDouble
    def massAbove(t: Long) = hist.filter(_._1 > t).map(_._2).sum
    assert(massAbove(derived) < 0.10 * nSeg,
      s"derived=$derived does not satisfy the bound")
    assert(derived === 0L || massAbove(derived - 1) >= 0.10 * nSeg,
      s"derived=$derived is not minimal")
  }

  test("dsirLedgerRebuild on a quiet ledger is a refused no-op: " +
       "nothing written, (false, nb) returned") {
    val docs = spark.range(20).select(col("id").as("doc_id"),
      concat(lit("alpha beta w"), col("id")).as("text"),
      lit("en").as("lang"))
    val p = tmp("r19_dsir_quiet")
    graft.operators.Mutations.seedEmptyLedger(spark, p,
      Streams.dsirLedgerSchema)
    Streams.dsirLedgerFold(docs, 0L, p, 4096)
    val newP = tmp("r19_dsir_quiet_new")
    val (fired, nb, finalPath, steps, quiet) =
      Streams.dsirLedgerRebuild(spark, p, _ => newP, Seq(docs))
    assert(!fired && nb === 4096 && steps === 0 && quiet)
    assert(finalPath === p, "a refused rebuild moved the ledger")
    assert(!new java.io.File(newP).exists() ||
      new java.io.File(newP).list().isEmpty,
      "a refused rebuild wrote state anyway")
  }

  test("dsirLedgerRebuild iterates past the saturated ledger's own " +
       "under-read sizing: the 6.6k-feature corpus needs TWO steps " +
       "(4096 -> 16384 -> 32768) to read quiet") {
    val heavy = spark.range(600).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 6).map(j =>
        concat(lit("w"), (col("id") * 6 + j).cast("string"))): _*)
        .as("text"),
      lit("en").as("lang")).localCheckpoint(true)
    val p = tmp("r19_dsir_sat")
    graft.operators.Mutations.seedEmptyLedger(spark, p,
      Streams.dsirLedgerSchema)
    Streams.dsirLedgerFold(heavy, 0L, p, 4096)
    val (fired, nb, finalPath, steps, quiet) =
      Streams.dsirLedgerRebuild(spark, p,
        w => tmp(s"r19_dsir_sat_nb$w"), Seq(heavy))
    assert(fired && quiet, s"rebuild must converge (nb=$nb)")
    assert(steps === 2 && nb === 32768,
      s"expected the two-step convergence, got steps=$steps nb=$nb")
    assert(finalPath.endsWith("nb32768"))
    // the one-shot sizing (16384) really is still saturated — the
    // reason the loop exists
    val mid = tmp("r19_dsir_sat_oneshot")
    graft.operators.Mutations.seedEmptyLedger(spark, mid,
      Streams.dsirLedgerSchema)
    Streams.dsirLedgerFold(heavy, 0L, mid, 16384)
    assert(Streams.dsirLedgerAdvisor(spark, mid).head()
      .getAs[Boolean]("rebuild_recommended"),
      "the mid width reads quiet — the iterative loop is dead code")
  }
}
