package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-10 pins: the ADVICE-r9 fixes (compaction's tombstone-FILE
  * snapshot, cell-layout-preserving rewritePart, the thread-safe plan
  * audit, the freq-ledger capacity guards), the composed
  * filtered+cell-pruned ANN router, incremental promotion by
  * touched-cell dynamic overwrite, the sharded delete lifecycle, the
  * gated pipeline runners, and the text-tier ledger drift advisors. */
class Round18Spec extends GraftSuite {

  import graft.operators.Similarity
  import graft.sources.VersionedState
  import graft.pipelines.{Medallion, ReferenceWarehouse, ReferenceOds, Gmaps}
  import graft.plans.PlanAudit
  import graft.streaming.Streams

  private def tmp(name: String): String = {
    val d = new java.io.File(graft.sources.ScratchRoot.path(name))
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getAbsolutePath
  }

  private def rowsEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  // ---------------------------------------- ADVICE: rewritePart layout

  test("rewritePart with partitionCols preserves the hive layout: " +
       "directories per value, one file each, rows and version intact") {
    import spark.implicits._
    val path = tmp("r18_rewrite_layout")
    val part = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 4L))
      .toDF("cell", "v")
    VersionedState.writeLayout(path, "v1",
      Map("enc" -> Seq("cell")), "enc" -> part.repartition(col("cell")))
    // rewrite keeping only v != 2, layout-preserving
    val live = spark.read.parquet(s"$path/enc")
      .filter(col("v") =!= 2L)
    VersionedState.rewritePart(path, "v1", "enc", live, 1,
      partitionCols = Seq("cell"))
    val dirs = new java.io.File(s"$path/enc").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(dirs.map(_.getName).sorted.toSeq ===
      Seq("cell=0", "cell=1", "cell=2"))
    assert(dirs.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    val back = VersionedState.read(spark, path, "v1", "enc")
    assert(back.count() === 3L)
    assert(back.filter(col("v") === 2L).count() === 0L)
  }

  test("annCompact on a cell-layout bundle keeps the layout: the " +
       "x123 probe->file-pruning contract still holds AFTER the " +
       "first compact (ADVICE r9)") {
    val n = 500L; val nlist = 16; val m = 8; val k = 5; val np = 4
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val path = tmp("r18_compact_layout")
    val version = Similarity.annIndexVersion(nlist, m, 16)
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexCellLayout(path, version, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    import spark.implicits._
    Similarity.annForget(path, Seq(7L, 42L).toDF("vec_id"))
    val (nb, na, _) = Similarity.annCompact(spark, path, version)
    assert(nb - na === 2L * m, "2 forgotten vectors x m code rows")
    // the layout survived: directories per cell, partition-filtered
    // scans, files read == cells probed
    val dirs = new java.io.File(s"$path/encoded").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(dirs.nonEmpty, "cell directories flattened by compact")
    val (cents, codebook, encoded) =
      Similarity.loadIndexCellLayout(spark, path, version)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
      .localCheckpoint(true)
    val rr = Similarity.rerankFor(n, nlist, np)
    val (cells, pruned) = Similarity.ivfpqSearchPruned(q, "vec_id",
      "embedding", encoded, cents, codebook, k, np, m,
      rerank = rr, rerankSource = Some(lake))
    val prunedScan = encoded.filter(col("cell").isInCollection(cells.toSeq))
    val scans = prunedScan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "post-compact probe filter must still be a PARTITION filter")
    assert(scans.map(_.selectedPartitions.partitionCount).sum
      === cells.length, "files read != cells probed after compact")
    val full = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
      encoded, cents, codebook, k, np, m, rerank = rr,
      rerankSource = Some(lake))
    assert(rowsEqual(pruned, full))
  }

  // ------------------------------- ADVICE: mid-compact forget survives

  test("an annForget landing MID-compact survives: its tombstones " +
       "are neither folded nor deleted, keep suppressing searches, " +
       "and fold on the NEXT compact (ADVICE r9)") {
    import spark.implicits._
    val n = 500L; val nlist = 16; val m = 8
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val path = tmp("r18_compact_race")
    val version = Similarity.annIndexVersion(nlist, m, 16)
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(path, version, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    Similarity.annForget(path, Seq(7L).toDF("vec_id"))
    val (nb, na, _) = Similarity.annCompactWith(spark, path, version,
      nFiles = 1, targetBytes = 128L * 1024 * 1024,
      midCompact = () =>
        Similarity.annForget(path, Seq(42L).toDF("vec_id")))
    assert(nb - na === m.toLong, "only the snapshotted id folds out")
    // the concurrent id survived the compact as a live tombstone...
    val ts = Similarity.annTombstones(spark, path)
      .collect().map(_.getLong(0)).toSet
    assert(ts === Set(42L),
      s"mid-compact tombstone destroyed or over-retained: $ts")
    // ...still suppresses reads...
    val enc = VersionedState.read(spark, path, version, "encoded")
    assert(enc.filter(col("neighbor_id") === 42L).count() === m.toLong,
      "42 must still be physically present (not folded)")
    assert(Similarity.liveEncoded(enc,
      Similarity.annTombstones(spark, path))
      .filter(col("neighbor_id") === 42L).count() === 0L)
    // ...and the NEXT compact erases it physically
    val (nb2, na2, _) = Similarity.annCompact(spark, path, version, 1)
    assert(nb2 - na2 === m.toLong)
    assert(Similarity.annTombstones(spark, path).count() === 0L)
  }

  // ---------------------------------------- ADVICE: thread-safe audit

  test("auditPlan never flips the shared session's AQE conf: a " +
       "concurrent planner keeps adaptive plans while audits run") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    @volatile var failed: Option[String] = None
    val auditor = new Thread(() => {
      try (1 to 25).foreach { _ =>
        val a = PlanAudit.auditPlan(df)
        assert(a.nShuffleExchanges >= 1)
      } catch { case e: Throwable => failed = Some(e.toString) }
    })
    auditor.start()
    // while audits run, the shared session must keep planning adaptive
    (1 to 25).foreach { _ =>
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true",
        "audit leaked AQE=false into the shared session")
      val p = spark.sessionState
        .executePlan(df.queryExecution.logical).executedPlan
      assert(p.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
        "concurrent query planned WITHOUT adaptive execution")
    }
    auditor.join()
    assert(failed.isEmpty, failed.getOrElse(""))
  }

  // ---------------------------------------- ADVICE: freq ledger guards

  test("freqLedgerFold and the ledger advisors fail fast with the " +
       "rebuild message on pre-stamp or never-folded ledgers") {
    import spark.implicits._
    // a pre-__cap freq ledger: the fold must say WHY it is unusable
    val freqPath = tmp("r18_prestamp_freq")
    Seq(("s1", Map("a" -> 1L), 0L))
      .toDF("source", "sk", "__last_batch").write.parquet(freqPath)
    val batch = Seq(("s1", "tok")).toDF("source", "tok")
    val e1 = intercept[IllegalArgumentException] {
      Streams.freqLedgerFold(batch, 1L, freqPath)
    }
    assert(e1.getMessage.contains("rebuild the ledger"))
    // pre-__nb DSIR and pre-__sep boilerplate ledgers: the same
    // rebuild message, not an unresolved-column AnalysisException
    val dsirPre = tmp("r18_prestamp_dsir")
    Seq((1L, 2L, 3L, 0L)).toDF("b", "ct", "cq", "__last_batch")
      .write.parquet(dsirPre)
    val docs = Seq((1L, "the quick brown fox", "en"))
      .toDF("doc_id", "text", "lang")
    val e4 = intercept[IllegalArgumentException] {
      Streams.dsirLedgerFold(docs, 1L, dsirPre)
    }
    assert(e4.getMessage.contains("rebuild the ledger"))
    val bpPre = tmp("r18_prestamp_bp")
    Seq((1L, 2L, 0L)).toDF("h", "docfreq", "__last_batch")
      .write.parquet(bpPre)
    val e5 = intercept[IllegalArgumentException] {
      Streams.boilerplateLedgerFold(docs.select("doc_id", "text"), 1L,
        bpPre)
    }
    assert(e5.getMessage.contains("rebuild the ledger"))
    // never-folded advisors: explicit message, not an NPE
    val dsirPath = tmp("r18_empty_dsir")
    graft.operators.Mutations.seedEmptyLedger(spark, dsirPath,
      Streams.dsirLedgerSchema)
    val e2 = intercept[IllegalArgumentException] {
      Streams.dsirLedgerAdvisor(spark, dsirPath).collect()
    }
    assert(e2.getMessage.contains("never"))
    val bpPath = tmp("r18_empty_bp")
    graft.operators.Mutations.seedEmptyLedger(spark, bpPath,
      Streams.boilerplateLedgerSchema)
    val e3 = intercept[IllegalArgumentException] {
      Streams.boilerplateLedgerAdvisor(spark, bpPath, 10L).collect()
    }
    assert(e3.getMessage.contains("never"))
  }

  // ------------------------------- composed filtered + pruned router

  test("annTopKFilteredRouted(pruneCells = true) routes its ANN " +
       "branch through the partition-pruned search: same route, " +
       "row-identical results, files read == cells probed") {
    val n = 2000L; val nlist = 64; val k = 5; val m = 8
    val lake = Similarity.hashBlobLake(spark, n)
      .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
      .localCheckpoint(true)
    val path = tmp("r18_filtered_pruned")
    val version = Similarity.annIndexVersion(nlist, m, 16)
    val (c0, cb0) = Similarity.ivfpqTrain(lake.drop("h4"), "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexCellLayout(path, version, c0, cb0,
      Similarity.ivfpqEncode(lake.drop("h4"), "vec_id", "embedding",
        c0, cb0, m))
    val (cents, codebook, encoded) =
      Similarity.loadIndexCellLayout(spark, path, version)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .drop("h4").localCheckpoint(true)
    val pred = col("h4") === 0
    def route(prune: Boolean) = Similarity.annTopKFilteredRouted(
      q, lake, "vec_id", "embedding", pred, k, encoded, cents,
      codebook, nlist, m, bruteCutoff = 0L, pruneCells = prune)
    val unpruned = route(false)
    val pruned = route(true)
    assert(unpruned.route === "ann_overfetch")
    assert(pruned.route === unpruned.route,
      "pruning changed the ROUTE — it must only change what is read")
    assert(pruned.nprobe === unpruned.nprobe &&
      pruned.kPrime === unpruned.kPrime)
    assert(rowsEqual(pruned.result, unpruned.result),
      "pruned filtered search diverged from unpruned")
    assert(unpruned.probedCells.isEmpty && pruned.probedCells.nonEmpty)
    val cells = pruned.probedCells.get
    val filesRead = encoded
      .filter(col("cell").isInCollection(cells.toSeq))
      .select(input_file_name()).distinct().count()
    assert(filesRead === cells.length.toLong,
      "files read != cells probed on the filtered ANN branch")
  }

  // ------------------------------------------- incremental promotion

  test("promoteIngestLedgerIncremental rewrites ONLY touched cells: " +
       "row-equal to a full re-promote, untouched cell files " +
       "byte-identical, no-op when nothing is new") {
    val nlist = 32; val m = 8; val ksub = 16
    val lakeAll = Similarity.hashBlobLake(spark, 1200L)
      .localCheckpoint(true)
    val lake0 = lakeAll.filter(col("vec_id") < 1000L)
    // a geometrically NARROW delta (a few clusters of the hash-blob
    // lake), so the incremental promote demonstrably leaves most
    // cells untouched — a delta spanning every cluster would touch
    // every cell, which is full-promote territory anyway
    val delta = lakeAll.filter(col("vec_id") >= 1000L &&
      pmod(col("vec_id"), lit(64L)) < 8L)
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val defPath = tmp("r18_inc_def")
    val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id", "embedding",
      nlist, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexDef(defPath, version, c0, cb0)
    val (cents, codebook) =
      Similarity.loadIndexDef(spark, defPath, version)
    // the ingest ledger: batches 0..3 = the initial lake, batch 4 =
    // the delta (annIngestFold's exact layout)
    val ledgerPath = tmp("r18_inc_ledger")
    (0 until 4).foreach { i =>
      Streams.annIngestFold(
        lake0.filter(pmod(col("vec_id"), lit(4L)) === i.toLong),
        i.toLong, defPath, version, ledgerPath, m)
    }
    val outInc = tmp("r18_inc_bundle")
    val (b0, c0n, hwm0) = Similarity.promoteIngestLedgerIncremental(
      spark, defPath, version, ledgerPath, outInc)
    assert(b0 === 4L && hwm0 === 3L)
    // no-op pass: nothing new
    val (b1, c1n, hwm1) = Similarity.promoteIngestLedgerIncremental(
      spark, defPath, version, ledgerPath, outInc)
    assert(b1 === 0L && c1n === 0L && hwm1 === 3L)
    // snapshot per-file content hashes before the delta lands
    def fileHashes(root: java.io.File): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      walk(root).filter(f => f.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
          md.digest(bytes).map("%02x".format(_)).mkString
      }.toMap
    }
    val beforeHashes = fileHashes(new java.io.File(s"$outInc/encoded"))
    // batch 4: the delta folds into the ingest ledger, then promotes
    Streams.annIngestFold(delta, 4L, defPath, version, ledgerPath, m)
    val expectedTouched = Similarity.ivfpqEncode(delta, "vec_id",
      "embedding", cents, codebook, m)
      .select(col("cell")).distinct().count()
    val (b2, c2n, hwm2) = Similarity.promoteIngestLedgerIncremental(
      spark, defPath, version, ledgerPath, outInc)
    assert(b2 === 1L && hwm2 === 4L)
    assert(c2n === expectedTouched,
      "cells rewritten != cells the delta actually touched")
    val afterHashes = fileHashes(new java.io.File(s"$outInc/encoded"))
    val touchedDirs = afterHashes.keySet.filter { p =>
      !beforeHashes.contains(p) || beforeHashes(p) != afterHashes(p)
    }.map(_.split("/").find(_.startsWith("cell=")).getOrElse("?"))
    assert(touchedDirs.size.toLong === c2n,
      s"files rewritten in ${touchedDirs.size} cells, " +
        s"promote reported $c2n")
    val untouched = beforeHashes.keySet
      .filter(p => !touchedDirs.exists(d => p.contains(s"/$d/")))
    assert(untouched.nonEmpty && untouched.forall(p =>
      afterHashes.get(p).contains(beforeHashes(p))),
      "untouched cell files must be byte-identical")
    // incremental == full re-promote, row for row
    val outFull = tmp("r18_full_bundle")
    Similarity.promoteIngestLedger(spark, defPath, version, ledgerPath,
      outFull)
    val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
    val inc = Similarity.loadIndexCellLayout(spark, outInc, version)
      ._3.select(cols: _*)
    val fullP = Similarity.loadIndexCellLayout(spark, outFull, version)
      ._3.select(cols: _*)
    assert(rowsEqual(inc, fullP),
      "incremental promote diverged from full re-promote")
  }

  test("incremental promote is crash-safe at both seams: a lost meta " +
       "falls back to a full (identical) re-promote, and a STALE " +
       "watermark re-folds already-promoted batches to the identical " +
       "bundle (the key-dedup idempotence claim, exercised)") {
    val nlist = 32; val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 800L).localCheckpoint(true)
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val defPath = tmp("r18_crash_def")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id", "embedding",
      nlist, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexDef(defPath, version, c0, cb0)
    val ledgerPath = tmp("r18_crash_ledger")
    (0 until 3).foreach { i =>
      graft.streaming.Streams.annIngestFold(
        lake.filter(pmod(col("vec_id"), lit(3L)) === i.toLong),
        i.toLong, defPath, version, ledgerPath, m)
    }
    val out = tmp("r18_crash_bundle")
    Similarity.promoteIngestLedgerIncremental(spark, defPath, version,
      ledgerPath, out)
    val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
    val good = Similarity.loadIndexCellLayout(spark, out, version)
      ._3.select(cols: _*).localCheckpoint(true)
    // seam 1: crash AFTER the dynamic overwrite, BEFORE the meta
    // re-stamp — the bundle has no valid meta, so the next promote
    // takes the full path and lands the identical bundle
    val f = new java.io.File(s"$out/meta")
    org.apache.commons.io.FileUtils.deleteQuietly(f)
    assert(!Similarity.indexExists(spark, out, version))
    val (b1, _, _) = Similarity.promoteIngestLedgerIncremental(
      spark, defPath, version, ledgerPath, out)
    assert(b1 === 3L, "meta-less bundle must take the FULL path")
    assert(Similarity.indexExists(spark, out, version))
    assert(rowsEqual(good, Similarity
      .loadIndexCellLayout(spark, out, version)._3.select(cols: _*)))
    // seam 2: a STALE watermark (hwm file lost / rolled back) makes
    // the next incremental re-fold batches the bundle already holds —
    // the key-dedup merge must land the IDENTICAL bundle, not dupes
    spark.range(1).select(lit(-1L).as("hwm")).write.mode("overwrite")
      .parquet(s"$out/promote_hwm")
    val (b2, _, hwm2) = Similarity.promoteIngestLedgerIncremental(
      spark, defPath, version, ledgerPath, out)
    assert(b2 === 3L && hwm2 === 2L,
      "stale watermark must re-fold every batch")
    assert(rowsEqual(good, Similarity
      .loadIndexCellLayout(spark, out, version)._3.select(cols: _*)),
      "stale-watermark re-fold duplicated or lost rows")
  }

  test("delete propagation: annForgetPromoted survives compact + " +
       "forced full re-promote (history cannot resurrect an erased " +
       "vector), while a bare bundle-only forget demonstrably would") {
    import spark.implicits._
    val nlist = 16; val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, 600L).localCheckpoint(true)
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    def buildEstate(tag: String): (String, String, String) = {
      val defP = tmp(s"r18_prop_def_$tag")
      val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
        "embedding", nlist, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexDef(defP, version, c0, cb0)
      val ledger = tmp(s"r18_prop_ledger_$tag")
      (0 until 3).foreach { i =>
        graft.streaming.Streams.annIngestFold(
          lake.filter(pmod(col("vec_id"), lit(3L)) === i.toLong),
          i.toLong, defP, version, ledger, m)
      }
      val out = tmp(s"r18_prop_bundle_$tag")
      Similarity.promoteIngestLedgerIncremental(spark, defP, version,
        ledger, out)
      (defP, ledger, out)
    }
    def reEncoded(out: String): DataFrame =
      graft.sources.VersionedState.read(spark, out, version, "encoded")
    // --- the FIXED path: forget recorded at BOTH storage forms -----
    val (defA, ledgerA, outA) = buildEstate("a")
    Similarity.annForgetPromoted(outA, ledgerA, Seq(7L).toDF("vec_id"))
    assert(Similarity.liveEncoded(reEncoded(outA),
      Similarity.annTombstones(spark, outA))
      .filter(col("neighbor_id") === 7L).count() === 0L)
    Similarity.annCompact(spark, outA, version) // erases + clears
    assert(Similarity.annTombstones(spark, outA).count() === 0L)
    // crash seam: lost meta forces the FULL re-promote from history
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$outA/meta"))
    Similarity.promoteIngestLedgerIncremental(spark, defA, version,
      ledgerA, outA)
    assert(reEncoded(outA).filter(col("neighbor_id") === 7L)
      .count() === 0L,
      "ledger tombstone failed to hold through the full re-promote")
    // stale watermark refold can't resurrect either
    spark.range(1).select(lit(-1L).as("hwm")).write.mode("overwrite")
      .parquet(s"$outA/promote_hwm")
    Similarity.promoteIngestLedgerIncremental(spark, defA, version,
      ledgerA, outA)
    assert(reEncoded(outA).filter(col("neighbor_id") === 7L)
      .count() === 0L)
    // --- the NEGATIVE: a bare bundle-only forget resurrects --------
    val (defB, ledgerB, outB) = buildEstate("b")
    Similarity.annForget(outB, Seq(7L).toDF("vec_id")) // bundle only
    Similarity.annCompact(spark, outB, version)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$outB/meta"))
    Similarity.promoteIngestLedgerIncremental(spark, defB, version,
      ledgerB, outB)
    assert(reEncoded(outB).filter(col("neighbor_id") === 7L)
      .count() === m.toLong,
      "the negative control stopped reproducing — update the " +
        "propagation story")
  }

  test("sharded ingest + per-shard incremental promote composes: " +
       "shard-routed folds, per-shard touched-cell promotes, merged " +
       "PRUNED search equals the exact twin") {
    val n = 1600L; val m = 8; val ksub = 16; val k = 5
    val shards = 2
    val lakeAll = Similarity.hashBlobLake(spark, 2000L)
      .localCheckpoint(true)
    val lake0 = lakeAll.filter(col("vec_id") < n)
    val delta = lakeAll.filter(col("vec_id") >= n &&
      pmod(col("vec_id"), lit(64L)) < 8L)
    val grown = lake0.unionByName(delta).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(grown, "vec_id", 8)
      .localCheckpoint(true)
    val perShard = (0 until shards).map { sh =>
      val mine = (df: DataFrame) => df.filter(
        Similarity.annShardKey(col("vec_id"), shards) === sh.toLong)
      val part0 = mine(lake0).localCheckpoint(true)
      val nl = Similarity.nlistFor(part0.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val defP = tmp(s"r18_shinc_def$sh")
      val (c0, cb0) = Similarity.ivfpqTrain(part0, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexDef(defP, v, c0, cb0)
      val ledger = tmp(s"r18_shinc_ledger$sh")
      (0 until 2).foreach { i =>
        graft.streaming.Streams.annIngestFold(
          part0.filter(pmod(col("vec_id"), lit(2L)) === i.toLong),
          i.toLong, defP, v, ledger, m)
      }
      val out = tmp(s"r18_shinc_bundle$sh")
      Similarity.promoteIngestLedgerIncremental(spark, defP, v,
        ledger, out)
      // the delta arrives sharded by the SAME key, folds, promotes
      // incrementally — only its touched cells rewrite
      graft.streaming.Streams.annIngestFold(mine(delta), 2L, defP, v,
        ledger, m)
      val (nb, touched, _) = Similarity.promoteIngestLedgerIncremental(
        spark, defP, v, ledger, out)
      assert(nb === 1L && touched > 0L && touched < nl.toLong,
        s"shard $sh: delta must touch a strict subset of cells")
      val (cents, codebook, enc0) =
        Similarity.loadIndexCellLayout(spark, out, v)
      val live = Similarity.liveEncoded(enc0,
        Similarity.annTombstones(spark, out))
      val np = Similarity.nprobeFor(nl)
      val nPart = mine(grown).count()
      val (cells, got) = Similarity.ivfpqSearchPruned(q, "vec_id",
        "embedding", live, cents, codebook, k, np, m,
        rerank = Similarity.rerankFor(nPart, nl, np),
        rerankSource = Some(mine(grown)))
      assert(cells.nonEmpty)
      got
    }
    val merged = Similarity.ivfpqMergeTopK(perShard, k)
    val exact = Similarity.bruteTopKL2(q, grown, "vec_id",
      "embedding", k)
    val hits = exact.as("b").join(merged.as("l"),
      col("b.query_id") === col("l.query_id") &&
        col("b.neighbor_id") === col("l.neighbor_id"), "left_semi")
      .count()
    assert(hits === exact.count(),
      "sharded incremental estate lost true neighbors")
  }

  // ------------------------------------------- sharded delete lifecycle

  test("sharded lifecycle equals the unsharded one: forget routes " +
       "each id to ITS shard, per-shard compacts erase, and merged " +
       "search over survivors matches the single-index twin") {
    import spark.implicits._
    val n = 2000L; val m = 8; val ksub = 16; val k = 5
    val shards = 2
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 8)
      .localCheckpoint(true)
    // forget each probe's exact rank-1 neighbor (the adversarial set)
    val preExact = Similarity.bruteTopKL2(q, lake, "vec_id",
      "embedding", k).localCheckpoint(true)
    val tsIds = preExact.filter(col("rank") === 1)
      .select(col("neighbor_id")).distinct().localCheckpoint(true)
    val tsSet = tsIds.collect().map(_.getLong(0)).toSet
    // --- sharded: 2 independent bundles over the hash split --------
    val shardPaths = (0 until shards).map(s => tmp(s"r18_shard$s"))
    val perShardSearch = (0 until shards).map { sh =>
      val part = lake.filter(
        Similarity.annShardKey(col("vec_id"), shards) === sh.toLong)
        .localCheckpoint(true)
      val nl = Similarity.nlistFor(part.count())
      val v = Similarity.annIndexVersion(nl, m, ksub)
      val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndex(shardPaths(sh), v, c0, cb0,
        Similarity.ivfpqEncode(part, "vec_id", "embedding", c0, cb0, m))
      (sh, v, nl, part)
    }
    Similarity.annForgetSharded(shardPaths, tsIds)
    // every shard's tombstones are EXACTLY its own ids
    (0 until shards).foreach { sh =>
      val got = Similarity.annTombstones(spark, shardPaths(sh))
        .collect().map(_.getLong(0)).toSet
      assert(got.nonEmpty, s"shard $sh received no tombstones")
      assert(got.subsetOf(tsSet))
      // routing correctness: re-derive with the SAME expression
      val expect = tsIds
        .filter(Similarity.annShardKey(col("neighbor_id"), shards)
          === sh.toLong)
        .collect().map(_.getLong(0)).toSet
      assert(got === expect, s"shard $sh tombstones mis-routed")
    }
    // compact both shards, then merged search over survivors
    val merged = Similarity.ivfpqMergeTopK(
      perShardSearch.map { case (sh, v, nl, part) =>
        val (nb, na, _) =
          Similarity.annCompact(spark, shardPaths(sh), v, 1)
        assert(nb > na, s"shard $sh compact erased nothing")
        val (cents, codebook, enc) =
          Similarity.loadIndex(spark, shardPaths(sh), v)
        val live = Similarity.liveEncoded(enc,
          Similarity.annTombstones(spark, shardPaths(sh)))
        val np = Similarity.nprobeFor(nl)
        Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding", live,
          cents, codebook, k, np, m,
          rerank = Similarity.rerankFor(part.count(), nl, np),
          rerankSource = Some(part))
      }, k)
    // --- unsharded twin: same lake, same forget set ------------------
    val uPath = tmp("r18_unsharded")
    val unl = Similarity.nlistFor(n)
    val uv = Similarity.annIndexVersion(unl, m, ksub)
    val (uc, ucb) = Similarity.ivfpqTrain(lake, "vec_id", "embedding",
      unl, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(uPath, uv, uc, ucb,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", uc, ucb, m))
    Similarity.annForget(uPath, tsIds)
    Similarity.annCompact(spark, uPath, uv, 1)
    val (cents, codebook, uenc) = Similarity.loadIndex(spark, uPath, uv)
    val np = Similarity.nprobeFor(unl)
    val single = Similarity.ivfpqSearchEncoded(q, "vec_id",
      "embedding", Similarity.liveEncoded(uenc,
        Similarity.annTombstones(spark, uPath)),
      cents, codebook, k, np, m,
      rerank = Similarity.rerankFor(n, unl, np),
      rerankSource = Some(lake))
    // both equal the exact twin over survivors => equal to each other
    val survivors = lake.join(tsIds,
      lake("vec_id") === tsIds("neighbor_id"), "left_anti")
    val exact = Similarity.bruteTopKL2(q, survivors, "vec_id",
      "embedding", k)
      .withColumnRenamed("approx_d2", "exact_d2")
    def matches(got: DataFrame): Long =
      exact.as("b").join(got.as("l"),
        col("b.query_id") === col("l.query_id") &&
          col("b.neighbor_id") === col("l.neighbor_id"), "left_semi")
        .count()
    val nExact = exact.count()
    assert(matches(merged) === nExact,
      "sharded merged search lost survivors' neighbors")
    assert(matches(single) === nExact,
      "unsharded twin lost survivors' neighbors")
    assert(rowsEqual(
      merged.select(col("query_id"), col("rank"), col("neighbor_id")),
      single.select(col("query_id"), col("rank"), col("neighbor_id"))),
      "sharded lifecycle diverged from unsharded")
    // no forgotten id surfaces in either
    assert(merged.join(tsIds, Seq("neighbor_id"), "left_semi")
      .count() === 0L)
  }

  // ------------------------------------------------- gated pipelines

  test("Medallion.runGated builds the same mart as the ungated run; " +
       "a regressed budget and an undeclared table are both refused") {
    val gatedMart = Medallion.runGated(spark, SparkTestBase.sfDir,
      tmp("r18_med_gated")).localCheckpoint(true)
    val plainMart = Medallion.run(spark, SparkTestBase.sfDir,
      tmp("r18_med_plain")).localCheckpoint(true)
    assert(rowsEqual(gatedMart, plainMart))
    // negative control: mart budget regressed to 0 => refused
    val e1 = intercept[Exception] {
      Medallion.runGated(spark, SparkTestBase.sfDir,
        tmp("r18_med_regressed"),
        budgets = Medallion.shuffleBudgets + ("mart.trends" -> 0))
    }
    assert(e1.getMessage.contains("over the declared budget"),
      e1.getMessage)
    // undeclared table => refused (ungated = unshipped)
    val e2 = intercept[Exception] {
      Medallion.runGated(spark, SparkTestBase.sfDir,
        tmp("r18_med_undeclared"),
        budgets = Medallion.shuffleBudgets - "dim.time")
    }
    assert(e2.getMessage.contains("no declared shuffle budget"),
      e2.getMessage)
  }

  test("ReferenceWarehouse.runGated builds all 17+ tables under the " +
       "declared budgets; a deliberately-regressed budget is refused") {
    val src = whSources
    val lake = tmp("r18_refwh_gated")
    val mart = ReferenceWarehouse.runGated(spark, src, lake)
    assert(mart.count() > 0)
    val ctx = new ReferenceWarehouse.Ctx(spark, Map.empty, lake)
    ReferenceWarehouse.tables.foreach { t =>
      assert(new java.io.File(ctx.path(t.qualified)).exists(),
        s"${t.qualified} missing from the gated build")
    }
    val e = intercept[Exception] {
      ReferenceWarehouse.runGated(spark, src, tmp("r18_refwh_reg"),
        budgets = ReferenceWarehouse.shuffleBudgets +
          ("dim.attraction_hashtag" -> 1))
    }
    assert(e.getMessage.contains("over the declared budget"),
      e.getMessage)
  }

  // ------------------------------------------- text-tier drift advisors

  test("dsirBucketsFor sizes to load <= 1/4 at the next power of " +
       "two, clamped [4096, 2^24]") {
    assert(Streams.dsirBucketsFor(0) === 4096)
    assert(Streams.dsirBucketsFor(1024) === 4096)
    assert(Streams.dsirBucketsFor(1025) === 8192)
    assert(Streams.dsirBucketsFor(2048) === 8192)
    assert(Streams.dsirBucketsFor(3000) === 16384)
    assert(Streams.dsirBucketsFor(1L << 30) === (1 << 24))
    intercept[IllegalArgumentException](Streams.dsirBucketsFor(-1))
  }

  test("dsirLedgerAdvisor: quiet on a lightly-loaded ledger, fires " +
       "when occupancy outgrows the stamped width by the factor") {
    import spark.implicits._
    def fold(docs: DataFrame, path: String, nb: Int): Unit = {
      graft.operators.Mutations.seedEmptyLedger(spark, path,
        Streams.dsirLedgerSchema)
      Streams.dsirLedgerFold(docs, 0L, path, nb)
    }
    // light: few features => quiet at 4096
    val light = spark.range(20).select(col("id").as("doc_id"),
      concat(lit("alpha beta w"), col("id")).as("text"),
      lit("en").as("lang"))
    val lightPath = tmp("r18_dsir_light")
    fold(light, lightPath, 4096)
    val quiet = Streams.dsirLedgerAdvisor(spark, lightPath).head()
    assert(!quiet.getAs[Boolean]("rebuild_recommended"))
    assert(quiet.getAs[Long]("nb") === 4096L)
    // heavy: ~7200 distinct features into 4096 buckets => load > 1/4
    val heavy = spark.range(600).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 6).map(j =>
        concat(lit("w"), (col("id") * 6 + j).cast("string"))): _*)
        .as("text"),
      lit("en").as("lang"))
    val heavyPath = tmp("r18_dsir_heavy")
    fold(heavy, heavyPath, 4096)
    val fired = Streams.dsirLedgerAdvisor(spark, heavyPath).head()
    assert(fired.getAs[Boolean]("rebuild_recommended"))
    assert(fired.getAs[Long]("sized_nb_now") >= 2L * 4096L)
    assert(fired.getAs[Long]("n_occupied") > 1024L)
  }

  test("boilerplateLedgerAdvisor: quiet when the blacklist is a thin " +
       "head, fires when the threshold captures too much of the corpus") {
    import spark.implicits._
    val docs = spark.range(40).select(col("id").as("doc_id"),
      concat(lit("unique line "), col("id"), lit("\nfooter text"))
        .as("text"))
    val path = tmp("r18_bp_ledger")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      Streams.boilerplateLedgerSchema)
    Streams.boilerplateLedgerFold(docs.toDF(), 0L, path)
    // 41 distinct segments (40 unique + 1 footer); footer docfreq 40
    val quiet = Streams.boilerplateLedgerAdvisor(spark, path, 10L)
      .head()
    assert(quiet.getAs[Long]("n_segments") === 41L)
    assert(quiet.getAs[Long]("n_blacklisted") === 1L)
    assert(!quiet.getAs[Boolean]("rethreshold_recommended"))
    // a stale threshold of 0 blacklists EVERYTHING => fires
    val fired = Streams.boilerplateLedgerAdvisor(spark, path, 0L)
      .head()
    assert(fired.getAs[Long]("n_blacklisted") === 41L)
    assert(fired.getAs[Boolean]("rethreshold_recommended"))
  }

  // ------------------------------------------- slim window sorts

  test("corpus-grain ANN top-k windows sort SLIM rows: no array " +
       "payload reaches any window sort in bruteTopK/bruteTopKL2/" +
       "sq8TopK/assignCells plans (the fat-assign class, window tier)") {
    import org.apache.spark.sql.types.ArrayType
    val lake = Similarity.hashBlobLake(spark, 200L).localCheckpoint(true)
    val q = lake.filter(col("vec_id") < 4L)
    def assertSlim(tag: String, df: DataFrame): Unit = {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty, s"$tag: expected a window in the plan")
      wins.foreach { w =>
        val fat = w.child.output.filter(a =>
          a.dataType.isInstanceOf[ArrayType])
        assert(fat.isEmpty,
          s"$tag: window sorts array payload(s) ${fat.map(_.name)}")
      }
    }
    assertSlim("bruteTopK",
      Similarity.bruteTopK(q, lake, "vec_id", "embedding", 5))
    assertSlim("bruteTopKL2",
      Similarity.bruteTopKL2(q, lake, "vec_id", "embedding", 5))
    assertSlim("sq8TopK",
      Similarity.sq8TopK(q, lake, "vec_id", "embedding", 5))
    assertSlim("assignCells",
      Similarity.assignCells(lake, "vec_id", "embedding", 8))
  }

  // ---------------------------------------------------- fixtures

  private val fx = "src/test/resources/fixtures"
  private def readCsv(path: String) =
    spark.read.option("header", "true").csv(path)

  /** The ReferenceWarehouseSpec fixture sources, reused for the gated
    * build (same construction — the gate must see the same plans). */
  private def whSources = {
    import spark.implicits._
    val reviewsRaw = Seq(
      ("台北塔樓", "r1", 5L, "好看", "3天前", "2024-05-01 08:00:00", "u1", "http://u/1"),
      ("台北塔樓", "r2", 4L, "不錯", "2週前", "2024-05-01 08:00:00", "u2", "http://u/2"),
      ("木柵動物園", "r3", 3L, "可愛", "5個月前", "2024-05-01 08:00:00", "u1", "http://u/1"),
      ("木柵動物園", "r4", 4L, "好玩", "1年前", "2024-05-01 08:00:00", "u3", "http://u/3"),
      ("台北塔樓", "r5", 2L, "普通", "10分鐘前", "2024-05-01 08:00:00", "u2", "http://u/2"),
      ("台北塔樓", "r6", 1L, "怪", "昨天", "2024-05-01 08:00:00", "u4", "http://u/4"),
      ("木柵動物園", null, 9L, "孤兒", "3天前", "2024-05-01 08:00:00", "u9", "http://u/9"))
      .toDF("place_name", "review_id", "rating", "review_text",
        "published_at", "extracted_at", "user_name", "user_url")
    Map(
      "tripadvisor_raw" ->
        ReferenceOds.withRowIds(readCsv(s"$fx/src_tripadvisor.csv")),
      "taipei_raw" ->
        ReferenceOds.withRowIds(readCsv(s"$fx/src_taipei.csv")),
      "gmaps_places_raw" -> spark.read.schema(Gmaps.placesRawSchema)
        .json(s"$fx/places/*/*.jsonl")
        .withColumn("__file", input_file_name()),
      "gmaps_reviews_raw" -> reviewsRaw,
      "fb_posts_raw" ->
        readCsv(s"$fx/postsInformation_TaipeiTower_2024-05-01.csv")
          .withColumn("__file", input_file_name()),
      "weather_raw" -> readCsv(s"$fx/weatherInfoDW.csv"),
      "hashtag_ids" -> Seq(("河畔夜市", "tag-id-1"))
        .toDF("name", "attraction_id"))
  }
}
