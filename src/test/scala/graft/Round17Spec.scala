package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.QuerySupport

/** Round-9 (continued) pins: the standing-ledger DELETE lifecycle —
  * tombstone (logical, x119) → compact (physical erasure +
  * small-file close-out via VersionedState.rewritePart's crash-safe
  * swap, x120) → vacuum (stale-version retention) — and
  * metadata-filtered search over the standing index (x121): routing
  * boundary, over-fetch sizing rule, and the degenerate always-true
  * filter reproducing unfiltered search row-for-row. */
class Round17Spec extends GraftSuite {

  import graft.operators.Similarity
  import graft.sources.VersionedState

  private def tmp(name: String): String = {
    val d = new java.io.File(graft.sources.ScratchRoot.path(name))
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getAbsolutePath
  }

  // ------------------------------------ VersionedState.rewritePart

  test("rewritePart swaps ONE part in place: rewritten rows land, " +
       "sibling parts and the version stamp survive, and no staging " +
       "directories are left behind") {
    import spark.implicits._
    val path = tmp("r17_rewrite")
    val a = Seq((1L, "keep"), (2L, "drop"), (3L, "keep"))
      .toDF("id", "tag")
    val b = Seq((9L, "sibling")).toDF("id", "tag")
    VersionedState.write(path, "v1", "a" -> a, "b" -> b)
    val live = VersionedState.read(spark, path, "v1", "a")
      .filter(col("tag") === "keep")
    VersionedState.rewritePart(path, "v1", "a", live, nFiles = 1)
    assert(VersionedState.exists(spark, path, "v1"),
      "the version stamp must survive a part rewrite")
    val back = VersionedState.read(spark, path, "v1", "a")
    assert(back.count() === 2L)
    assert(back.filter(col("tag") === "drop").count() === 0L)
    // sibling part untouched
    assert(VersionedState.read(spark, path, "v1", "b")
      .count() === 1L)
    // crash-window hygiene: neither staging nor backup dir remains
    val f = new java.io.File(path)
    val leftovers = Option(f.listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.contains(".compact") ||
        n.contains(".pre-compact"))
    assert(leftovers.isEmpty, s"staging leftovers: $leftovers")
    // and the rewritten part is exactly one data file (the sized
    // write — the small-file close-out annCompact exists for)
    val dataFiles = new java.io.File(s"$path/a").listFiles()
      .count(x => x.isFile && !x.getName.startsWith("_") &&
        !x.getName.startsWith("."))
    assert(dataFiles === 1)
  }

  test("rewritePart refuses the meta part, a zero file count, and a " +
       "bundle that does not exist at the named version") {
    import spark.implicits._
    val path = tmp("r17_rewrite_guards")
    val a = Seq((1L, "x")).toDF("id", "tag")
    VersionedState.write(path, "v1", "a" -> a)
    intercept[IllegalArgumentException] {
      VersionedState.rewritePart(path, "v1", "meta", a, 1)
    }
    intercept[IllegalArgumentException] {
      VersionedState.rewritePart(path, "v1", "a", a, 0)
    }
    intercept[IllegalArgumentException] {
      VersionedState.rewritePart(path, "v2", "a", a, 1)
    }
  }

  // ---------------------------------------- VersionedState.vacuumRoot

  test("vacuumRoot deletes stale versioned bundles, keeps the named " +
       "versions, and leaves meta-less directories alone (they may " +
       "be a bundle mid-write)") {
    import spark.implicits._
    val root = tmp("r17_vacuum")
    val df = Seq((1L, "x")).toDF("id", "tag")
    VersionedState.write(s"$root/model_v1", "v1", "w" -> df)
    VersionedState.write(s"$root/model_v2", "v2", "w" -> df)
    // a directory with no valid meta — a writer mid-flight; vacuum
    // must not race it
    new java.io.File(s"$root/inflight").mkdirs()
    val (kept, deleted) = VersionedState.vacuumRoot(spark, root,
      keep = Set("v2"))
    assert(kept === 1 && deleted === 1)
    assert(!VersionedState.exists(spark, s"$root/model_v1", "v1"))
    assert(VersionedState.exists(spark, s"$root/model_v2", "v2"))
    assert(new java.io.File(s"$root/inflight").exists(),
      "vacuum deleted a meta-less directory — that races a writer")
    // idempotent: a second sweep finds nothing stale
    assert(VersionedState.vacuumRoot(spark, root,
      keep = Set("v2")) === ((1, 0)))
  }

  test("a bundle stamped in the pre-text parquet format stays " +
       "readable: exists, read and vacuumRoot see its version, and a " +
       "rewrite moves it to the text stamp") {
    import spark.implicits._
    val root = tmp("r17_legacy_stamp")
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "tag")
    def legacyBundle(path: String, v: String): Unit = {
      VersionedState.write(path, v, "a" -> df)
      spark.range(1).select(lit(v).as("version"))
        .write.mode("overwrite").parquet(s"$path/meta")
    }
    val path = s"$root/model_v1"
    legacyBundle(path, "v1")
    assert(!new java.io.File(s"$path/meta/version.txt").exists())
    assert(VersionedState.exists(spark, path, "v1"))
    assert(!VersionedState.exists(spark, path, "v2"))
    assert(VersionedState.read(spark, path, "v1", "a").count() === 2L)
    assert(VersionedState.readParts(spark, path, "v1", "a")
      .head.count() === 2L)
    intercept[IllegalArgumentException] {
      VersionedState.read(spark, path, "v2", "a")
    }
    // retention: kept when named, deleted otherwise
    legacyBundle(s"$root/model_v0", "v0")
    assert(VersionedState.vacuumRoot(spark, root, keep = Set("v1")) ===
      ((1, 1)))
    assert(VersionedState.exists(spark, path, "v1"))
    assert(!new java.io.File(s"$root/model_v0").exists())
    // a rewrite re-stamps in the text format: version.txt is all
    // that is left in meta (dot-names are the local filesystem's
    // checksum sidecars)
    VersionedState.rewritePart(path, "v1", "a",
      VersionedState.read(spark, path, "v1", "a")
        .filter(col("tag") === "x"), nFiles = 1)
    assert(new java.io.File(s"$path/meta").list().toSeq
      .filterNot(_.startsWith(".")) === Seq("version.txt"))
    assert(VersionedState.read(spark, path, "v1", "a").count() === 1L)
  }

  // -------------------------------- tombstones: annForget/liveEncoded

  test("annForget appends idempotently (redelivered ids dedup on " +
       "read) and liveEncoded removes every encoded row of a " +
       "forgotten id; an untouched bundle has an empty tombstone set") {
    import spark.implicits._
    val path = tmp("r17_forget")
    assert(Similarity.annTombstones(spark, path).count() === 0L)
    val ids = Seq(7L, 13L).toDF("vec_id")
    Similarity.annForget(path, ids)
    Similarity.annForget(path, ids) // at-least-once redelivery
    val ts = Similarity.annTombstones(spark, path)
    assert(ts.count() === 2L, "tombstones must dedup on read")
    val encoded = Seq((0L, 7L, 0, 3), (0L, 7L, 1, 5), (1L, 8L, 0, 2),
      (2L, 13L, 0, 1)).toDF("cell", "neighbor_id", "sub", "code")
    val live = Similarity.liveEncoded(encoded, ts)
    assert(live.count() === 1L)
    assert(live.head().getLong(1) === 8L)
  }

  // --------------------------------------------- annCompact equality

  test("annCompact: post-compact search equals pre-compact search " +
       "over liveEncoded ROW-FOR-ROW, the tombstone set clears, the " +
       "version survives, and a second compact is a no-op") {
    val n = 500L; val nlist = 16; val m = 8; val k = 5; val np = 4
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val path = tmp("r17_compact")
    val version = Similarity.annIndexVersion(nlist, m, 16)
    val (cents, codebook) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(path, version, cents, codebook,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", cents,
        codebook, m))
    import spark.implicits._
    val tsIds = Seq(3L, 77L, 401L).toDF("vec_id")
    Similarity.annForget(path, tsIds)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 8)
      .localCheckpoint(true)
    val rr = Similarity.rerankFor(n, nlist, np)
    def search(enc: DataFrame): DataFrame =
      Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding", enc,
        cents, codebook, k, np, m = m, rerank = rr,
        rerankSource = Some(lake))
    val logical = search(Similarity.liveEncoded(
      VersionedState.read(spark, path, version, "encoded"),
      Similarity.annTombstones(spark, path))).localCheckpoint(true)
    val (nb, na, nf) = Similarity.annCompact(spark, path, version)
    assert(nb === n * m && na === (n - 3) * m && nf === 1)
    assert(VersionedState.exists(spark, path, version))
    assert(Similarity.annTombstones(spark, path).count() === 0L)
    val physical = search(
      VersionedState.read(spark, path, version, "encoded"))
    assert(logical.exceptAll(physical).isEmpty &&
      physical.exceptAll(logical).isEmpty,
      "physical erasure changed search results vs the logical " +
        "tombstone view — compaction must be invisible to consumers")
    // idempotence: nothing left to fold
    val (nb2, na2, _) = Similarity.annCompact(spark, path, version)
    assert(nb2 === na && na2 === na)
  }

  // ------------------------------------ freq ledger: capacity stamp

  test("freqLedgerFold fails fast on a sketch-capacity mismatch — " +
       "bounds are only meaningful within one capacity (the __nb/" +
       "__sep recipe stamp on the sketch tier), and the gate fires " +
       "BEFORE the idempotence gate") {
    import spark.implicits._
    val path = tmp("r17_freq_ledger")
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      graft.streaming.Streams.freqLedgerSchema)
    val batch = Seq(("web", "the"), ("web", "cat"), ("web", "the"))
      .toDF("source", "tok")
    graft.streaming.Streams.freqLedgerFold(batch, 0L, path,
      maxMapSize = 1024)
    // same capacity folds fine
    graft.streaming.Streams.freqLedgerFold(batch, 1L, path,
      maxMapSize = 1024)
    // a mismatched capacity throws even on a REPLAYED batch id
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.freqLedgerFold(batch, 1L, path,
        maxMapSize = 512)
    }
    assert(e.getMessage.contains("maxMapSize"))
  }

  // ------------------------------- cell layout: probe → file pruning

  test("cell-layout search pushes the probe set down as a PARTITION " +
       "filter (FileSourceScanExec reads only probed directories) " +
       "and equals the unpruned search row-for-row") {
    val n = 500L; val nlist = 16; val m = 8; val k = 5; val np = 4
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val path = tmp("r17_cell_layout")
    val version = Similarity.annIndexVersion(nlist, m, 16)
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexCellLayout(path, version, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    val (cents, codebook, encoded) =
      Similarity.loadIndexCellLayout(spark, path, version)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
      .localCheckpoint(true)
    val rr = Similarity.rerankFor(n, nlist, np)
    val (cells, pruned) = Similarity.ivfpqSearchPruned(q, "vec_id",
      "embedding", encoded, cents, codebook, k, np, m,
      rerank = rr, rerankSource = Some(lake))
    assert(cells.nonEmpty && cells.length < nlist,
      s"4 probes x 4 queries should probe a strict subset of " +
        s"$nlist cells, got ${cells.length}")
    // the scan itself reads only probed partitions — the pruning is
    // in the PLAN, not a post-scan filter
    val prunedScan = encoded
      .filter(org.apache.spark.sql.functions.col("cell")
        .isInCollection(cells.toSeq))
    val scans = prunedScan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "no partition filter reached the parquet scan")
    assert(scans.map(_.selectedPartitions.partitionCount).sum
        === cells.length,
      "scan reads a different directory count than the probe set")
    // and pruning changes nothing about results
    val full = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
      encoded, cents, codebook, k, np, m, rerank = rr,
      rerankSource = Some(lake))
    assert(pruned.exceptAll(full).isEmpty &&
      full.exceptAll(pruned).isEmpty)
  }

  // ------------------------------ promote: ingest form → probe form

  test("promoteIngestLedger: the fold-accreted __bid ledger promotes " +
       "to a cell-layout bundle with content unchanged (row " +
       "equality), and the bundle validates under the same version") {
    val n = 500L; val nlist = 16; val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val defPath = tmp("r17_promote_def")
    val encPath = tmp("r17_promote_enc")
    val outPath = tmp("r17_promote_out")
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, ksub, coarseIters = 1, pqIters = 1)
    Similarity.persistIndexDef(defPath, version, c0, cb0)
    // two ingest batches through the REAL fold (not a shortcut):
    // disjoint halves, each owning its __bid partition
    graft.streaming.Streams.annIngestFold(
      lake.filter(col("vec_id") % 2 === 0), 0L, defPath, version,
      encPath, m)
    graft.streaming.Streams.annIngestFold(
      lake.filter(col("vec_id") % 2 === 1), 1L, defPath, version,
      encPath, m)
    Similarity.promoteIngestLedger(spark, defPath, version, encPath,
      outPath)
    assert(Similarity.indexExists(spark, outPath, version))
    val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
    val acc = spark.read.parquet(encPath).select(cols: _*)
    val prom = Similarity.loadIndexCellLayout(spark, outPath, version)
      ._3.select(cols: _*)
    assert(prom.exceptAll(acc).isEmpty && acc.exceptAll(prom).isEmpty,
      "promotion changed index content — it must only move layout")
  }

  // --------------------------------------- when-to-compact advisor

  test("compactAdvisor: orphan tombstones (already erased) do not " +
       "count toward tombstone debt, and the threshold is a >= " +
       "boundary") {
    import spark.implicits._
    val n = 500L; val nlist = 16; val m = 8
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val path = tmp("r17_cadvisor")
    val version = Similarity.annIndexVersion(nlist, m, 16)
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    Similarity.persistIndex(path, version, c0, cb0,
      Similarity.ivfpqEncode(lake, "vec_id", "embedding", c0, cb0, m))
    Similarity.annCompact(spark, path, version)
    // an orphan forget: the id was never encoded — no LIVE debt
    Similarity.annForget(path, Seq(99999999L).toDF("vec_id"))
    val quiet = Similarity.compactAdvisor(spark, path, version).head()
    assert(quiet.getAs[Long]("n_tombstoned_live") === 0L)
    assert(!quiet.getAs[Boolean]("compact_recommended"),
      "an orphan tombstone fired the debt rule — erased ids must " +
        "not re-trigger compaction forever")
    // exactly at the boundary: 5 of 500 = 1% >= 1% fires
    Similarity.annForget(path,
      Seq(0L, 1L, 2L, 3L, 4L).toDF("vec_id"))
    val atBoundary = Similarity.compactAdvisor(spark, path, version)
      .head()
    assert(atBoundary.getAs[Double]("ts_fraction") === 0.01)
    assert(atBoundary.getAs[Boolean]("compact_recommended"))
    assert(atBoundary.getAs[String]("reason") === "tombstones")
  }

  // --------------------- engine-wide tombstone wiring is LIVE

  test("standingAnnIndex (the shared guarded loader) excludes " +
       "tombstoned ids on EVERY load — the x119 contract holds for " +
       "consumers that never called annForget themselves") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val n = 500L; val nlist = 16
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val version = Similarity.annIndexVersion(nlist, 8, 16)
    // the same body for both layouts standingAnnBundle writes
    for ((cellLayout, key) <- Seq(false -> "r17-wiring-test",
                                  true -> "r17-wiring-test-cells")) {
      val path = QuerySupport.annLedgerPath(version, key)
      // fresh key: ensure no prior state
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val (_, _, enc0) = QuerySupport.standingAnnIndex(spark, key, lake,
        nlist, 8, 16, cellLayout)
      assert(enc0.filter(col("neighbor_id") === 42L).count() === 8L)
      if (cellLayout)
        assert(enc0.schema("cell").dataType === LongType,
          "the cell-layout read must cast the partition column back to " +
            "LONG")
      val stamp = new java.io.File(s"$path/meta/version.txt")
      val stamped = stamp.lastModified()
      assert(stamped > 0L, s"no version stamp at $stamp")
      Similarity.annForget(path, Seq(42L).toDF("vec_id"))
      // a DIFFERENT consumer loads through the same helper: excluded
      val (_, _, enc1) = QuerySupport.standingAnnIndex(spark, key, lake,
        nlist, 8, 16, cellLayout)
      assert(enc1.filter(col("neighbor_id") === 42L).count() === 0L,
        "a forgotten id surfaced from the shared loader — the " +
          "engine-wide tombstone wiring is dead")
      assert(enc1.count() === (n - 1) * 8)
      assert(stamp.lastModified() === stamped,
        "the second guarded call rebuilt the bundle")
    }
  }

  // --------------------------------------- streaming delete (st24)

  test("streamForget: the assembled tombstone set equals the batch " +
       "append for any split, and replaying the whole stream " +
       "changes nothing (append idempotence by algebra — the st16 " +
       "no-guard class)") {
    import spark.implicits._
    val path = tmp("r17_stream_forget")
    val ids = Seq(3L, 8L, 13L, 22L).toDF("vec_id")
    graft.streaming.Streams.streamForget(spark, ids, path,
      splitFiles = 2, tag = "r17sf")
    val assembled = Similarity.annTombstones(spark, path)
      .collect().map(_.getLong(0)).sorted
    assert(assembled.toSeq === Seq(3L, 8L, 13L, 22L))
    // full-stream replay (at-least-once, the worst case): no change
    graft.streaming.Streams.streamForget(spark, ids, path,
      splitFiles = 2, tag = "r17sf")
    assert(Similarity.annTombstones(spark, path).count() === 4L)
  }

  // ------------------------------------------------------ index fsck

  test("annFsck: a healthy bundle reads clean; each crafted " +
       "corruption class is surfaced exactly once; an orphan " +
       "tombstone (the post-compact shape) is informational, not a " +
       "failure") {
    import spark.implicits._
    val n = 500L; val nlist = 16; val m = 8; val ksub = 16
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val path = tmp("r17_fsck")
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val (c0, cb0) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, ksub, coarseIters = 1, pqIters = 1)
    val enc = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      c0, cb0, m).localCheckpoint(true)
    Similarity.persistIndex(path, version, c0, cb0, enc)
    val clean = Similarity.annFsck(spark, path, version, m, ksub)
      .head()
    assert(clean.getAs[Boolean]("clean"))
    assert(clean.getAs[Long]("n_vectors") === n)
    // poison: drop one sub of vec 3, out-of-range code on vec 5,
    // unknown cell on vec 9 — each must surface
    val poisoned = enc
      .filter(!(col("neighbor_id") === 3L && col("sub") === 0))
      .unionByName(enc.filter(col("neighbor_id") === 5L &&
          col("sub") === 0)
        .withColumn("code", lit(ksub)))
      .unionByName(enc.filter(col("neighbor_id") === 9L &&
          col("sub") === 0)
        .withColumn("cell", lit(10000000L)))
    Similarity.persistIndex(path, version, c0, cb0, poisoned)
    Similarity.annForget(path, Seq(99999999L).toDF("vec_id"))
    val bad = Similarity.annFsck(spark, path, version, m, ksub)
      .head()
    assert(!bad.getAs[Boolean]("clean"))
    assert(bad.getAs[Long]("n_bad_subshape") === 3L) // 3, 5, 9
    assert(bad.getAs[Long]("n_bad_codes") === 1L)
    assert(bad.getAs[Long]("n_unknown_cells") === 1L)
    assert(bad.getAs[Long]("n_orphan_tombstones") === 1L)
  }

  // ----------------------------------------- plan audit + deploy gate

  test("PlanAudit audits the PREPARED plan (sparkPlan hides " +
       "exchanges), and the gate refuses over-budget and " +
       "corpus-squared plans while honoring an explicit opt-in") {
    import graft.plans.PlanAudit
    val df = spark.range(100)
      .groupBy((col("id") % 10).as("k")).count()
    val a = PlanAudit.auditPlan(df)
    // the aggregation's exchange exists on the audit surface — on
    // sparkPlan (pre-EnsureRequirements) it would count 0 and every
    // shuffle budget would pass vacuously
    assert(a.nShuffleExchanges >= 1)
    assert(df.queryExecution.sparkPlan.collect {
      case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e
    }.isEmpty, "sparkPlan grew exchanges — the audit could " +
      "simplify to it")
    PlanAudit.gate(df, maxShuffleExchanges = a.nShuffleExchanges)
    intercept[IllegalArgumentException] {
      PlanAudit.gate(df,
        maxShuffleExchanges = a.nShuffleExchanges - 1)
    }
    val cart = spark.range(3).crossJoin(spark.range(3))
    intercept[IllegalArgumentException] {
      PlanAudit.gate(cart, maxShuffleExchanges = 100)
    }
    // corpus² only on explicit opt-in (a deliberate tiny cross)
    PlanAudit.gate(cart, maxShuffleExchanges = 100,
      allowCartesian = true)
  }

  // --------------------------------------- filtered search + sizing

  test("overfetchFor: k/sel with 4x safety, floored at k; rejects " +
       "a selectivity outside (0, 1]") {
    assert(Similarity.overfetchFor(5, 1.0) === 20)
    assert(Similarity.overfetchFor(5, 0.25) === 80)
    assert(Similarity.overfetchFor(5, 0.001) === 20000)
    intercept[IllegalArgumentException] {
      Similarity.overfetchFor(5, 0.0)
    }
    intercept[IllegalArgumentException] {
      Similarity.overfetchFor(5, 1.01)
    }
    intercept[IllegalArgumentException] {
      Similarity.overfetchFor(0, 0.5)
    }
  }

  test("annTopKFilteredRouted routes by measured survivor count — " +
       "selective filters pre-filter EXACT, broad ones post-filter " +
       "ANN with widened knobs; the always-true filter on the ANN " +
       "branch reproduces unfiltered search row-for-row") {
    val n = 500L; val nlist = 16; val m = 8; val k = 5
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val (cents, codebook) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist, m, 16, coarseIters = 1, pqIters = 1)
    val encoded = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, codebook, m).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 8)
      .localCheckpoint(true)
    // selective: 5 survivors <= cutoff -> exact over the survivor set
    val sel = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
      "embedding", pmod(col("vec_id"), lit(100L)) === 0, k,
      encoded, cents, codebook, nlist, m = m, bruteCutoff = 100L)
    assert(sel.route === "exact_filtered" && sel.nSurvivors === 5L)
    // exact by construction: equals the brute twin over survivors
    val twin = Similarity.bruteTopKL2(q,
      lake.filter(pmod(col("vec_id"), lit(100L)) === 0), "vec_id",
      "embedding", k)
    assert(sel.result.exceptAll(twin).isEmpty &&
      twin.exceptAll(sel.result).isEmpty)
    // broad + cutoff 0: the ANN branch, knobs widened by 1/sel
    val ann = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
      "embedding", lit(true), k, encoded, cents, codebook, nlist,
      m = m, bruteCutoff = 0L)
    assert(ann.route === "ann_overfetch")
    assert(ann.nSurvivors === n)
    assert(ann.kPrime === Similarity.overfetchFor(k, 1.0))
    assert(ann.nprobe === Similarity.nprobeFor(nlist))
    // the preflight MEASURED this decision: filtering nothing loses
    // nothing, so the sample recall is exactly 1.0 (and a floor
    // outside [0,1] is a caller error)
    assert(ann.recallPreflight === 1.0d)
    intercept[IllegalArgumentException] {
      Similarity.annTopKFilteredRouted(q, lake, "vec_id",
        "embedding", lit(true), k, encoded, cents, codebook, nlist,
        m = m, recallFloor = 1.5)
    }
    // sel = 1 degenerate: filtering nothing must reproduce the
    // unfiltered sized search exactly (same exact-rerank tail)
    val plain = Similarity.ivfpqSearchEncoded(q, "vec_id",
      "embedding", encoded, cents, codebook, k,
      Similarity.nprobeFor(nlist), m = m,
      rerank = math.max(Similarity.rerankFor(n, nlist,
        Similarity.nprobeFor(nlist)), ann.kPrime),
      rerankSource = Some(lake))
    assert(ann.result.exceptAll(plain).isEmpty &&
      plain.exceptAll(ann.result).isEmpty)
    // an empty survivor set is a caller error, not silent zero rows
    intercept[IllegalArgumentException] {
      Similarity.annTopKFilteredRouted(q, lake, "vec_id",
        "embedding", lit(false), k, encoded, cents, codebook, nlist,
        m = m)
    }
  }
}
