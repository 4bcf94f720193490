package graft

import org.apache.spark.sql.functions._

/** Round-9 pins: the standing-ANN-index LIFECYCLE — the
  * geometry-drift advisor's both branches (a ledger that accreted
  * past its trained geometry must say so; one that didn't must not),
  * the executable above-the-clamp sharding seam (annShardsFor rule
  * boundaries + two-shard merged search EQUAL to the unsharded
  * index and to the exact twin on the deterministic lake), the
  * router's witnessed sizing (knob overrides propagate to the
  * surfaced AnnRoute; negatives are rejected, not silently
  * ADC-only), the two-stage refined search's degenerate equality
  * (refineTo ≥ pool reproduces the single-stage exact rerank
  * row-for-row), and the recipe fail-fasts ADVICE r8 asked for
  * (annIngestFold geometry-vs-stamp, dsirLedgerFold bucket width)
  * plus the deterministic writeAdvised tiny-regime assignment. */
class Round16Spec extends GraftSuite {

  import graft.operators.{Layout, Similarity}

  private val dir = SparkTestBase.sfDir

  // ------------------------------------------------ annShardsFor rule

  test("annShardsFor: the executable above-the-clamp seam — 1 shard " +
       "through the 4√n = 65536 crossover, then √-growth") {
    assert(Similarity.annShardsFor(2000L) === 1)
    assert(Similarity.annShardsFor(200000L) === 1)
    // the exact crossover: 4·√(2^28) = 65536 — still one shard
    assert(Similarity.annShardsFor(268435456L) === 1)
    assert(Similarity.annShardsFor(268435457L) === 2)
    // a 1e10-vector lake (the 100 TB shape) is 7 shards
    assert(Similarity.annShardsFor(10000000000L) === 7)
    assert(Similarity.annShardsFor(0L) === 1)
    intercept[IllegalArgumentException] {
      Similarity.annShardsFor(-1L)
    }
  }

  // --------------------------------------- router: witnessed sizing

  test("annTopKAutoSized surfaces the knobs the router actually " +
       "used: overrides propagate, defaults resolve through the " +
       "sizing rules, negatives are rejected") {
    val lake = Similarity.hashBlobLake(spark, 2000L)
      .localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    // explicit knobs come back verbatim (x112's operating point)
    val pinned = Similarity.annTopKAutoSized(q, lake, "vec_id",
      "embedding", 5, nlist = 64, nprobe = 8, rerank = 999)
    assert(pinned.route === "ivfpq")
    assert(pinned.nlist === 64 && pinned.nprobe === 8 &&
      pinned.rerank === 999)
    // all-defaults resolve through nlistFor/nprobeFor/rerankFor —
    // the surfaced values ARE the rules' answers, witnessed
    val sized = Similarity.annTopKAutoSized(q, lake, "vec_id",
      "embedding", 5)
    assert(sized.route === "ivfpq")
    assert(sized.nlist === Similarity.nlistFor(2000L))
    assert(sized.nprobe === Similarity.nprobeFor(sized.nlist))
    assert(sized.rerank ===
      Similarity.rerankFor(2000L, sized.nlist, sized.nprobe))
    // a negative rerank must fail fast — under the old ivfpqTopK
    // vocabulary it meant "no rerank"; silently sizing it instead
    // would hand a stale caller a different contract
    intercept[IllegalArgumentException] {
      Similarity.annTopKAutoSized(q, lake, "vec_id", "embedding", 5,
        rerank = -1)
    }
  }

  test("annTopKAutoSized on the exact route reports no geometry " +
       "(knobs 0): there is no index to size") {
    val emb = Tables.load(spark, dir, "embeddings").localCheckpoint(true)
    val r = Similarity.annTopKAutoSized(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
    assert(r.route === "exact")
    assert(r.nlist === 0 && r.nprobe === 0 && r.rerank === 0)
  }

  // ------------------------------------------- geometry-drift advisor

  test("indexGeometryDrift: both branches — a ledger at its sized " +
       "geometry stays quiet; one whose population outgrew the " +
       "trained geometry fires the rebuild trigger") {
    val lake = Similarity.hashBlobLake(spark, 500L).localCheckpoint(true)
    val (cents, cb) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16,
      coarseIters = 1, pqIters = 1)
    val enc = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, cb, 8).localCheckpoint(true)
    // 500 vectors size to nlistFor(500) = 16 — the trained geometry
    // is current, no rebuild
    val quiet = Similarity.indexGeometryDrift(enc, 16).head()
    assert(quiet.getAs[Long]("n_now") === 500L)
    assert(quiet.getAs[Long]("sized_nlist_now") === 16L)
    assert(!quiet.getAs[Boolean]("rebuild_recommended"))
    // the SAME state audited against a definition trained when the
    // lake was far smaller: nlistFor(500) = 16 ≥ 2×4 — fires
    val fires = Similarity.indexGeometryDrift(enc, 4).head()
    assert(fires.getAs[Long]("trained_nlist") === 4L)
    assert(fires.getAs[Boolean]("rebuild_recommended"))
    // occupancy stats come from the ledger itself, not the corpus
    assert(quiet.getAs[Long]("max_occ") >= 1L)
    assert(quiet.getAs[Long]("n_cells_occupied") <= 16L)
  }

  // ------------------------------- sharded search: equality, not bound

  test("two-shard standing search merges to EXACTLY the unsharded " +
       "index's top-k (and the exact twin's) on the deterministic " +
       "lake — the sharding seam loses nothing") {
    val n = 2000L; val k = 5; val shards = 2
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    def searchOver(part: org.apache.spark.sql.DataFrame) = {
      val nSh = part.count()
      val nl = Similarity.nlistFor(nSh)
      val np = Similarity.nprobeFor(nl)
      val (cents, cb) = Similarity.ivfpqTrain(part, "vec_id",
        "embedding", nl, 8, 16, coarseIters = 1, pqIters = 1)
      val enc = Similarity.ivfpqEncode(part, "vec_id", "embedding",
        cents, cb, 8)
      Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding", enc,
        cents, cb, k, np, m = 8,
        rerank = Similarity.rerankFor(nSh, nl, np),
        rerankSource = Some(part))
    }
    val merged = Similarity.ivfpqMergeTopK(
      (0 until shards).map { sh =>
        searchOver(lake.filter(
          Similarity.annShardKey(col("vec_id"), shards) === sh)
          .localCheckpoint(true))
      }, k).localCheckpoint(true)
    val single = searchOver(lake).localCheckpoint(true)
    val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
      "embedding", k).localCheckpoint(true)
    assert(merged.count() === 80L) // 16 queries × k, non-vacuous
    assert(merged.except(single).isEmpty &&
      single.except(merged).isEmpty,
      "sharded merged top-k diverged from the unsharded index")
    assert(merged.except(exact).isEmpty && exact.except(merged).isEmpty,
      "sharded merged top-k diverged from the exact twin")
  }

  // -------------------------- two-stage refine: degenerate equality

  test("ivfpqSearchRefined with refineTo ≥ pool reproduces the " +
       "single-stage exact rerank row-for-row (the x15b/x53b " +
       "degenerate-config gate for the SQ8 middle stage)") {
    val lake = Similarity.hashBlobLake(spark, 500L).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    val (cents, cb) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16,
      coarseIters = 1, pqIters = 1)
    val enc = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, cb, 8).localCheckpoint(true)
    val single = Similarity.ivfpqSearchEncoded(q, "vec_id",
      "embedding", enc, cents, cb, k = 5, nprobe = 4, m = 8,
      rerank = 200, rerankSource = Some(lake))
    val refined = Similarity.ivfpqSearchRefined(q, "vec_id",
      "embedding", enc, cents, cb, k = 5, nprobe = 4, m = 8,
      pool = 200, refineTo = 200, corpus = lake)
    assert(refined.count() === 80L)
    assert(refined.except(single).isEmpty &&
      single.except(refined).isEmpty,
      "refineTo ≥ pool must degenerate to the exact-rerank tail")
  }

  test("refineFor: the n-independent exact-stage budget holds the " +
       "recall contract behind the SQ8 refine (measured 1.000 at 20k " +
       "and 200k in SCALE.md; pinned here at the cheap decade)") {
    assert(Similarity.refineFor(5) === 50)
    assert(Similarity.refineFor(100) === 1000)
    intercept[IllegalArgumentException] { Similarity.refineFor(0) }
    val n = 2000L
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    val nl = Similarity.nlistFor(n); val np = Similarity.nprobeFor(nl)
    val (cents, cb) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nl, 8, 16, coarseIters = 1, pqIters = 1)
    val enc = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, cb, 8).localCheckpoint(true)
    val refined = Similarity.ivfpqSearchRefined(q, "vec_id",
      "embedding", enc, cents, cb, k = 5, nprobe = np, m = 8,
      pool = Similarity.rerankFor(n, nl, np),
      refineTo = Similarity.refineFor(5), corpus = lake)
    val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
      "embedding", 5)
    val hits = exact.as("b").join(refined.as("l"),
      col("b.query_id") === col("l.query_id") &&
        col("b.neighbor_id") === col("l.neighbor_id")).count()
    assert(hits === 80L,
      s"refined recall ${hits / 80.0} < 1.0 at the 2k operating point")
  }

  test("the SQ8 refine stage reads persisted ledger codes: a " +
       "VersionedState roundtrip of sq8Encode (struct<q,scale> " +
       "through parquet) searches identically to inline quantization") {
    import graft.sources.VersionedState
    val lake = Similarity.hashBlobLake(spark, 500L).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    val (cents, cb) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = 16, m = 8, ksub = 16,
      coarseIters = 1, pqIters = 1)
    val enc = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, cb, 8).localCheckpoint(true)
    val path = new java.io.File(
      graft.sources.ScratchRoot.path("r16_sq8_ledger"))
      .getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    val v = Similarity.annIndexVersion(16, 8, 16)
    VersionedState.write(path, v,
      "sq8" -> Similarity.sq8Encode(lake, "vec_id", "embedding"))
    val ledgerCodes = VersionedState.read(spark, path, v, "sq8")
    def refined(codes: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.ivfpqSearchRefined(q, "vec_id", "embedding", enc,
        cents, cb, k = 5, nprobe = 4, m = 8, pool = 200,
        refineTo = Similarity.refineFor(5), corpus = lake,
        sq8Codes = codes)
    val fromLedger = refined(Some(ledgerCodes))
    val inline = refined(None)
    assert(fromLedger.count() === 80L)
    assert(fromLedger.except(inline).isEmpty &&
      inline.except(fromLedger).isEmpty,
      "ledger-fed SQ8 refine diverged from inline quantization — " +
        "the struct<q,scale> parquet roundtrip is lossy somewhere")
  }

  // ----------------------------------------- recipe fail-fasts (ADVICE)

  test("annIngestFold fails fast when the encode geometry m does " +
       "not match the validated version stamp — the silent mismatch " +
       "annIndexVersion exists to prevent") {
    import spark.implicits._
    val batch = Seq((1L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding")
    val v = Similarity.annIndexVersion(16, 8, 16) // stamps m=8
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.annIngestFold(batch, 0L,
        graft.sources.ScratchRoot.path("r16_nonexistent_def"), v,
        graft.sources.ScratchRoot.path("r16_nonexistent_enc"), m = 16)
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("dsirLedgerFold fails fast on a bucket-width mismatch — " +
       "hashed-ngram counts are only additive within one bucket " +
       "space (the st19/st23 version contract on the DSIR tier)") {
    import spark.implicits._
    val path = new java.io.File(
      graft.sources.ScratchRoot.path("r16_dsir_ledger"))
      .getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      graft.streaming.Streams.dsirLedgerSchema)
    val batch = Seq((1L, "the quick brown fox", "en"),
      (2L, "ein schneller brauner fuchs", "de"))
      .toDF("doc_id", "text", "lang")
    graft.streaming.Streams.dsirLedgerFold(batch, 0L, path,
      nBuckets = 4096)
    // a second batch at the SAME width folds fine (idempotence guard
    // untouched: new batch id, merged counts)
    graft.streaming.Streams.dsirLedgerFold(batch, 1L, path,
      nBuckets = 4096)
    // a mismatched width must throw BEFORE the idempotence gate —
    // even a replayed batch id signals a caller whose next batch
    // would corrupt the bucket space
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.dsirLedgerFold(batch, 1L, path,
        nBuckets = 1024)
    }
    assert(e.getMessage.contains("nBuckets"))
  }

  test("boilerplateLedgerFold fails fast on a separator mismatch — " +
       "segment hashes are only additive within one segmentation " +
       "(the dsirLedgerFold recipe stamp, applied to st22's ledger)") {
    import spark.implicits._
    val path = new java.io.File(graft.sources.ScratchRoot.path("r16_bp_ledger"))
      .getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    graft.operators.Mutations.seedEmptyLedger(spark, path,
      graft.streaming.Streams.boilerplateLedgerSchema)
    val batch = Seq((1L, "header\nbody one"), (2L, "header\nbody two"))
      .toDF("doc_id", "text")
    graft.streaming.Streams.boilerplateLedgerFold(batch, 0L, path,
      sep = "\n")
    graft.streaming.Streams.boilerplateLedgerFold(batch, 1L, path,
      sep = "\n") // same recipe folds fine
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streams.boilerplateLedgerFold(batch, 2L, path,
        sep = "\n\n")
    }
    assert(e.getMessage.contains("segmentation"))
  }

  // --------------------------- writeAdvised: deterministic tiny regime

  test("writeAdvised realizes rec files even when rows are spread " +
       "across multiple input partitions in the rec ≈ n_rows regime " +
       "— deterministic assignment, not round-robin seed luck") {
    import spark.implicits._
    // 3 rows in 3 separate input partitions: round-robin's
    // per-partition start offsets can collide here (ADVICE r8); the
    // deterministic numbering path cannot
    val tiny = Seq.fill(3)("x" * 4096).toDF("text").repartition(3)
    val out = new java.io.File(graft.sources.ScratchRoot.path("r16_advised"))
      .getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(out))
    val (_, rec) = Layout.writeAdvised(tiny, "tiny", out,
      fileBytes = 1L)
    assert(rec === 3)
    val realized = spark.read.parquet(out)
      .select(input_file_name().as("f")).distinct().count()
    assert(realized === 3L,
      s"realized $realized files for rec=3 — an empty target " +
        "partition slipped through the deterministic assignment")
    // and the written relation is intact
    assert(spark.read.parquet(out).count() === 3L)
  }

  // -------------------------------------------- capstone smoke gates

  test("e2e_llm_corpus: the x115 roundtrip verifier gates the " +
       "export tail and its exact branch is LIVE (docs with 0 OOV " +
       "exist and decode exactly)") {
    val out = SparkEntry.queries("e2e_llm_corpus")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_zero_oov")).sum > 0L,
      "no 0-OOV docs in the sampled export — the exact roundtrip " +
        "branch is vacuous (the x26 canary)")
    assert(out.forall(_.getAs[Boolean]("all_roundtrip_ok")),
      "a 0-OOV doc failed to decode to its normalized source stream")
  }

  test("e2e_vector_store: both fusion branches live, drift guard " +
       "quiet on the freshly-built index") {
    val row = SparkEntry.queries("e2e_vector_store")(spark, dir).head()
    assert(row.getAs[Long]("n_queries") === 16L)
    assert(row.getAs[Boolean]("branch_ivfpq_live"))
    assert(row.getAs[Boolean]("branch_sq8_live"))
    assert(!row.getAs[Boolean]("rebuild_recommended"))
  }
}
