package graft

import org.apache.spark.sql.functions._

/** Round-8 pins: the SIZED rerank rule (rerankFor) with its negative
  * control — flat rerank=200 FAILS the recall contract on the 20k
  * clustered corpus where the sized pool holds it (the measured
  * round-7 collapse, now a spec instead of a Scratch note); the
  * VersionedState Hadoop-FS port (exists/read through an explicit
  * `file:` URI) and the invalidate-meta-first write order (a failed
  * rewrite leaves NO valid meta, never a valid meta over partial
  * parts); the nBuckets-parameterized model version (a 1024-bucket
  * model can no longer hide under a 4096-bucket stamp); the
  * writeAdvised row-count clamp; and the BPE dispatch-honesty pin
  * (the route taken at ledger scale is the one the crossover
  * predicts, and forcing the other branch yields the identical merge
  * table). */
class Round15Spec extends GraftSuite {

  import graft.operators.{Learn, Layout, Similarity, Tokenize}

  private val dir = SparkTestBase.sfDir

  // ------------------------------------------------- rerank sizing rule

  test("rerankFor: the executable sizing rule — scales with probe " +
       "return size, floored at 200") {
    // the two measured operating points of the SCALE.md rehearsal
    assert(Similarity.rerankFor(2000L, 64, 8) === 375)
    assert(Similarity.rerankFor(20000L, 64, 8) === 3750)
    // floor: tiny corpora keep a meaningful pool
    assert(Similarity.rerankFor(100L, 64, 8) === 200)
    intercept[IllegalArgumentException] {
      Similarity.rerankFor(-1L, 64, 8)
    }
  }

  test("nlistFor/nprobeFor: executable index-geometry sizing — the " +
       "rerankFor discipline on the cell count (a flat nlist stops " +
       "pruning as the corpus grows)") {
    // the three measured rehearsal decades (SCALE.md round 8: all
    // hold recall@5 = 1.000 at 12.5% probed with the rerankFor pool)
    assert(Similarity.nlistFor(2000L) === 32)
    assert(Similarity.nlistFor(20000L) === 512)
    assert(Similarity.nlistFor(200000L) === 2048)
    // above the n = 65536 occupancy/√n crossover, 4·√n governs
    assert(Similarity.nlistFor(1000000L) === 4096)
    // clamped at 65536 cells — beyond this a deployment shards the
    // index (one IVFPQ ledger per shard), not the cell count
    assert(Similarity.nlistFor(1000000000L) === 65536)
    assert(Similarity.nlistFor(0L) === 16)
    assert(Similarity.nprobeFor(32) === 4)
    assert(Similarity.nprobeFor(512) === 64)
    // the default probed fraction never exceeds 12.5% once the
    // corpus outgrows the 16-cell floor
    for (n <- Seq(2000L, 20000L, 1000000L, 100000000L)) {
      val nl = Similarity.nlistFor(n)
      assert(Similarity.nprobeFor(nl).toDouble / nl <= 0.125d + 1e-9,
        s"probed fraction exceeds 12.5% at n=$n (nlist=$nl)")
    }
  }

  test("the router's ALL-DEFAULTS path on a prunable corpus: sized " +
       "geometry + sized rerank hold the recall contract end-to-end") {
    val n = 2000L; val k = 5
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    // no knobs: nlist/nprobe/rerank all sized from the corpus —
    // the exact call a production caller makes
    val r = Similarity.annTopKAutoSized(q, lake, "vec_id",
      "embedding", k)
    val (route, routed) = (r.route, r.result)
    assert(route === "ivfpq")
    val exact = Similarity.bruteTopKL2(q, lake, "vec_id", "embedding",
      k).localCheckpoint(true)
    val hits = exact.as("b").join(routed.as("l"),
      col("b.query_id") === col("l.query_id") &&
        col("b.neighbor_id") === col("l.neighbor_id")).count()
    val recall = hits.toDouble / exact.count()
    assert(recall >= 0.94d,
      s"default-sized route failed the recall contract ($recall)")
  }

  test("NEGATIVE CONTROL: flat rerank=200 fails the >=0.94 recall " +
       "contract on the 20k clustered corpus; the rerankFor-sized " +
       "pool holds it (one shared index build, two searches)") {
    val n = 20000L; val nlist = 64; val nprobe = 8; val k = 5
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    // this lake IS the prunable regime (the route x112 pins at 2k)
    assert(Similarity.annPrunable(lake, q, "vec_id", "embedding", k),
      "the clustered lake must measure prunable — the premise of " +
        "the whole rerank question")
    // one index build (the router's ivfpq operating point:
    // coarseIters=1, pqIters=1), searched twice with the only
    // difference being the rerank pool
    val (cents, codebook) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = nlist, m = 8, ksub = 16,
      coarseIters = 1, pqIters = 1)
    val encoded = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, codebook).localCheckpoint(true)
    val exact = Similarity.bruteTopKL2(q, lake, "vec_id", "embedding",
      k).localCheckpoint(true)
    def recallAt(rerank: Int): Double = {
      val got = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
        encoded, cents, codebook, k, nprobe, m = 8, rerank = rerank,
        rerankSource = Some(lake))
      val hit = exact.as("b").join(got.as("l"),
        col("b.query_id") === col("l.query_id") &&
          col("b.neighbor_id") === col("l.neighbor_id")).count()
      hit.toDouble / exact.count()
    }
    val flat = recallAt(200)
    val sized = recallAt(Similarity.rerankFor(n, nlist, nprobe))
    // measured round 7: 0.638 flat vs 1.000 sized at 312-vector
    // cells — the spec pins the DIRECTION and the contract bound,
    // not the exact decimals (codebook seeds are deterministic, but
    // the margin is what production relies on)
    assert(flat < 0.94d,
      s"flat rerank=200 unexpectedly held recall ($flat) — the " +
        "negative control lost its teeth; re-measure the collapse")
    assert(sized >= 0.94d,
      s"rerankFor-sized pool failed the contract ($sized)")
    assert(sized > flat, s"sized ($sized) must beat flat ($flat)")
  }

  // --------------------------------- VersionedState: Hadoop FS + order

  test("VersionedState exists/read work through an explicit file: " +
       "URI Path — the Hadoop FS port (a java.io.File probe is " +
       "always false on any non-local filesystem)") {
    import graft.sources.VersionedState
    import spark.implicits._
    val local =
      new java.io.File("target/qtmp/r15_vstate_uri").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(local))
    val uri = s"file:$local" // scheme-qualified, resolved by Hadoop FS
    VersionedState.write(uri, "v1", "part" -> Seq(1, 2).toDF("x"))
    assert(VersionedState.exists(spark, uri, "v1"))
    assert(!VersionedState.exists(spark, uri, "v0"))
    assert(VersionedState.read(spark, uri, "v1", "part").count() === 2)
    // and the scheme-less spelling sees the same bundle
    assert(VersionedState.exists(spark, local, "v1"))
  }

  test("VersionedState write order: a rewrite INVALIDATES meta " +
       "first, so a failed rewrite leaves no valid meta over " +
       "partially-rewritten parts (fail-safe: callers retrain)") {
    import graft.sources.VersionedState
    import spark.implicits._
    val path =
      new java.io.File("target/qtmp/r15_vstate_order").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    VersionedState.write(path, "v1", "part" -> Seq(1).toDF("x"))
    assert(VersionedState.exists(spark, path, "v1"))
    // a rewrite whose part evaluation THROWS mid-write: the v1 meta
    // must already be gone — a reader can never validate v1 against
    // parts the failed rewrite half-replaced
    val poison = spark.range(1)
      .select(expr("assert_true(id > 0)").as("x")) // null => throws
    // the poisoned tasks fail on purpose: silence Spark's task-failure
    // ERROR stacks for this write only, so the test log carries none
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val sparkLog = "org.apache.spark"
    val level = LogManager.getLogger(sparkLog).getLevel
    Configurator.setLevel(sparkLog, Level.OFF)
    try intercept[Throwable] {
      VersionedState.write(path, "v1", "part" -> poison)
    } finally Configurator.setLevel(sparkLog, level)
    assert(!VersionedState.exists(spark, path, "v1"),
      "a valid meta survived a failed rewrite — the reader-safety " +
        "window the invalidate-first order exists to close")
    // and a clean rewrite restores the bundle
    VersionedState.write(path, "v1", "part" -> Seq(7).toDF("x"))
    assert(VersionedState.exists(spark, path, "v1"))
  }

  test("qualityModelVersion is a function of nBuckets — a model " +
       "trained at a different feature width cannot share a stamp") {
    assert(Learn.qualityModelVersion() === Learn.qualityModelVersion(4096))
    assert(Learn.qualityModelVersion(1024) !==
      Learn.qualityModelVersion(4096))
    assert(Learn.qualityModelVersion(1024).contains("b1024"))
  }

  // ------------------------------------------- writeAdvised row clamp

  test("writeAdvised clamps the recommendation to the row count: a " +
       "relation smaller than the byte arithmetic suggests still " +
       "realizes rec files exactly") {
    import spark.implicits._
    val tiny = Seq.fill(3)("x" * 4096).toDF("text") // ~12 KB in 3 rows
    val out = new java.io.File("target/qtmp/r15_advised").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(out))
    // 1-byte target would recommend thousands of files unclamped;
    // only 3 can ever materialize
    val (pane, rec) = Layout.writeAdvised(tiny, "tiny", out,
      fileBytes = 1L)
    assert(rec === 3, s"rec must clamp to n_rows, got $rec")
    assert(pane.select(col("rec_write_files")).head().getLong(0) === 3L)
    val realized = spark.read.parquet(out)
      .select(input_file_name().as("f")).distinct().count()
    assert(realized === 3L, "realized files must equal the clamped rec")
  }

  // --------------------------------------- standing ANN-index ledger

  test("standing ANN index: ledger-fed search equals a fresh-built " +
       "index's bit-for-bit, and loadIndex rejects a version mismatch") {
    val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
    val lake = Similarity.hashBlobLake(spark, n).localCheckpoint(true)
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    val (cents, codebook) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = nlist, m = 8, ksub = 16,
      coarseIters = 1, pqIters = 1)
    val encoded = Similarity.ivfpqEncode(lake, "vec_id", "embedding",
      cents, codebook)
    val path =
      new java.io.File("target/qtmp/r15_ann_index").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    val version = Similarity.annIndexVersion(nlist, 8, 16)
    assert(!Similarity.indexExists(spark, path, version))
    Similarity.persistIndex(path, version, cents, codebook, encoded)
    assert(Similarity.indexExists(spark, path, version))
    intercept[IllegalArgumentException] {
      Similarity.loadIndex(spark, path,
        Similarity.annIndexVersion(nlist, 16, 16)) // wrong m
    }
    val (lc, lb, le) = Similarity.loadIndex(spark, path, version)
    val rr = Similarity.rerankFor(n, nlist, nprobe)
    def search(c: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame,
               e: org.apache.spark.sql.DataFrame) =
      Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding", e, c, b,
          k, nprobe, m = 8, rerank = rr, rerankSource = Some(lake))
        .orderBy(col("query_id"), col("rank")).collect().toSeq
    val fresh = search(cents, codebook, encoded)
    val ledger = search(lc, lb, le)
    assert(fresh === ledger,
      "ledger-fed search diverged from the fresh-built index")
    assert(fresh.nonEmpty, "vacuous: no search results")
  }

  test("st23's ingest fold FAILS FAST when the standing definition " +
       "was stamped under a different quantizer recipe — a stream " +
       "can never emit codes against mismatched centroids/codebook") {
    val lake = Similarity.hashBlobLake(spark, 64L).localCheckpoint(true)
    val (cents, codebook) = Similarity.ivfpqTrain(lake, "vec_id",
      "embedding", nlist = 4, m = 8, ksub = 4)
    val defPath =
      new java.io.File("target/qtmp/r15_st23_def").getAbsolutePath
    val encPath =
      new java.io.File("target/qtmp/r15_st23_enc").getAbsolutePath
    for (p <- Seq(defPath, encPath))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    // definition persisted under a DIFFERENT m's stamp; the fold
    // expects the m=8 recipe and must refuse before writing codes
    Similarity.persistIndexDef(defPath,
      Similarity.annIndexVersion(4, 16, 4), cents, codebook)
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.annIngestFold(lake, 0L, defPath,
        Similarity.annIndexVersion(4, 8, 4), encPath)
    }
    assert(!new java.io.File(encPath).exists(),
      "the fold wrote encoded rows despite the version mismatch")
    // the matching stamp folds normally
    Similarity.persistIndexDef(defPath,
      Similarity.annIndexVersion(4, 8, 4), cents, codebook)
    graft.streaming.Streams.annIngestFold(lake, 0L, defPath,
      Similarity.annIndexVersion(4, 8, 4), encPath)
    assert(spark.read.parquet(encPath).count() === 64L * 8)
  }

  // ------------------------------ st19: version contract mid-stream

  test("streamAnnIngest maps split i to micro-batch i on every run: " +
       "each __bid=i partition of the encoded ledger holds only " +
       "neighbor_id % 4 == i, however the parallel stage writes finish") {
    val (_, _, _, _, _, encPath) = graft.streaming.Streams
      .streamAnnIngest(spark, 400L, 8, splitFiles = 4,
        tag = "r15_split_order")
    val enc = spark.read.parquet(encPath)
    assert(enc.count() === 400L * 8, "vacuous: not every vector encoded")
    assert(enc.select(col("__bid")).distinct().count() === 4L)
    val misplaced =
      enc.filter(col("neighbor_id") % 4 =!= col("__bid")).count()
    assert(misplaced === 0L,
      s"$misplaced encoded rows sit under another split's __bid")
  }

  test("a memory-sink stream leaves no temp view behind: two runs " +
       "of one query register none of their views and return equal " +
       "results") {
    def run() = graft.streaming.Streams
      .streamDistinctUsers(spark, dir, "r15_sink_views")
    val a = run()
    val b = run()
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("r15_sink_views"))
    assert(views.isEmpty,
      s"memory-sink views still registered: ${views.mkString(", ")}")
    val ra = a.collect().map(_.get(0).toString).sorted.toSeq
    assert(ra.nonEmpty, "vacuous: the stream returned no rows")
    assert(ra === b.collect().map(_.get(0).toString).sorted.toSeq)
  }

  test("st19's per-batch fold FAILS FAST when the standing model was " +
       "stamped under a different recipe — a stream can never " +
       "silently score against stale weights") {
    import spark.implicits._
    val modelPath =
      new java.io.File("target/qtmp/r15_st19_model").getAbsolutePath
    val scoredPath =
      new java.io.File("target/qtmp/r15_st19_scores").getAbsolutePath
    for (p <- Seq(modelPath, scoredPath))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    // a syntactically-valid model persisted under the WRONG recipe
    // stamp (a 1024-bucket width); the fold runs at 4096 and must
    // refuse before writing a single scored row
    Learn.persistModel(Seq((1L, 0.1d)).toDF("b", "w"),
      Seq(0.0d).toDF("bias"), modelPath,
      Learn.qualityModelVersion(1024))
    val batch = spark.read.parquet(s"$dir/documents.parquet").limit(5)
    intercept[IllegalArgumentException] {
      graft.streaming.Streams.classifierScoreFold(batch, 0L,
        modelPath, scoredPath, nBuckets = 4096)
    }
    assert(!new java.io.File(scoredPath).exists(),
      "the fold wrote scored rows despite the version mismatch")
    // the matching stamp scores normally (same fold, same ledger dir)
    Learn.persistModel(Seq((1L, 0.1d)).toDF("b", "w"),
      Seq(0.0d).toDF("bias"), modelPath,
      Learn.qualityModelVersion(4096))
    graft.streaming.Streams.classifierScoreFold(batch, 0L,
      modelPath, scoredPath, nBuckets = 4096)
    assert(spark.read.parquet(scoredPath).count() === 5L)
  }

  // ------------------------------------------------------- PII scrub

  test("piiScrub: each category redacts, counts are progressive (an " +
       "email's digits never double-count), boundary shapes survive, " +
       "and the scrub plan is map-only (no Exchange)") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "contact a.b@x.io or 10.0.0.1 call 555-123-4567 " +
        "card 4111111111111111"),
      (2L, "clean text with number 12 and v1.2 dots"),
      // 12 digits (below) and 20 digits (above) must BOTH survive —
      // the conservative-boundary contract
      (3L, "acct 123456789012 ref 12345678901234567890"),
      // an email whose local part is phone-shaped: the progressive
      // order redacts it as <EMAIL> and the phone count stays 0
      (4L, "reach 555-123-4567@relay.example.org today")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(docs, col("doc_id"), col("text"))
      .orderBy(col("id")).collect()
    val r1 = out(0)
    assert(r1.getAs[String]("clean_text") ===
      "contact <EMAIL> or <IP> call <PHONE> card <NUM>")
    assert((r1.getAs[Int]("n_emails"), r1.getAs[Int]("n_ips"),
      r1.getAs[Int]("n_phones"), r1.getAs[Int]("n_longnums"))
      === ((1, 1, 1, 1)))
    val r2 = out(1)
    assert(r2.getAs[String]("clean_text") ===
      "clean text with number 12 and v1.2 dots",
      "clean text must pass through untouched")
    val r3 = out(2)
    assert(r3.getAs[String]("clean_text").contains("123456789012") &&
      r3.getAs[String]("clean_text").contains("12345678901234567890"),
      "12- and 20-digit runs must survive the 13-19 card window")
    assert(r3.getAs[Int]("n_longnums") === 0)
    val r4 = out(3)
    assert(r4.getAs[String]("clean_text") === "reach <EMAIL> today")
    assert(r4.getAs[Int]("n_phones") === 0,
      "progressive order: the email's phone-shaped local part must " +
        "not double-count as a phone")
    // map-only contract: redaction rides the scan — no shuffle
    val plan = TextOps.piiScrub(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"piiScrub plan must be map-only, got:\n$plan")
  }

  // ------------------------------------------- vocab decode roundtrip

  test("vocabDecode reassembles order-faithfully regardless of input " +
       "row order, and the encode→decode roundtrip is exact for " +
       "0-OOV docs") {
    import spark.implicits._
    import graft.operators.TextOps
    // stream rows deliberately OUT of position order — collect_list
    // is not order-stable, the struct sort must restore it
    val stream = Seq((1L, 2, 3L), (1L, 0, 0L), (1L, 1, 7L))
      .toDF("id", "pos", "tid").repartition(3)
    val vocab = Seq(("alpha", 0L), ("beta", 7L), ("gamma", 3L))
      .toDF("tok", "tid")
    val dec = TextOps.vocabDecode(stream, vocab).collect()
    assert(dec.length === 1)
    assert(dec(0).getAs[String]("decoded") === "alpha beta gamma")
    // OOV ids (absent from vocab) decode to the <unk> sink
    val oovStream = Seq((2L, 0, 99L), (2L, 1, 0L))
      .toDF("id", "pos", "tid")
    val dec2 = TextOps.vocabDecode(oovStream, vocab).collect()
    assert(dec2(0).getAs[String]("decoded") === "<unk> alpha")
    // full roundtrip on a crafted corpus where every token is
    // in-vocab: decode must equal the normalized source exactly
    val docs = Seq((1L, "The quick FOX"), (2L, "fox the the"))
      .toDF("doc_id", "text")
    val (v2, s2) = TextOps.vocabTokenStream(docs, col("doc_id"),
      col("text"), v = 10)
    val back = TextOps.vocabDecode(s2, v2).orderBy(col("id")).collect()
    assert(back.map(_.getAs[String]("decoded")).toSeq ===
      Seq("the quick fox", "fox the the"))
  }

  // -------------------------------------------- BPE dispatch honesty

  test("BPE dispatch honesty: at ledger scale the router takes the " +
       "branch the measured crossover predicts, and forcing the " +
       "other branch yields the IDENTICAL merge table") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val wf = Tokenize.wordFreq(docs, col("text")).localCheckpoint(true)
    val nTypes = wf.count()
    // the driver corpus sits far below the crossover — the router
    // must take the recount branch here (st21 retrains through this
    // same dispatch each fold; if the ledger ever outgrows the
    // constant, THIS assertion flips and forces a re-measure instead
    // of letting the dispatch silently go stale)
    assert(nTypes < Tokenize.bpeIncrementalMinTypes,
      s"ledger grew past the crossover ($nTypes types) — re-measure " +
        "bpeIncrementalMinTypes and update this pin")
    def table(incremental: Option[Boolean]): Seq[org.apache.spark.sql.Row] =
      Tokenize.bpeTrain(wf, merges = 12, incremental = incremental)
        .orderBy(col("rank")).collect().toSeq
    val auto = table(None)            // the route st21's retrain takes
    val recount = table(Some(false))  // what the crossover predicts here
    val forced = table(Some(true))    // the branch NOT taken
    assert(auto === recount,
      "the router did not take the branch the crossover predicts " +
        "at ledger scale")
    assert(recount === forced,
      "incremental and recount branches diverged — the routed " +
        "dispatch is only safe while both compute the same table")
    assert(auto.nonEmpty, "vacuous: no merge rounds produced")
  }
}
