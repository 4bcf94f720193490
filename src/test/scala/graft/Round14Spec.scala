package graft

import org.apache.spark.sql.functions._

/** Round-7 pins: the standing-model classifier ledger (ledger-fed ==
  * retrained, bit-for-bit), the incremental BPE merge rounds (delta
  * update == full recount; round r explodes ONLY affected words), the
  * advisor-driven write (realized file count follows the
  * recommendation), and the stratified ANN probe sample (verdict
  * stable under id relabeling; id-correlated corpora can no longer
  * bias the prunability vote). */
class Round14Spec extends GraftSuite {

  import graft.operators.{Tokenize, Learn, Layout, Similarity}

  private val dir = SparkTestBase.sfDir

  // ---------------------------------------------- standing-model ledger

  test("classifier ledger: persisted weights+bias score bit-identically " +
       "to a fresh retrain, and loadModel rejects a version mismatch") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (feat, _, bias, w) = Learn.qualityClassifier(docs)
    val path =
      new java.io.File("target/qtmp/r14_model").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    assert(!Learn.modelExists(spark, path, Learn.qualityModelVersion()),
      "exists-guard must be false before the first persist")
    Learn.persistModel(w, bias, path, Learn.qualityModelVersion())
    assert(Learn.modelExists(spark, path, Learn.qualityModelVersion()))
    // a different version must neither load nor count as existing —
    // the versioned-state contract (stale recipes are unreachable)
    assert(!Learn.modelExists(spark, path, "some-other-recipe"))
    intercept[IllegalArgumentException] {
      Learn.loadModel(spark, path, "some-other-recipe")
    }
    val (lw, lb) = Learn.loadModel(spark, path, Learn.qualityModelVersion())
    val ids = docs.select(col("doc_id").as("id"))
    def scores(wx: org.apache.spark.sql.DataFrame,
               bx: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Learn.logisticScore(ids, feat, wx, bx).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // EXACT equality, not tolerance: the fixed-point/round-6-decimal
    // discipline makes the persisted model byte-faithful, so a
    // ledger-fed consumer must reproduce the retrained scores to the
    // last bit — anything weaker would let the x97b/x98b oracles
    // drift from their self-contained twins
    assert(scores(lw, lb) === scores(w, bias),
      "ledger-fed scores diverged from the fresh retrain")
  }

  test("x97b/x98b/x104b: the ledger-fed panes equal the " +
       "self-contained twins row-for-row") {
    for ((a, b) <- Seq(
        ("x97_quality_classifier", "x97b_ledger_score"),
        ("x98_calibration_audit", "x98b_ledger_audit"),
        ("x104_bpe_encode", "x104b_ledger_encode"),
        ("e2e_select_corpus", "e2e_select_corpus_b"),
        ("x113_standing_ann_search", "st23_stream_ann_ingest"))) {
      val ra = SparkEntry.queries(a)(spark, dir).collect().toSeq
      val rb = SparkEntry.queries(b)(spark, dir).collect().toSeq
      assert(ra === rb, s"$b diverged from $a")
      assert(ra.nonEmpty, s"$a returned no rows — vacuous comparison")
    }
  }

  test("VersionedState: meta name reserved; read rejects a version " +
       "mismatch on the tokenizer ledger too") {
    import graft.sources.VersionedState
    import spark.implicits._
    val path =
      new java.io.File("target/qtmp/r14_vstate").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    intercept[IllegalArgumentException] {
      VersionedState.write(path, "v1",
        "meta" -> Seq(1).toDF("x"))
    }
    VersionedState.write(path, "v1", "merges" -> Seq(1).toDF("x"))
    assert(VersionedState.exists(spark, path, "v1"))
    assert(!VersionedState.exists(spark, path, "v2"))
    intercept[IllegalArgumentException] {
      VersionedState.read(spark, path, "v2", "merges")
    }
    assert(VersionedState.read(spark, path, "v1", "merges")
      .collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  // ---------------------------------------------- incremental BPE

  test("bpeTrain incremental == full recount: identical merge table " +
       "and token curve on the driver corpus") {
    val words = Tokenize.wordFreq(
      spark.read.parquet(s"$dir/documents.parquet"), col("text"))
      .localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSeq
    // force the incremental branch — at 31 driver types the router
    // would otherwise (correctly) pick the recount and this test
    // would compare the recount to itself
    assert(rows(Tokenize.bpeTrain(words, merges = 12,
        incremental = Some(true))) ===
      rows(Tokenize.bpeTrainFullRecount(words, merges = 12)),
      "delta-updated pair counts diverged from the full recount")
    // router liveness: the default route at this scale is the
    // recount, and it produces the same table (the dispatch can
    // never change the recurrence, only who computes it)
    assert(rows(Tokenize.bpeTrain(words, merges = 12)) ===
      rows(Tokenize.bpeTrainFullRecount(words, merges = 12)))
  }

  test("bpeRound: the recount's input IS the affected slice — words " +
       "without the winning pair are never re-exploded, and the " +
       "delta-updated pair counts equal a from-scratch recount") {
    import spark.implicits._
    // freqs chosen so round 1's winner is "x y" (cnt 5), contained in
    // exactly ONE of the four word types
    val words = Seq(("abcd", 2L), ("xy", 5L), ("abx", 1L), ("zz", 4L))
      .toDF("word", "freq")
    val (syms, pc, toks) = Tokenize.bpeInitState(words)
    val (symsN, pcN, _, row, aff) = Tokenize.bpeRound(syms, pc, toks, 1)
    assert(row.collect()(0).getString(1) === "x y")
    val affRows = aff.collect()
    assert(affRows.length === 1,
      s"round recounted ${affRows.length} words; only 'xy' contains " +
        "the winning pair")
    assert(affRows(0).getAs[String]("syms") === " x  y ")
    // exactness of the delta: standing counts after the fold must
    // equal pair counts recomputed from the post-merge type table
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts(pcN) === counts(Tokenize.pairsOf(symsN)
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))),
      "delta-updated pair counts != full recount")
    // round 2's winner is "z z" (cnt 4); again exactly one word type
    val (_, _, _, row2, aff2) =
      Tokenize.bpeRound(symsN, pcN, toks, 2)
    assert(row2.collect()(0).getString(1) === "z z")
    assert(aff2.count() === 1L)
  }

  test("bpeSubwordCounts: chunked application (depth barrier) equals " +
       "the single-expression fold") {
    import spark.implicits._
    val words = Tokenize.wordFreq(
      Seq("abab abab abab ab ab aaa").toDF("text"), col("text"))
    val merges = Tokenize.bpeTrain(words, merges = 4).localCheckpoint()
    def enc(chunk: Int) =
      Tokenize.bpeSubwordCounts(words, merges, chunkSize = chunk)
        .orderBy(col("word")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(enc(2) === enc(256),
      "chunked merge application changed the encoding")
  }

  // ---------------------------------------------- advisor-driven write

  test("writeAdvised: the written file count follows the advisor's " +
       "recommendation on a crafted relation") {
    import spark.implicits._
    // 20k rows × (8-byte id + 100-char string) ≈ 2.16 MB estimated;
    // 256 KB target → an exact, >1 recommendation the write realizes
    val df = spark.range(20000)
      .select(col("id"), lpad(lit("x"), 100, "y").as("pad"))
    val out =
      new java.io.File("target/qtmp/r14_advised").getAbsolutePath
    val (pane, rec) = Layout.writeAdvised(df, "crafted", out,
      fileBytes = 262144L)
    val estBytes = 20000L * 108L
    val expected = math.max(1L,
      math.floor((estBytes.toDouble + 262143.0) / 262144.0).toLong)
    assert(rec.toLong === expected, s"rec=$rec expected=$expected")
    assert(pane.collect()(0).getAs[Long]("rec_write_files") === expected)
    val files = new java.io.File(out)
      .listFiles().count(f => f.getName.startsWith("part-"))
    assert(files.toLong === expected,
      s"wrote $files files; advisor recommended $expected")
    assert(spark.read.parquet(out).count() === 20000L)
  }

  // ---------------------------------------------- stratified ANN probes

  /** 16 tight cluster points at the origin get ids 0..15
    * (ingest-ordered lakes do exactly this), then 48 near-uniform
    * cloud points get ids 16..63. A first-16-by-id probe sample sees
    * ONLY the cluster — every probe measures hugely prunable (its 5
    * NNs are its cluster mates at ~0.03 while arbitrary cloud points
    * sit at ~2) — but a cloud probe's neighbors are barely closer
    * than arbitrary points (the concentration regime), so the honest
    * whole-corpus verdict is NOT prunable. */
  private def idCorrelated(relabel: Long => Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val cluster = (0 until 16).map { i =>
      (relabel(i.toLong),
        Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val cloud = (16 until 64).map { i =>
      (relabel(i.toLong), Array.fill(8)(rnd.nextFloat() * 2.0f - 1.0f))
    }
    (cluster ++ cloud).toDF("vec_id", "embedding")
  }

  test("stratified probes: id-correlated corpora cannot bias the " +
       "prunability vote, and the verdict is stable under relabeling") {
    val base = idCorrelated(identity)
    // the OLD sample (first probeCap by id) lands entirely inside the
    // tight cluster and votes prunable — the bias this round closes
    val first16 = base.orderBy(col("vec_id")).limit(16)
    assert(Similarity.annPrunable(base, first16, "vec_id", "embedding"),
      "negative control broke: the cluster-only sample should " +
        "(wrongly) measure prunable")
    // the stratified sample reaches the uniform shell, where distances
    // concentrate, so the conservative min-vote says NOT prunable
    val strat = Similarity.stratifiedProbes(base, "vec_id", 16)
    assert(!Similarity.annPrunable(base, strat, "vec_id", "embedding"),
      "stratified sample missed the concentration regime")
    // verdict stability: relabel ids by a bijection (7·id mod 64) —
    // the sampled ROWS change, the verdict must not
    val relabeled = idCorrelated(i => (7L * i) % 64L)
    val strat2 = Similarity.stratifiedProbes(relabeled, "vec_id", 16)
    assert(!Similarity.annPrunable(relabeled, strat2, "vec_id",
      "embedding"), "verdict flipped under id relabeling")
  }

  test("annTopKAuto still routes the driver corpus to the exact scan " +
       "after the probe-sampling change") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    val auto = Similarity.annTopKAutoSized(q, emb, "vec_id",
      "embedding", 5).result
    val brute = Similarity.bruteTopKL2(q, emb, "vec_id", "embedding", 5)
    assert(auto.exceptAll(brute).isEmpty &&
      brute.exceptAll(auto).isEmpty,
      "router no longer matches the exact scan on the driver corpus")
  }

  // ---------------------------------------------- rowBytes config guard

  test("rowBytes: null arrays price as 0 under BOTH ANSI and legacy " +
       "sizeOfNull semantics") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, null
      .asInstanceOf[Array[Float]])).toDF("id", "emb")
    def total(): Long = df.agg(sum(Layout.rowBytes(df)))
      .collect()(0).getLong(0)
    val expected = (8L + 8L) + (8L + 0L)
    assert(total() === expected)
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false") // legacy: size(NULL) = -1
    try assert(total() === expected,
      "null array priced negatively under legacy sizeOfNull")
    finally spark.conf.set(key, prev)
  }
}
