package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Round-6 pins: the batchId-keyed idempotent sketch-ledger fold
  * (st17's production restart path), the corpus-calibrated Gopher
  * gate that replaced round-5's vacuous one, the ledger-fed theta
  * preflight sizing, and the Layout keepTotal collision guard. */
class Round12Spec extends GraftSuite {

  test("st17 fold: at-least-once redelivery leaves ledger bytes and " +
       "contract flags unchanged") {
    import graft.operators.{Mutations, TextOps}
    import graft.functions.FreqFns
    import graft.streaming.Streams
    val dir = SparkTestBase.sfDir
    val path =
      new java.io.File("target/qtmp/r12_freq_ledger").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    Mutations.seedEmptyLedger(spark, path, Streams.freqLedgerSchema)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val toks = split(trim(regexp_replace(lower(col("text")),
      "\\s+", " ")), " ")
    def tokBatch(pred: org.apache.spark.sql.Column) =
      docs.filter(pred).select(col("source"), explode(toks).as("tok"))
        .filter(length(col("tok")) > 0)
    val b0 = tokBatch(col("doc_id") % 2 === 0)
    val b1 = tokBatch(col("doc_id") % 2 === 1)

    def state(): Array[(String, Array[Byte], Long)] =
      spark.read.parquet(path).orderBy(col("source")).collect()
        .map(r => (r.getString(0), r.getAs[Array[Byte]]("sk"),
          r.getLong(2)))
    def sameState(a: Array[(String, Array[Byte], Long)],
                  b: Array[(String, Array[Byte], Long)]): Boolean =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x._1 == y._1 && java.util.Arrays.equals(x._2, y._2) &&
          x._3 == y._3 }
    def contractOk(): Boolean = {
      val merged = spark.read.parquet(path)
        .agg(FreqFns.freqMergeAgg(col("sk"), 1024).as("sk"))
        .crossJoin(broadcast(
          docs.agg(countDistinct(col("source")).as("n_sources"))))
      TextOps.freqBoundsContract(docs, merged)
        .filter(!col("bounds_ok")).isEmpty
    }

    Streams.freqLedgerFold(b0, 0L, path)
    val after0 = state()
    // simulated at-least-once restart: the SAME micro-batch arrives
    // again with the same batchId — the __last_batch guard must skip
    // it; an unguarded merge would double batch 0's stream weight and
    // (Misra-Gries lower bounds being count-monotone) break bounds_ok
    Streams.freqLedgerFold(b0, 0L, path)
    assert(sameState(after0, state()),
      "redelivered batch 0 mutated ledger state")

    Streams.freqLedgerFold(b1, 1L, path)
    val after1 = state()
    assert(!sameState(after0, after1),
      "batch 1 should have advanced the ledger")
    assert(contractOk(), "contract should hold after both batches")
    // redeliver batch 1 post-commit — the restart window st11's
    // discipline exists for (crash between ledger swap and checkpoint)
    Streams.freqLedgerFold(b1, 1L, path)
    assert(sameState(after1, state()),
      "redelivered batch 1 mutated ledger state")
    assert(contractOk(), "contract flags changed under redelivery")
  }

  test("gopher gate: corpusProbes calibration is non-vacuous where " +
       "the published list passes zero docs") {
    import graft.operators.TextOps
    val docs =
      spark.read.parquet(s"${SparkTestBase.sfDir}/documents.parquet")
    // the round-5 failure, pinned: the published English probe list
    // hits at most 1 token of the synthetic vocabulary, so r7 — and
    // with it the whole conjunction — is constant-false
    val published = TextOps.gopherRules(docs, col("doc_id"), col("text"))
    assert(published.filter(col("r7_stopwords")).isEmpty,
      "corpus drifted: published probes now match; recalibrate this pin")
    // the calibrated gate keeps a meaningful fraction and still gates
    val probeRow = TextOps.corpusProbes(docs, col("text"))
    val flags = TextOps.gopherRules(
      docs.crossJoin(broadcast(probeRow)),
      col("doc_id"), col("text"), col("probes"))
    val n = docs.count()
    val nPass = flags.filter(col("pass")).count()
    assert(nPass > 0, "calibrated gate still passes zero docs")
    assert(nPass < n, "calibrated gate stopped gating entirely")
    // the per-language form (what e2e_webcorpus actually uses — the
    // only calibration that survives a multilingual corpus, see
    // corpusProbesBy): one k-probe row per language
    val byLang = TextOps.corpusProbesBy(docs, col("lang"), col("text"))
    val nLangs = docs.select(col("lang")).distinct().count()
    assert(byLang.count() == nLangs)
    assert(byLang.filter(size(col("probes")) =!= 8).isEmpty,
      "every language should get 8 probes on this corpus")
  }

  test("x74b: ledger-fed lgk <= token-count upper-bound lgk, " +
       "contract holds at both sizes") {
    import graft.functions.SketchFns
    val dir = SparkTestBase.sfDir
    val upper = SparkEntry.thetaPreflightUpperBound(spark, dir)
    val lgkUpper = SketchFns.lgkFor(minOverlap = 1600,
      maxDistinct = upper)
    val maxEst = SparkEntry.sourceDistinctLedger(spark, dir)
      .agg(max(col("est_distinct"))).collect()(0).getDouble(0)
    val lgkLedger = SketchFns.lgkFor(minOverlap = 1600,
      maxDistinct = math.max(1L, math.ceil(maxEst * 1.05d).toLong))
    assert(lgkLedger <= lgkUpper,
      s"ledger-fed lgk $lgkLedger exceeds upper-bound lgk $lgkUpper")
    for (lgk <- Set(lgkLedger, lgkUpper))
      assert(SparkEntry.thetaOverlapScreen(spark, dir, lgk)
        .filter(!col("est_within_5pct")).isEmpty,
        s"overlap contract broken at lgk=$lgk")
  }

  /** 3 tight blobs far apart — neighbors co-locate in any reasonable
    * coarse quantizer, RC >> 1, IVF pruning is safe. vec_ids 0,1,2
    * land one per blob, so they double as perfect kmeans seeds. */
  private def blobCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 60).map { i =>
      val base = Array.fill(8)(0.0f)
      base(i % 3) = 10.0f
      (i.toLong,
        base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("x93 annDifficulty: clustered corpora flag prunable, the " +
       "near-uniform driver corpus does not") {
    import graft.operators.Similarity
    import spark.implicits._
    val df = blobCorpus()
    val flags = Similarity.annDifficulty(df, df.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 5)
    assert(flags.filter(!$"ivf_prunable").isEmpty,
      "clustered corpus should measure prunable")
    // the driver corpus: near-uniform synthetic vectors (measured
    // RC 1.2-1.3 at sf0.1 and on the derived sf1 lake) — the regime
    // where the round-6 sweep saw IVFPQ recall collapse; the flag
    // must say so
    val emb =
      spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")
    val real = Similarity.annDifficulty(emb, emb.filter($"vec_id" < 10),
      "vec_id", "embedding", k = 5)
    assert(real.filter($"ivf_prunable").isEmpty,
      "near-uniform corpus should NOT measure prunable")
  }

  test("annTopKAuto routes by measurement: exact on the concentrated " +
       "driver corpus, IVFPQ holding recall on the clustered one") {
    import graft.operators.Similarity
    import spark.implicits._
    val emb =
      spark.read.parquet(s"${SparkTestBase.sfDir}/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    // not prunable ⇒ the routed result IS the exact scan, row for row
    val auto = Similarity.annTopKAutoSized(q, emb, "vec_id",
      "embedding", 5).result
    val brute = Similarity.bruteTopKL2(q, emb, "vec_id", "embedding", 5)
    assert(auto.exceptAll(brute).isEmpty && brute.exceptAll(auto).isEmpty,
      "non-prunable corpus must route to the exact scan")
    // clustered ⇒ the gate flips and the IVFPQ branch must hold recall
    val blobs = blobCorpus()
    val bq = blobs.filter($"vec_id" < 5)
    assert(Similarity.annPrunable(blobs, bq, "vec_id", "embedding"))
    val annb = Similarity.annTopKAutoSized(bq, blobs, "vec_id",
      "embedding", 5, nlist = 3, nprobe = 1, m = 8, ksub = 8,
      rerank = 20).result
    val bruteb = Similarity.bruteTopKL2(bq, blobs, "vec_id",
      "embedding", 5)
    val hits = bruteb.as("b").join(annb.as("l"),
      $"b.query_id" === $"l.query_id" &&
        $"b.neighbor_id" === $"l.neighbor_id").count()
    assert(hits >= 20, s"IVFPQ branch recall ${hits / 25.0} < 0.8 " +
      "on a clustered corpus")
  }

  test("st18 DSIR ledger: fold is batchId-idempotent and the streamed " +
       "model equals the batch model exactly") {
    import graft.operators.{Mutations, TextOps}
    import graft.streaming.Streams
    val dir = SparkTestBase.sfDir
    val path =
      new java.io.File("target/qtmp/r12_dsir_ledger").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(path))
    Mutations.seedEmptyLedger(spark, path, Streams.dsirLedgerSchema)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    Streams.dsirLedgerFold(b0, 0L, path)
    Streams.dsirLedgerFold(b0, 0L, path) // at-least-once redelivery
    Streams.dsirLedgerFold(b1, 1L, path)
    Streams.dsirLedgerFold(b1, 1L, path) // redelivery post-commit
    val ledger = spark.read.parquet(path).select("b", "ct", "cq")
    val batch = TextOps.dsirCounts(TextOps.dsirFeatures(docs,
      col("doc_id"), col("text"), col("lang") === "en", 4096))
    // additive sufficient statistic + exactly-once fold ⇒ EXACT
    // equality with the batch-trained model, redeliveries included
    assert(ledger.exceptAll(batch).isEmpty &&
      batch.exceptAll(ledger).isEmpty,
      "streamed ledger model diverged from the batch model")
  }

  test("x93 annDifficulty edge contracts: duplicate corpus votes NOT " +
       "prunable; corpus-fits-in-k measures rc exactly 1; string ids " +
       "fail fast") {
    import graft.operators.Similarity
    import spark.implicits._
    // all-identical vectors: every distance is 0, rc is undefined —
    // the verdict must be FALSE (total concentration), and the null
    // rc must not drop out of annPrunable's vote
    val dup = Seq.tabulate(8)(i => (i.toLong, Array(0.5f, 0.5f)))
      .toDF("id", "embedding")
    val probes = dup.filter(col("id") < 2)
    Similarity.annDifficulty(dup, probes, "id", "embedding", k = 5)
      .collect().foreach { r =>
        assert(r.isNullAt(r.fieldIndex("rc")))
        assert(!r.getBoolean(r.fieldIndex("ivf_prunable")))
      }
    assert(!Similarity.annPrunable(dup, probes, "id", "embedding", 5))
    // corpus smaller than k: the kNN set IS the corpus, so the kNN
    // mean must equal the all-points mean (rc = 1) — a flat /k
    // divisor would understate it and fake a prunable verdict
    val tiny = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.6f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.5f, 0.5f)))
      .toDF("id", "embedding")
    Similarity.annDifficulty(tiny, tiny.filter(col("id") === 1), "id",
        "embedding", k = 5)
      .collect().foreach { r =>
        assert(r.getDouble(r.fieldIndex("rc")) === 1.0)
        assert(!r.getBoolean(r.fieldIndex("ivf_prunable")))
      }
    // string ids: the heap tiebreak negates the id — must fail fast
    val strIds = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.0f, 1.0f)))
      .toDF("id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.annDifficulty(strIds, strIds, "id", "embedding")
    }
    assert(ex.getMessage.contains("numeric"))
  }

  test("x96 bitext margin: mutual-best + margin gate accepts aligned " +
       "pairs and rejects hub-mediated ones") {
    import graft.operators.Similarity
    import spark.implicits._
    // a1 aligns with b11; a3 sits in the b12/b13/b14 hub and owns
    // b12; a2's best is b14 but b14's best is a3 ⇒ a2 fails MUTUAL
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.62f, 0.79f))).toDF("id", "embedding")
    val b = Seq((11L, Array(1.0f, 0.01f)), (12L, Array(0.6f, 0.8f)),
      (13L, Array(0.55f, 0.82f)), (14L, Array(0.5f, 0.85f)))
      .toDF("id", "embedding")
    val out = Similarity.bitextMarginMining(a, b, "id", "embedding",
      k = 4, threshold = 1.05).orderBy(col("a_id")).collect()
    assert(out.length === 3)
    val byA = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(byA(1L) === ((11L, true, true)),
      "aligned pair must be mutual and accepted")
    assert(byA(2L)._1 === 14L && !byA(2L)._2 && !byA(2L)._3,
      "hub-mediated pair must fail the mutual-best gate")
    assert(byA(3L) === ((12L, true, true)))
  }

  test("x96 ANN-fed form: brute top-k tables reproduce the " +
       "self-contained mining row-for-row") {
    import graft.operators.Similarity
    import spark.implicits._
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.62f, 0.79f))).toDF("id", "embedding")
    val b = Seq((11L, Array(1.0f, 0.01f)), (12L, Array(0.6f, 0.8f)),
      (13L, Array(0.55f, 0.82f)), (14L, Array(0.5f, 0.85f)))
      .toDF("id", "embedding")
    val self = Similarity.bitextMarginMining(a, b, "id", "embedding",
      k = 4, threshold = 1.05)
    val fed = Similarity.bitextMarginFromTopK(
      Similarity.bruteTopK(a, b, "id", "embedding", 4),
      Similarity.bruteTopK(b, a, "id", "embedding", 4),
      k = 4, threshold = 1.05)
    assert(fed.exceptAll(self).isEmpty && self.exceptAll(fed).isEmpty,
      "index-fed margin mining diverged from the self-contained form")
  }

  test("x96 ANN-fed form: a cross-rounding cosine tie is re-ranked " +
       "to the canonical (cos4, id) order, not the index's raw order") {
    import graft.operators.Similarity
    import spark.implicits._
    // vs a1, b3 and b7 both round to cos4 = 0.5555 but b7's RAW
    // cosine is higher — bruteTopK ranks b7 first, while the mining
    // order (cos4 desc, id asc) puts b3 first. The FromTopK form
    // must re-rank, or the fed and self-contained forms pick
    // different top-1 pairs. (Constants verified: raw cosines
    // 0.55548/0.55552, both in the 0.5555 rounding band.)
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "embedding")
    val b = Seq((3L, Array(0.55548f, 0.83153f)),
      (7L, Array(0.55552f, 0.83150f)), (9L, Array(0.01f, 1.0f)))
      .toDF("id", "embedding")
    val self = Similarity.bitextMarginMining(a, b, "id", "embedding",
      k = 3, threshold = 1.05)
    val fed = Similarity.bitextMarginFromTopK(
      Similarity.bruteTopK(a, b, "id", "embedding", 3),
      Similarity.bruteTopK(b, a, "id", "embedding", 3),
      k = 3, threshold = 1.05)
    assert(fed.exceptAll(self).isEmpty && self.exceptAll(fed).isEmpty,
      "tie-straddled fed form diverged from the self-contained form")
    val a1 = fed.filter(col("a_id") === 1L).collect()
    assert(a1.length === 1 && a1(0).getLong(1) === 3L,
      "cos4 tie must break by ascending id (b3), not raw cosine (b7)")
  }

  test("x96 margin denominators divide by the ACTUAL candidate " +
       "count, not a flat k, when a side has fewer than k candidates") {
    import graft.operators.Similarity
    import spark.implicits._
    // one b-side candidate, k = 4: the b-side mean-NN must be the
    // single cosine itself (sum/1), not sum/4 — a flat divisor would
    // understate the denominator 4x and accept everything
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.6f)))
      .toDF("id", "embedding")
    val b = Seq((11L, Array(1.0f, 0.0f))).toDF("id", "embedding")
    val out = Similarity.bitextMarginMining(a, b, "id", "embedding",
      k = 4, threshold = 1.05).collect()
    // a1-b11: cos 1.0; a1's only candidate is b11 (na = 1, mean 1.0);
    // b11's candidates are a1 (1.0) and a2 (0.8) → mean 0.9;
    // margin = 1.0 / ((1.0 + 0.9) / 2) = 1.0526 — under the flat-2k
    // divisor it would read 1.0/((1.0+1.8)/8) = 2.857
    val r = out.filter(_.getLong(0) == 1L).head
    assert(math.abs(r.getDouble(3) - 1.0526) < 1e-9,
      s"margin ${r.getDouble(3)} not the count-aware mean ratio")
  }

  test("x95 RRF fusion: rank algebra — dual top-1 wins, single-branch " +
       "docs score one reciprocal term, absent rank renders 0") {
    import graft.operators.Similarity
    import spark.implicits._
    val sparse = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 10L, 1), (1L, 40L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(
        Seq("sparse" -> sparse, "dense" -> dense), c = 60, topK = 10)
      .orderBy(col("rank")).collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(10L, 20L, 40L, 30L),
      "doc in both branches at rank 1 fuses first; 20 (sparse r2) " +
        "and 40 (dense r2) tie at exactly 1/62 — id tiebreak — then 30")
    // doc 20 and doc 40 both score exactly 1/62: id tiebreak decides
    assert(out(1).getDouble(3) === out(2).getDouble(3))
    val top = out.head
    assert(top.getLong(2) === 10L &&
      // displayed rrf is round(…,6)
      math.abs(top.getDouble(3) - (1.0 / 61 + 1.0 / 61)) < 1e-6)
    assert(out(3).getInt(4) === 3 && out(3).getInt(5) === 0,
      "absent branch rank must render as 0")
  }

  test("rrfFuse generalizes past two branches: 3-way fusion sums " +
       "three reciprocal terms and keeps per-branch ranks") {
    import graft.operators.Similarity
    import spark.implicits._
    val b1 = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "rank")
    val b2 = Seq((1L, 10L, 2), (1L, 30L, 1)).toDF("query_id", "doc_id", "rank")
    val b3 = Seq((1L, 10L, 3)).toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(
        Seq("a" -> b1, "b" -> b2, "c" -> b3), c = 60, topK = 10)
      .orderBy(col("rank")).collect()
    // doc 10 scores 1/61 + 1/62 + 1/63; docs 30 and 20 get one term
    assert(out.head.getLong(2) === 10L)
    assert(math.abs(out.head.getDouble(3) -
      (1.0 / 61 + 1.0 / 62 + 1.0 / 63)) < 1e-6)
    assert(out.head.getInt(4) === 1 && out.head.getInt(5) === 2 &&
      out.head.getInt(6) === 3)
    assert(out.map(_.getLong(2)).toSeq === Seq(10L, 30L, 20L),
      "single-branch docs rank by their one reciprocal term")
  }

  test("logisticBias fails fast on single-class labels") {
    import graft.operators.Learn
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Learn.logisticBias(Seq((1L, 1.0), (2L, 1.0)).toDF("id", "y"))
    }
    assert(ex.getMessage.contains("single-class"))
  }

  test("x95 bm25MoreLikeThis: k-bounded per query, self excluded, " +
       "retrieves term-sharing docs") {
    import graft.operators.TextOps
    val docs = spark.read.parquet(
      s"${SparkTestBase.sfDir}/documents.parquet")
    val mlt = TextOps.bm25MoreLikeThis(docs, col("doc_id"),
      col("text"), col("doc_id") < 3, k = 20)
    val agg = mlt.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("query_id") === col("doc_id"), 1L).otherwise(0L))
          .as("selfhits"),
        min(col("bm25")).as("minb")).collect()
    assert(agg.length === 3, "each query doc must retrieve rows")
    agg.foreach { r =>
      assert(r.getLong(1) <= 20 && r.getLong(2) === 0L)
      assert(r.getDouble(3) > 0.0, "BM25 of a matched doc is positive")
    }
    // ranks are 1..n dense per query
    val ranks = mlt.filter(col("query_id") === 0)
      .orderBy(col("rank")).select(col("rank")).collect()
      .map(_.getInt(0)).toSeq
    assert(ranks === (1 to ranks.length).toSeq)
  }

  test("x97 in-engine logistic classifier: preconditioned GD learns " +
       "the seed signal without saturating") {
    import graft.operators.{Learn, TextOps}
    val docs = spark.read.parquet(
      s"${SparkTestBase.sfDir}/documents.parquet")
    // the PRODUCTION recipe at the standing operating point — not an
    // inline re-derivation, so a change to Learn.features or the
    // (iters, lr) point cannot silently diverge from what this spec
    // trains against
    val (feat, labels, bias, w) = Learn.qualityClassifier(docs)
    val sc = Learn.logisticScore(labels.select(col("id")), feat, w,
      bias).join(labels, Seq("id"))
    val a = sc.agg(
      avg(when(col("y") === 1.0d, col("score"))).as("men"),
      avg(when(col("y") === 0.0d, col("score"))).as("mxx"),
      sum(when(col("score") > 0.5d, 1L).otherwise(0L)).as("np"),
      sum(when(col("score") > 0.5d && col("y") === 1.0d, 1L)
        .otherwise(0L)).as("npe"),
      avg(when((col("score") > 0.5d) === (col("y") === 1.0d), 1.0d)
        .otherwise(0.0d)).as("acc"),
      max(col("score")).as("mx")).head()
    assert(a.getDouble(0) > a.getDouble(1) + 0.15,
      "no class separation learned")
    assert(a.getLong(2) > 50 &&
      a.getLong(3).toDouble / a.getLong(2) > 0.85,
      "predicted-quality set not en-precise")
    assert(a.getDouble(4) > 0.75,
      s"train accuracy ${a.getDouble(4)} not above the base rate")
    // bounded model — the preconditioner's no-saturation contract
    assert(a.getDouble(5) < 1.0)
    // fail-fast guard: a 0-iteration train must throw here, not
    // return a null model that NPEs downstream in logisticScore
    intercept[IllegalArgumentException] {
      Learn.logisticTrain(feat, labels, iters = 0)
    }
  }

  test("st19 fold: batchId-partition overwrite is replay-idempotent " +
       "and confined to its own partition") {
    import graft.streaming.Streams
    import spark.implicits._
    val dir = SparkTestBase.sfDir
    val model =
      new java.io.File("target/qtmp/r12_st19_model").getAbsolutePath
    val scores =
      new java.io.File("target/qtmp/r12_st19_scores").getAbsolutePath
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(model))
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(scores))
    // tiny frozen model — the training path is x97's spec; this one
    // pins the fold's restart semantics. Persisted via the versioned
    // ledger form the fold now insists on reading back.
    graft.operators.Learn.persistModel(
      Seq((0L, 1.5), (1L, -2.0), (7L, 0.25)).toDF("b", "w"),
      Seq(Tuple1(-0.35)).toDF("bias"), model,
      graft.operators.Learn.qualityModelVersion())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    def state(): Seq[(Long, Double)] = spark.read.parquet(scores)
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Streams.classifierScoreFold(b0, 0L, model, scores)
    val s1 = state()
    Streams.classifierScoreFold(b0, 0L, model, scores) // redelivery
    assert(state() === s1, "replayed batch changed the ledger")
    Streams.classifierScoreFold(b1, 1L, model, scores)
    val s2 = state()
    assert(s2.size == docs.count() && s1.toSet.subsetOf(s2.toSet),
      "later batch disturbed an earlier batch's partition")
  }

  test("x98 calibration pane: observed label rate rises with the " +
       "score bucket (the classifier's separation, bucketed)") {
    val rows = SparkEntry.queries("x98_calibration_audit")(
        spark, SparkTestBase.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    val lo = rows.minBy(_._1)
    val hi = rows.maxBy(_._1)
    assert(hi._3 > lo._3 + 0.3,
      s"frac_en not rising across buckets: lo=$lo hi=$hi")
    assert(rows.map(_._2).sum == 500L, "pane must cover every doc")
  }

  test("x99 hard negatives: one pair set per query, negative outside " +
       "the dense top-10 and distinct from the positive") {
    val rows = SparkEntry.queries("x99_hard_negatives")(
        spark, SparkTestBase.sfDir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(!r.isNullAt(3), "this corpus always yields a hard neg")
      assert(r.getLong(1) != r.getLong(3),
        "hard negative must differ from the positive")
      assert(r.getInt(5) >= 1)
    }
  }

  test("x100 vocabEncode: checksum is order-sensitive, OOV path live") {
    import graft.operators.TextOps
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma"), (2L, "beta alpha gamma"))
      .toDF("doc_id", "text")
    val out = TextOps.vocabEncode(a, col("doc_id"), col("text"), v = 2)
      .orderBy(col("id")).collect()
    // same token multiset, different ORDER → different fingerprint —
    // the property that makes the pane a real export audit
    assert(out(0).getLong(3) !== out(1).getLong(3))
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 1L)
    // the corpus-scale OOV branch must actually fire at v=24
    val docs = spark.read.parquet(
      s"${SparkTestBase.sfDir}/documents.parquet")
    val oov = TextOps.vocabEncode(docs, col("doc_id"), col("text"),
        v = 24)
      .agg(sum(col("n_oov"))).head().getLong(0)
    assert(oov > 0, "OOV path vacuous — raise or lower v")
  }

  test("x94 DSIR: selection skews hard toward the target domain") {
    val docs =
      spark.read.parquet(s"${SparkTestBase.sfDir}/documents.parquet")
    val base = docs.filter(col("lang") === "en").count().toDouble /
      docs.count()
    val pane =
      SparkEntry.queries("x94_dsir_selection")(spark, SparkTestBase.sfDir)
        .agg(sum(col("n_selected")).as("s"),
          sum(col("n_selected_en")).as("se")).collect()(0)
    val selRate = pane.getLong(1).toDouble / pane.getLong(0)
    // the whole point of importance resampling: the kept quarter must
    // be far more target-like than the corpus (measured: 0.83 vs 0.40
    // base at sf0.001) — a near-base rate means the hashed-ngram model
    // learned nothing
    assert(selRate > base + 0.2,
      f"selected en-rate $selRate%.2f not above base $base%.2f + 0.2")
  }

  test("layout: keepTotal fails fast on a pre-existing 'total' column") {
    import spark.implicits._
    val df = Seq((1L, 7L), (2L, 9L)).toDF("k", "total")
    intercept[IllegalArgumentException] {
      Layout.globalRowNumber(df, $"k", keepTotal = true)
    }
    intercept[IllegalArgumentException] {
      Layout.globalPrefixSum(df, $"total", $"k", keepTotal = true)
    }
    // without keepTotal the caller's column is untouched
    assert(Layout.globalRowNumber(df, $"k").count() == 2L)
  }
}
