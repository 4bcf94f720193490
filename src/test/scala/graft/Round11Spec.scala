package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Round-5 additions: scale-safe global-window replacements (ntile /
  * prefix-sum parity with the single-partition SQL forms they replace),
  * plus behavior pins asked for by the round-4 verdict. */
class Round11Spec extends GraftSuite {

  test("ntileFromRowNum: exact SQL ntile parity incl. remainder cases") {
    import spark.implicits._
    // sweep sizes that exercise the remainder-first property the naive
    // floor(r*k/n) formula gets wrong (e.g. n=10,k=4 -> 3,3,2,2) plus
    // exact-division and n >> k shapes
    for ((n, k) <- Seq((10, 4), (10, 3), (11, 3), (500, 3), (15000, 20),
                       (7, 7), (97, 13))) {
      val df = (0 until n).toDF("v")
      val want = df.withColumn("t", ntile(k).over(Window.orderBy($"v")))
      val got = Layout.globalRowNumber(df, $"v", nParts = 3)
        .withColumn("t2", Layout.ntileFromRowNum($"row_num", lit(n), k))
      val diff = want.join(got, "v")
        .filter($"t" =!= $"t2").count()
      assert(diff == 0L, s"n=$n k=$k: $diff rows disagree with ntile")
    }
  }

  test("globalPrefixSum: parity with the single-partition running sum") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i, (i * 37 % 101).toLong))
      .toDF("k", "v")
    val w = Window.orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum($"v").over(w))
      .select($"k", $"cum".as("want"))
    val got = Layout.globalPrefixSum(df, $"v", $"k", nParts = 5)
      .select($"k", $"cum".as("got"))
    assert(want.join(got, "k").filter($"want" =!= $"got").count() == 0L)
  }

  test("lgkFor: auto-sized lgk holds the 5% intersection bound where lgk=14 fails") {
    // sf0.1-scale gram cardinalities: two sets of 2M distinct keys
    // sharing 5k. At lgk=14, θ ≈ 16384/2M ≈ 0.008 so overlap·θ ≈ 41
    // ≪ 1600 — the regime the sf1 rehearsal measured failing (this
    // deterministic draw realizes 11% error). lgkFor must pick the lgk
    // that restores overlap·θ ≥ (2/0.05)² = 1600: here 20 (k=1M, still
    // estimation mode at θ≈0.5, overlap·θ ≈ 2600; realized err 2.0%).
    import graft.functions.SketchFns
    import spark.implicits._
    val n = 2000000L
    val overlap = 5000L
    val a = spark.range(n).select($"id")
    val b = spark.range(n - overlap, 2L * n - 2L * overlap).select($"id")
    def interEst(lgk: Int): Double = {
      val sa = a.agg(SketchFns.thetaAgg($"id", lgk).as("s"))
      val sb = b.agg(SketchFns.thetaAgg($"id", lgk).as("s"))
      sa.crossJoin(sb.withColumnRenamed("s", "s2"))
        .select(SketchFns.thetaIntersectEstimate($"s", $"s2").as("e"))
        .collect()(0).getDouble(0)
    }
    val autoLgk = SketchFns.lgkFor(minOverlap = overlap, maxDistinct = n)
    assert(autoLgk > 14, s"expected lgk above 14 for n=$n o=$overlap, got $autoLgk")
    val errAuto = math.abs(interEst(autoLgk) - overlap) / overlap
    val err14 = math.abs(interEst(14) - overlap) / overlap
    assert(errAuto <= 0.05, f"auto lgk=$autoLgk err=$errAuto%.4f breaks the 5%% bound")
    assert(err14 > 0.05, f"lgk=14 err=$err14%.4f unexpectedly holds — test loses its teeth")
    // and the exact-mode degenerate case: k >= n when the overlap
    // demand is looser than the set size
    assert(SketchFns.lgkFor(1600, 10000) == 14)
    assert((1L << SketchFns.lgkFor(1600, 10000)) >= 10000)
  }

  test("st16 ledger: multi-micro-batch delivery equals the batch top-k") {
    import spark.implicits._
    // 3 micro-batches through the foreachBatch ledger upsert must land
    // exactly on the single-pass window truth — the associativity
    // claim (top-k(top-k(L) ∪ B) = top-k(L ∪ B)) made executable
    val got = graft.streaming.Streams.streamTopK(spark,
      SparkTestBase.sfDir, splitFiles = 3)
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val want = graft.Tables.load(spark, SparkTestBase.sfDir, "orders")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"o_custkey", $"rank".cast("int").as("rank"),
        $"o_orderkey", $"o_totalprice")
    assert(got.exceptAll(want).count() == 0L &&
      want.exceptAll(got).count() == 0L)
  }

  test("ApproxDistinctRule: mixed COUNT(DISTINCT x), SUM(y) rewrites the distinct and ONLY the distinct") {
    // behavior pin (round-4 verdict ask): in a mixed aggregate the
    // rule swaps the distinct count for the theta estimate while the
    // plain SUM stays exact — and at this cardinality the exact-mode
    // sketch makes the whole row equal the rule-off truth
    val probe = spark.newSession()
    graft.plans.ApproxDistinctRule.install(probe)
    import org.apache.spark.sql.functions._
    val base = probe.range(0, 1000)
      .select((col("id") % 10).as("g"), (col("id") % 7).as("x"),
        col("id").as("y"))
    def run() = base.groupBy(col("g"))
      .agg(countDistinct(col("x")).as("nd"), sum(col("y")).as("s"))
      .orderBy(col("g"))
    val exact = run().collect().map(_.toSeq)
    probe.conf.set(graft.plans.ApproxDistinctRule.flagKey, "true")
    try {
      val df = run()
      assert(df.collect().map(_.toSeq).toSeq == exact.toSeq)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_theta_agg"), p.take(600))
      assert(p.contains("sum("), p.take(600))
    } finally probe.conf.set(graft.plans.ApproxDistinctRule.flagKey, "false")
  }

  test("ApproxDistinctRule: malformed flag values degrade to exact mode, not a crash") {
    val probe = spark.newSession()
    graft.plans.ApproxDistinctRule.install(probe)
    import org.apache.spark.sql.functions._
    for (v <- Seq("1", "yes", " True ", "TRUE")) {
      probe.conf.set(graft.plans.ApproxDistinctRule.flagKey, v)
      try {
        val df = probe.range(0, 100).select((col("id") % 5).as("x"))
          .agg(countDistinct(col("x")).as("nd"))
        assert(df.collect()(0).getLong(0) == 5L, s"flag=$v")
        val fired = df.queryExecution.executedPlan.toString
          .contains("graft_theta_agg")
        // only a case-insensitive trimmed "true" may fire the rewrite
        assert(fired == v.trim.equalsIgnoreCase("true"), s"flag=$v fired=$fired")
      } finally probe.conf.set(graft.plans.ApproxDistinctRule.flagKey, "false")
    }
  }

  test("bandsFor: recall-first band planning pins the hand-tuned defaults") {
    import graft.operators.Dedup
    // the pairs path has always run (8 bands, 4 rows) at threshold 0.8
    // with k=32 — the planner must reproduce it, and the neighboring
    // thresholds must move as the S-curve math says
    assert(Dedup.bandsFor(0.8, 32) == (8, 4))
    assert(Dedup.bandsFor(0.95, 32) == (4, 8)) // sharper curve affordable
    assert(Dedup.bandsFor(0.5, 32) == (16, 2)) // loose threshold needs wider
    assert(Dedup.bandsFor(0.05, 32) == (32, 1)) // nothing clears: fallback
    // the recall contract itself: every planned pair clears 0.95 when
    // any divisor pair can
    for (t <- Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)) {
      val (b, r) = Dedup.bandsFor(t, 32)
      val rec = 1.0 - math.pow(1.0 - math.pow(t, r), b)
      assert(rec >= 0.95, f"t=$t (b=$b,r=$r) recall=$rec%.4f")
    }
    // and the cliff the planner exists to avoid: the next-sharper pair
    // at 0.8 would silently halve candidate recall
    val cliff = 1.0 - math.pow(1.0 - math.pow(0.8, 8), 4)
    assert(cliff < 0.6, f"expected the (4,8) cliff, got $cliff%.4f")
  }

  test("ivfpqTopK degenerate config equals exact fixed-point L2 top-k") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // nprobe = nlist (every cell probed) + ksub = |corpus| (every
    // residual its own codeword): integer residuals cancel the
    // centroid exactly, so IVFPQ must reproduce brute L2 bit-for-bit
    val emb = Tables.load(spark, SparkTestBase.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val got = Similarity.ivfpqTopK(q, emb, "vec_id", "embedding",
      k = 5, nlist = 4, nprobe = 4, m = 8, ksub = emb.count().toInt)
    val want = Similarity.bruteTopKL2(q, emb, "vec_id", "embedding", 5)
    assert(got.exceptAll(want).count() == 0L &&
      want.exceptAll(got).count() == 0L)
  }

  test("freq sketch: exact-regime estimates equal exact counts; lossy bounds always contain them") {
    import graft.functions.FreqFns
    import spark.implicits._
    // skewed synthetic stream: token t_i appears i times (1..60)
    val rows = (1 to 60).flatMap(i => Seq.fill(i)(f"t$i%03d")).toDF("tok")
    val exact = rows.groupBy($"tok").agg(count(lit(1)).as("n"))
    // exact regime: map size comfortably above 60 distinct items —
    // no purge ever, so estimate == exact for EVERY item
    val skBig = rows.agg(FreqFns.freqAgg($"tok", 256).as("sk"))
    val exactCheck = exact.crossJoin(skBig)
      .filter(FreqFns.freqEstimate($"sk", $"tok") =!= $"n").count()
    assert(exactCheck == 0L)
    // lossy regime: map size 16 forces purges; raw estimates may drift
    // but the deterministic guarantee lb <= true <= ub must hold for
    // every item regardless of merge order
    val skSmall = rows.agg(FreqFns.freqAgg($"tok", 16).as("sk"))
    val boundsViol = exact.crossJoin(skSmall)
      .filter(!(FreqFns.freqLowerBound($"sk", $"tok") <= $"n" &&
        $"n" <= FreqFns.freqUpperBound($"sk", $"tok"))).count()
    assert(boundsViol == 0L)
    // and the small sketch really did purge (the test has teeth)
    val someLoose = exact.crossJoin(skSmall)
      .filter(FreqFns.freqUpperBound($"sk", $"tok") >
        FreqFns.freqLowerBound($"sk", $"tok")).count()
    assert(someLoose > 0L)
    // merge path: two half-streams merged == useful bounds too
    val a = rows.filter(xxhash64($"tok") % 2 === 0)
      .agg(FreqFns.freqAgg($"tok", 256).as("sk"))
    val b = rows.filter(xxhash64($"tok") % 2 =!= 0)
      .agg(FreqFns.freqAgg($"tok", 256).as("sk"))
    val m = a.unionByName(b).agg(FreqFns.freqMergeAgg($"sk", 256).as("sk"))
    val mergeCheck = exact.crossJoin(m)
      .filter(FreqFns.freqEstimate($"sk", $"tok") =!= $"n").count()
    assert(mergeCheck == 0L)
  }

  test("st17 freq ledger: multi-micro-batch bounds still contain exact counts") {
    import spark.implicits._
    // 3 micro-batches through the foreachBatch sketch-merge upsert:
    // estimates may drift with batching, the bounds contract may NOT
    val got = graft.streaming.Streams.streamFreqLedger(spark,
      SparkTestBase.sfDir, splitFiles = 3)
    val rows = got.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Boolean]("bounds_ok")),
      rows.mkString("\n"))
  }

  test("freq sketch SQL surface: graft_freq_* callable from plain SQL") {
    import spark.implicits._
    graft.plans.GraftExtensions.registerAll(spark)
    (1 to 30).flatMap(i => Seq.fill(i)(f"w$i%02d")).toDF("tok")
      .createOrReplaceTempView("r11_freq_toks")
    val row = spark.sql("""
      WITH sk AS (SELECT graft_freq_agg(tok, 256) AS s FROM r11_freq_toks)
      SELECT graft_freq_estimate(s, 'w30') AS est,
             graft_freq_lb(s, 'w30') <= 30 AND
             30 <= graft_freq_ub(s, 'w30') AS ok
      FROM sk""").collect()(0)
    assert(row.getLong(0) == 30L && row.getBoolean(1))
  }

  test("bigramLogProb: hand-computed add-one conditionals on a tiny doc") {
    import graft.operators.TextOps
    import spark.implicits._
    // corpus = "a b a b" + "x": tokens a,b,a,b,x -> c(a)=c(b)=2, V=3
    // (the 1-token doc contributes no bigrams but DOES feed the LM's
    // vocabulary); bigrams (a,b)x2, (b,a)x1;
    // p(b|a)=(2+1)/(2+3), p(a|b)=(1+1)/(2+3)
    val df = Seq((1L, "a b a b"), (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(df, $"doc_id", $"text").collect()
    assert(out.length == 1) // the 1-token doc has no order signal
    val r = out.head
    assert(r.getAs[Long]("id") == 1L && r.getAs[Long]("n_bigrams") == 3L)
    val want = BigDecimal((2 * math.log(3.0 / 5) + math.log(2.0 / 5)) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("avg_logp2") == want)
  }

  test("gopherRules: rule-by-rule flags on crafted docs") {
    import graft.operators.TextOps
    import spark.implicits._
    val good = "the be to of and that have with " + Seq.fill(50)("word").mkString(" ")
    val tooShort = "the be just a few words here"
    val numeric = Seq.fill(60)("12345").mkString(" ")
    val bullets = Seq.fill(10)("- item in a list").mkString("\n")
    val df = Seq((1L, good), (2L, tooShort), (3L, numeric),
      (4L, bullets)).toDF("doc_id", "text")
    val out = TextOps.gopherRules(df, $"doc_id", $"text")
      .orderBy($"id").collect()
    val byId = out.map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(1L).getAs[Boolean]("pass"))
    assert(!byId(2L).getAs[Boolean]("r1_wordcount") &&
      byId(2L).getAs[Boolean]("r7_stopwords"))
    assert(!byId(3L).getAs[Boolean]("r6_alpha") &&
      !byId(3L).getAs[Boolean]("r7_stopwords"))
    assert(!byId(4L).getAs[Boolean]("r4_bullets"))
  }

  test("ntileFromRowNum property: random (n, k) pairs agree with window ntile") {
    import spark.implicits._
    // seeded random draws (DatePropertySpec discipline): sizes with
    // remainders in every residue class, k spanning tiny to near-n
    val rnd = new scala.util.Random(11)
    val cases = Seq.fill(20) {
      val k = 2 + rnd.nextInt(30)
      val n = k + rnd.nextInt(380) // n >= k, the documented domain
      (n, k)
    }
    for ((n, k) <- cases) {
      val df = (0 until n).toDF("v")
      val want = df.withColumn("t", ntile(k).over(Window.orderBy($"v")))
      val got = Layout.globalRowNumber(df, $"v", nParts = 3)
        .withColumn("t2", Layout.ntileFromRowNum($"row_num", lit(n), k))
      val diff = want.join(got, "v").filter($"t" =!= $"t2").count()
      assert(diff == 0L, s"n=$n k=$k: $diff rows disagree")
    }
  }

  test("bandsFor/lgkFor properties: sizing rules hold across random inputs") {
    import graft.operators.Dedup
    import graft.functions.SketchFns
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val k = Seq(16, 32, 64, 128)(rnd.nextInt(4))
      val t = 0.05 + rnd.nextDouble() * 0.93
      val (b, r) = Dedup.bandsFor(t, k)
      def recall(bb: Int, rr: Int) =
        1.0 - math.pow(1.0 - math.pow(t, rr), bb)
      assert(b * r == k, s"budget not fully used: t=$t k=$k -> ($b,$r)")
      assert(recall(b, r) >= 0.95 || r == 1,
        s"unqualified non-fallback pick: t=$t k=$k -> ($b,$r)")
      // maximality: no sharper divisor pair also qualifies
      val sharper = (r + 1 to k).filter(k % _ == 0)
        .filter(rr => recall(k / rr, rr) >= 0.95)
      assert(sharper.isEmpty, s"t=$t k=$k picked r=$r but $sharper qualify")
    }
    for (_ <- 1 to 200) {
      val n = 1L + rnd.nextLong(1L << 40)
      val o = 1L + rnd.nextLong(n)
      val lgk = SketchFns.lgkFor(o, n)
      assert(lgk >= 5 && lgk <= 26)
      // away from the clamps, k covers the need and overshoots < 2x
      val needK = math.pow(2 / 0.05, 2) * n / o
      if (needK >= 32 && needK <= math.pow(2, 26)) {
        assert((1L << lgk).toDouble >= needK, s"n=$n o=$o lgk=$lgk")
        assert((1L << lgk).toDouble < 2 * needK, s"n=$n o=$o lgk=$lgk")
      }
    }
  }

  test("ivfpqEncode: incremental batch encode equals full-corpus encode") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // encode is per-row against FIXED index state, so admitting in two
    // batches must produce exactly the code rows a one-shot encode
    // does — the invariant that makes O(|batch|) ingest sound
    val emb = Tables.load(spark, SparkTestBase.sfDir, "embeddings")
    val (cents, cb) = Similarity.ivfpqTrain(emb, "vec_id", "embedding",
      nlist = 4, m = 4, ksub = 8)
    val full = Similarity.ivfpqEncode(emb, "vec_id", "embedding",
      cents, cb, m = 4)
    val inc = Similarity.ivfpqEncode(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cents, cb, m = 4)
      .unionByName(Similarity.ivfpqEncode(
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        cents, cb, m = 4))
    assert(full.exceptAll(inc).count() == 0L &&
      inc.exceptAll(full).count() == 0L)
  }

  test("ivfpq index state survives a parquet round-trip bit-exactly") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // the "standing index" claim made concrete: definition (centroids +
    // codebook) and state (code rows) write to parquet, read back, and
    // searching the reloaded index returns exactly the in-memory result
    // — float-array and code fidelity through the storage format
    val emb = Tables.load(spark, SparkTestBase.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val (cents, cb) = Similarity.ivfpqTrain(emb, "vec_id", "embedding",
      nlist = 4, m = 4, ksub = 8, pqIters = 1)
    val encoded = Similarity.ivfpqEncode(emb, "vec_id", "embedding",
      cents, cb, m = 4)
    val dir = new java.io.File(
      graft.sources.ScratchRoot.path("r11_ivfpq_state"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    cents.write.parquet(s"$dir/cents")
    cb.write.parquet(s"$dir/cb")
    encoded.write.parquet(s"$dir/encoded")
    val want = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
      encoded, cents, cb, k = 3, nprobe = 2, m = 4)
    val got = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
      spark.read.parquet(s"$dir/encoded"),
      spark.read.parquet(s"$dir/cents"),
      spark.read.parquet(s"$dir/cb"), k = 3, nprobe = 2, m = 4)
    assert(want.exceptAll(got).count() == 0L &&
      got.exceptAll(want).count() == 0L)
  }

  test("globalPrefixSum: composite desc-struct key matches DESC window order") {
    import spark.implicits._
    // the x86 key shape: struct(-score, id) ascending == (score DESC, id)
    val df = Seq((1, 5.0, 10L), (2, 5.0, 20L), (3, 7.0, 30L),
                 (4, 1.0, 40L), (5, 7.0, 50L)).toDF("id", "score", "v")
    val w = Window.orderBy($"score".desc, $"id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum($"v").over(w))
      .select($"id", $"cum".as("want"))
    val got = Layout.globalPrefixSum(df, $"v",
        struct((-$"score").as("n"), $"id".as("i")), nParts = 2)
      .select($"id", $"cum".as("got"))
    assert(want.join(got, "id").filter($"want" =!= $"got").count() == 0L)
  }
}
