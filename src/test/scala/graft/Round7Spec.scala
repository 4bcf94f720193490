package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sampling, Similarity, TextOps}

/** Round-7 additions: winnowing fingerprints (x57), leakage-safe
  * splits (x58), kNN label-disagreement audit (x59). */
class Round7Spec extends GraftSuite {
  import spark.implicits._

  // ---------------------------------------------------------- winnowing

  test("winnowing guarantee: a shared w+k-1 token run yields a shared fingerprint") {
    // k=3, w=4 → any shared window of 6 consecutive tokens must
    // contribute at least one common fingerprint (SIGMOD'03 Thm. 2)
    val shared = "alpha bravo charlie delta echo foxtrot"
    val docs = Seq(
      (1L, s"one two three $shared nine ten eleven twelve"),
      (2L, s"aaa bbb ccc ddd $shared zzz yyy")).toDF("id", "text")
    val fps = TextOps.winnowingFingerprints(docs, $"id", $"text")
    val common = fps.filter($"id" === 1L).select("fp")
      .intersect(fps.filter($"id" === 2L).select("fp"))
    assert(common.count() >= 1)
  }

  test("winnowing density: fingerprints ≪ grams, short doc gets exactly one") {
    val long = (1 to 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, long), (2L, "just three tokens")).toDF("id", "text")
    val fps = TextOps.winnowingFingerprints(docs, $"id", $"text")
    val nLong = fps.filter($"id" === 1L).count()
    // 198 grams, window 4 → expected ~2/(w+1) = 40% density; allow wide
    // margins but pin that it is a strict sample, not all grams
    assert(nLong > 20 && nLong < 150, s"density off: $nLong of 198 grams")
    // 3 tokens → 1 gram → exactly one fingerprint
    assert(fps.filter($"id" === 2L).count() === 1)
  }

  test("winnowingPairs finds the plagiarized pair and not the disjoint one") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra trailing tokens"), // near-copy of 1
      (3L, (100 to 140).map(i => s"q$i").mkString(" "))).toDF("id", "text")
    val pairs = TextOps.winnowingPairs(docs, $"id", $"text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val overlap = pairs.head.getDouble(3)
    assert(overlap > 0.9, s"near-copy overlap should be ~1.0, got $overlap")
  }

  test("winnowingPairs plan: postings equi-join, no cartesian product") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("id", "text")
    val plan = TextOps.winnowingPairs(docs, $"id", $"text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"winnowing pair generation must stay an equi-join:\n$plan")
  }

  // ------------------------------------------------- leakage-safe split

  test("leakageSafeSplit: exact duplicates always land in one split") {
    val docs = (1L to 300L).map { i =>
      // 100 clusters of 3 byte-identical copies each
      (i, s"document body number ${i % 100} with shared content")
    }.toDF("doc_id", "text")
    val sp = Sampling.leakageSafeSplit(docs, $"text")
    val fractured = sp.groupBy("cluster_fp")
      .agg(countDistinct("split").as("ns")).filter($"ns" > 1).count()
    assert(fractured === 0)
    // all three splits materialize over 100 clusters
    assert(sp.select("split").distinct().count() === 3)
  }

  test("leakageSafeSplit honors an explicit cluster key (near-dup composition)") {
    val docs = Seq(
      (1L, "some text a", 7L), (2L, "some text b", 7L), // one CC label
      (3L, "other text", 9L)).toDF("doc_id", "text", "cc")
    val sp = Sampling.leakageSafeSplit(docs, $"text", Some($"cc"))
    val splits = sp.filter($"cc" === 7L).select("split").distinct().count()
    assert(splits === 1)
  }

  // ------------------------------------- sketch ledger (m8/st13 algebra)

  test("sketch ledger: 3 real micro-batches union to the one-shot sketch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // stage 3 separate files so maxFilesPerTrigger=1 forces three
    // genuine micro-batches — the batching-invariance claim of
    // m8/st13 exercised with real multi-batch delivery, not the
    // single-batch AvailableNow degenerate
    val stage = new java.io.File(
      graft.sources.ScratchRoot.path("r7_sketch_src"))
    org.apache.commons.io.FileUtils.deleteQuietly(stage); stage.mkdirs()
    val ev = Tables.load(spark, SparkTestBase.sfDir, "events")
      .select(col("event_type"), col("user_id"))
    (0 until 3).foreach { i =>
      val tmp = new java.io.File(
        graft.sources.ScratchRoot.path(s"r7_sketch_tmp_$i"))
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      ev.filter($"user_id" % 3 === i).coalesce(1)
        .write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(stage, s"slice_$i.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    val target = new java.io.File(
      graft.sources.ScratchRoot.path("r7_sketch_target"))
    org.apache.commons.io.FileUtils.deleteQuietly(target)
    graft.operators.Mutations.seedEmptyLedger(spark,
      target.getAbsolutePath,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("sk",
          org.apache.spark.sql.types.BinaryType))))
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage.getAbsolutePath)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        val delta = batch.groupBy(col("event_type"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        val merged = batch.sparkSession.read
          .parquet(target.getAbsolutePath)
          .unionByName(delta).groupBy(col("event_type"))
          .agg(expr("hll_union_agg(sk)").as("sk"))
        graft.operators.Mutations.overwriteAtomic(merged,
          target.getAbsolutePath)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(nBatches.get() === 3, s"expected 3 micro-batches, got $nBatches")
    val ledger = spark.read.parquet(target.getAbsolutePath)
      .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // register STATE is batching-invariant; the ESTIMATE is only
    // guaranteed identical in coupon-exact mode (low cardinality —
    // true here). Post-union DataSketches switches HIP → composite
    // estimator, so the general contract is closeness, not equality.
    assert(ledger.keySet === oneShot.keySet)
    ledger.foreach { case (k, est) =>
      val one = oneShot(k)
      assert(math.abs(est - one).toDouble / one <= 0.05,
        s"$k: multi-batch $est vs one-shot $one beyond 5%")
    }
  }

  // ------------------------------------------ cross-source leakage

  test("crossSourceLeakage finds the copied span, not independent text") {
    val shared = "one two three four five six seven"
    val docs = Seq(
      ("sA", s"$shared alpha beta"),
      ("sB", s"gamma delta $shared"), // copies the span from sA
      ("sC", "totally different words here with nothing shared at all"))
      .toDF("source", "text")
    val m = TextOps.crossSourceLeakage(docs, $"source", $"text", n = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m.contains(("sA", "sB")) && m(("sA", "sB")) >= 3)
    assert(!m.contains(("sA", "sC")) && !m.contains(("sB", "sC")))
  }

  // --------------------------------------------- nearest as-of (j17)

  test("AsofJoin.nearest picks the closer side, ties prefer backward") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val probes = Seq((1L, 1L, ts(100)), (2L, 1L, ts(205)), (3L, 2L, ts(50)))
      .toDF("event_id", "user_id", "ts")
    val states = Seq((10L, 1L, ts(90)), (11L, 1L, ts(210)), (12L, 3L, ts(0)))
      .toDF("p_event_id", "user_id", "p_ts")
    val out = AsofJoin.nearest(probes, "user_id", "ts",
        states, "user_id", "p_ts", Seq("p_event_id"), "p_event_id")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_ => r.getLong(3)), Option(r.get(4)))).toMap
    // probe 1 at t=100: prev at 90 (d=10) vs next at 210 (d=110) → prev
    assert(out(1L)._1 === Some(10L))
    // probe 2 at t=205: prev at 90 (d=115) vs next at 210 (d=5) → next
    assert(out(2L)._1 === Some(11L))
    // probe 3: user 2 has no states → null payload and delta
    assert(out(3L)._1 === None && out(3L)._2 === None)
  }

  test("AsofJoin.nearest: equidistant prev/next resolves backward") {
    import graft.operators.AsofJoin
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val probes = Seq((1L, 1L, ts(100))).toDF("event_id", "user_id", "ts")
    val states = Seq((10L, 1L, ts(95)), (11L, 1L, ts(105)))
      .toDF("p_event_id", "user_id", "p_ts")
    val r = AsofJoin.nearest(probes, "user_id", "ts",
        states, "user_id", "p_ts", Seq("p_event_id"), "p_event_id")
      .collect().head
    assert(r.getLong(3) === 10L && r.getLong(4) === -5000000L)
  }

  // ------------------------------------------------- CDC apply (m7)

  test("cdcApply: last-writer-wins, deletes remove, reinsert revives") {
    import graft.operators.Mutations
    val log = Seq(
      (1L, "I", 1L, "a"), (1L, "U", 2L, "a2"), // update wins
      (2L, "I", 1L, "b"), (2L, "D", 2L, "-"), // deleted
      (3L, "I", 1L, "c"), (3L, "D", 2L, "-"), (3L, "I", 3L, "c2"), // revived
      (4L, "I", 1L, "d")) // plain insert
      .toDF("k", "op", "seq", "v")
    val state = Mutations.cdcApply(log, Seq("k"), "op", Seq($"seq"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(state === Map(1L -> "a2", 3L -> "c2", 4L -> "d"))
  }

  // ------------------------------------------ global row number (p20)

  test("globalRowNumber: contiguous 0..n-1 in key order, via range exchange") {
    import graft.operators.Layout
    val df = Seq(30L, 10L, 50L, 20L, 40L).toDF("k")
    val out = Layout.globalRowNumber(df, $"k", nParts = 3)
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((10L, 0L), (20L, 1L), (30L, 2L),
      (40L, 3L), (50L, 4L)))
    // larger shuffled input: numbering is the rank in sorted order
    val big = scala.util.Random.shuffle((0L until 500L).toList).toDF("k")
    val nums = Layout.globalRowNumber(big, $"k", nParts = 7)
      .orderBy($"k").select("row_num").as[Long].collect()
    assert(nums.toSeq === (0L until 500L))
  }

  // ------------------------------------------- label-propagation (g4)

  test("labelPropagation separates two bridged cliques into two communities") {
    import graft.operators.Graph
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), // clique A
      (10L, 11L), (10L, 12L), (11L, 12L), // clique B
      (3L, 10L)) // bridge
      .toDF("src", "dst")
    val com = Graph.labelPropagation(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(com(1L) === com(2L) && com(2L) === com(3L))
    assert(com(10L) === com(11L) && com(11L) === com(12L))
    assert(com(1L) !== com(10L),
      s"bridged cliques must keep distinct communities: $com")
  }

  // ------------------------------------------------- integrity report

  test("integrityReport counts orphans, dup keys, and check violations") {
    import graft.operators.Quality
    val dim = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val fact = Seq((10L, 1L), (11L, 2L), (12L, 99L)).toDF("fid", "dim_id")
    val dups = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val rep = Quality.integrityReport(Seq(
      ("fk_fact_dim", "fact", Quality.fkOrphans(fact, "dim_id", dim, "id")),
      ("pk_dup", "dups", Quality.duplicateKeys(dups, Seq("k"))),
      ("check_fid_small", "fact",
        fact.filter(!coalesce($"fid" < 12L, lit(false))))))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rep === Map("fk_fact_dim" -> 1L, "pk_dup" -> 1L,
      "check_fid_small" -> 1L))
  }

  // ----------------------------------------------- corpus statistics

  test("unigramLogProb: common-token docs outscore rare-token docs") {
    val common = "the the the cat sat on the mat"
    val docs = Seq(
      (1L, common), (2L, common), (3L, common), (4L, common),
      (5L, "zyx wvu tsr qpo nml")).toDF("doc_id", "text")
    val scored = TextOps.unigramLogProb(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(1L) > scored(5L),
      s"gibberish must score below the corpus mode: $scored")
    val n = TextOps.unigramLogProb(docs, $"doc_id", $"text")
      .filter($"id" === 1L).select("n_toks").as[Long].head()
    assert(n === 8)
  }

  test("sourceTokenDrift: divergent source has the higher KL") {
    val typical = "alpha beta gamma delta epsilon"
    // typical dominates the blend, so the corpus distribution ≈ the
    // typical source and only the weird source diverges from it
    val rows = (1 to 50).map(i => (s"src_typical", s"$typical run$i")) ++
      (1 to 5).map(i => (s"src_weird", s"qqq www eee rrr ttt odd$i"))
    val docs = rows.toDF("source", "text")
    val kl = TextOps.sourceTokenDrift(docs, $"source", $"text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(kl("src_weird") > kl("src_typical"),
      s"drifted source must carry the larger KL: $kl")
  }

  test("kFoldSplit: clusters stay within one fold, all folds populated") {
    val docs = (1L to 400L).map(i =>
      (i, s"cv document body ${i % 80} shared")).toDF("doc_id", "text")
    val sp = Sampling.kFoldSplit(docs, $"text", k = 5)
    val fractured = sp.groupBy("cluster_fp")
      .agg(countDistinct("fold").as("nf")).filter($"nf" > 1).count()
    assert(fractured === 0)
    assert(sp.select("fold").distinct().count() === 5)
    assert(sp.filter($"fold" < 0 || $"fold" > 4).count() === 0)
  }

  // --------------------------------------------- kNN label disagreement

  test("labelDisagreement flags the mislabeled vector, keeps the clean ones") {
    // 5 vectors near (1,0), labeled A except vec 4 labeled B; one far
    // vector at (0,1) labeled B. vec 4's neighbors are all A ⇒ flagged.
    val emb = Seq(
      (0L, Array(1.00f, 0.01f), "A"), (1L, Array(1.00f, 0.02f), "A"),
      (2L, Array(0.99f, 0.00f), "A"), (3L, Array(0.98f, 0.01f), "A"),
      (4L, Array(1.00f, 0.00f), "B"), // mislabeled
      (5L, Array(0.00f, 1.00f), "B")).toDF("vec_id", "embedding", "label")
    val nn = Similarity.bruteTopKL2(emb, emb, "vec_id", "embedding", k = 3)
    val audit = Similarity.labelDisagreement(nn, emb, "vec_id", "label")
    val flagged = audit.filter($"disagree").select("id")
      .as[Long].collect().toSet
    assert(flagged.contains(4L), "mislabeled vector must be flagged")
    assert(!flagged.contains(0L) && !flagged.contains(1L))
  }

  test("labelDisagreement majority ties break by ascending label") {
    // vec 0's top-2 neighbors split 1-1 between labels B and C ⇒ the
    // deterministic majority is B (ascending label order)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), "A"),
      (1L, Array(0.9f, 0.1f), "C"),
      (2L, Array(0.9f, -0.1f), "B")).toDF("vec_id", "embedding", "label")
    val nn = Similarity.bruteTopKL2(emb, emb, "vec_id", "embedding", k = 2)
    val maj = Similarity.labelDisagreement(nn, emb, "vec_id", "label")
      .filter($"id" === 0L).select("maj_label").as[String].head()
    assert(maj === "B")
  }
}
