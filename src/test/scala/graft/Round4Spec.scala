package graft

import org.apache.spark.sql.functions._
import graft.operators.{Graph, Mutations, Quality, Sampling, TextOps}

class Round4Spec extends GraftSuite {

  test("scd2Merge: close/reopen changed keys, insert new, keep the rest") {
    import spark.implicits._
    val dim = Seq(
      (1L, "A", "2024-01-01", null: String, true),   // will change
      (2L, "B", "2024-01-01", null: String, true),   // unchanged update
      (3L, "C", "2024-01-01", null: String, true),   // no update at all
      (1L, "Z", "2023-01-01", "2024-01-01", false))  // history row
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, "A2"), (2L, "B"), (9L, "NEW")).toDF("k", "seg")
    val out = Mutations.scd2Merge(dim, upd, Seq("k"), Seq("seg"),
        "2024-06-01")
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)).getOrElse("-"), r.getBoolean(4)))
      .toSeq
    assert(out === Seq(
      (1L, "Z", "2023-01-01", "2024-01-01", false),  // history untouched
      (1L, "A", "2024-01-01", "2024-06-01", false),  // closed out
      (1L, "A2", "2024-06-01", "-", true),           // reopened
      (2L, "B", "2024-01-01", "-", true),            // unchanged passes
      (3L, "C", "2024-01-01", "-", true),            // untouched passes
      (9L, "NEW", "2024-06-01", "-", true)))         // inserted
  }

  test("scd2Merge: exactly one current row per live key") {
    import spark.implicits._
    val dim = Seq((1L, "A", "2024-01-01", null: String, true))
      .toDF("k", "seg", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, "B")).toDF("k", "seg")
    val out = Mutations.scd2Merge(dim, upd, Seq("k"), Seq("seg"), "2024-06-01")
    assert(out.filter(col("is_current")).groupBy("k").count()
      .filter(col("count") > 1).count() === 0L)
  }

  test("pagerankMicro: mass ≈ conserved, sinks rank below hubs") {
    import spark.implicits._
    // star graph: 1..4 all point at 0; 0 points at 1 — node 0 must
    // dominate, and total mass stays within rounding of 1e12
    val e = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val r = Graph.pagerankMicro(e, iters = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(0L) > r(2L) && r(1L) > r(2L)) // hub and its sole target lead
    assert(r(2L) === r(3L) && r(3L) === r(4L)) // symmetric leaves tie
    val total = r.values.sum
    assert(total > 999999000000L && total <= 1000000000000L)
  }

  test("pagerankMicro: dangling mass is redistributed, not lost") {
    import spark.implicits._
    // 0 -> 1, 1 is dangling: without redistribution 1's mass drains
    val e = Seq((0L, 1L)).toDF("src", "dst")
    val r = Graph.pagerankMicro(e, iters = 20).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    val total = r.values.sum
    assert(total > 999999000000L && total <= 1000000000000L)
    assert(r(1L) > r(0L)) // the pointed-at node outranks the pointer
  }

  test("histogram: tails clamp into edge buckets, widths exact") {
    import spark.implicits._
    val df = Seq(-5.0, 0.0, 9.9, 10.0, 55.0, 99.9, 100.0, 250.0).toDF("v")
    val out = Quality.histogram(df, col("v"), lo = 0.0, hi = 100.0,
        nBuckets = 10)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // -5 clamps into bucket 0; 100 and 250 clamp into bucket 9
    assert(out === Seq((0L, 3L), (1L, 1L), (5L, 1L), (9L, 3L)))
  }

  test("temperatureSample: smallest stratum keeps everything") {
    import spark.implicits._
    val df = (1 to 400).map(i => (i.toLong, if (i <= 20) "rare" else "big"))
      .toDF("id", "s")
    val kept = Sampling.temperatureSample(df, col("s"), col("id"))
    val bySrc = kept.groupBy("s").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bySrc("rare") === 20L) // rate 1.0 → all kept
    // heavy stratum downsampled near sqrt(20/380) ≈ 0.23
    assert(bySrc("big") < 380L && bySrc("big") > 380L / 10)
    // sample_rate column surfaces the applied rate
    assert(kept.filter(col("s") === "rare")
      .select(min("sample_rate")).head().getDouble(0) === 1.0d)
  }

  test("canonicalUrl: case, fragment, tracking params, trailing slash") {
    import spark.implicits._
    val urls = Seq(
      "HTTPS://WWW.Site.COM/Path/?utm_source=x&id=3&ref=feed#frag",
      "https://www.site.com/Path?id=3",
      "http://a.b/",
      "http://a.b/x?utm_a=1&utm_b=2")
      .toDF("url")
    val out = urls.select(TextOps.canonicalUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq(
      "https://www.site.com/Path?id=3",  // host lowered, path case kept
      "https://www.site.com/Path?id=3",  // identical canonical form
      "http://a.b/",                     // root slash preserved
      "http://a.b/x"))                   // all params stripped → no '?'
  }

  test("repetitionStats: exact fractions on a constructed doc") {
    import spark.implicits._
    // "a a a b": top word a=3/4; dup words 3/4; bigrams "a a","a a","a b"
    // → top bigram 2/3
    val df = Seq((7L, "a a a b")).toDF("id", "t")
    val r = TextOps.repetitionStats(df, col("id"), col("t")).head()
    assert(r.getAs[Int]("n_words") === 4)
    assert(r.getAs[Double]("top_word_frac") === 0.75d)
    assert(r.getAs[Double]("dup_word_frac") === 0.75d)
    assert(r.getAs[Double]("top_bigram_frac") === 0.666667d)
  }

  test("charEntropy: uniform letters hit log2(k), single letter hits 0") {
    import spark.implicits._
    val df = Seq((1L, "abcd"), (2L, "aaaa"), (3L, "aabb")).toDF("id", "t")
    val out = TextOps.charEntropy(df, col("id"), col("t"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq((1L, 4L, 2.0), (2L, 4L, 0.0), (3L, 4L, 1.0)))
  }

  test("featureHash: bucket counts sum to token count, buckets bounded") {
    import spark.implicits._
    val df = Seq((1L, "one two three two one one")).toDF("id", "t")
    val out = TextOps.featureHash(df, col("id"), col("t"), buckets = 8)
    assert(out.agg(sum("n")).head().getLong(0) === 6L)
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 8).count() === 0L)
    // same token always lands in the same bucket → ≤ 3 distinct buckets
    assert(out.count() <= 3L)
  }

  test("snapshots: versions sequence, pinned reads see the old world") {
    import spark.implicits._
    val root = graft.sources.ScratchRoot.path("test_snap_lake")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val lake = new graft.sources.Lake(spark, root)
    assert(lake.writeSnapshot(Seq((1, "a")).toDF("k", "v"), "d") === 1)
    assert(lake.writeSnapshot(Seq((1, "a"), (2, "b")).toDF("k", "v"), "d") === 2)
    assert(lake.readSnapshot("d", Some(1)).count() === 1L)
    assert(lake.readSnapshot("d").count() === 2L) // latest
    intercept[IllegalArgumentException](lake.readSnapshot("d", Some(9)))
    // no staging dirs left behind after commit
    assert(lake.list("d").forall(p => new java.io.File(p).getName.startsWith("v=")))
  }

  test("upsertAggregate: merged rollup equals the full recompute") {
    import spark.implicits._
    val full = Seq(("x", 1L, 10L), ("x", 2L, 20L), ("y", 1L, 5L), ("x", 1L, 7L))
      .toDF("k", "n", "s")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(sum("n").as("n"), sum("s").as("s"))
    val merged = Mutations.upsertAggregate(
      agg(full.filter(col("s") >= 10)), agg(full.filter(col("s") < 10)),
      Seq("k"), Seq("n", "s"))
    assert(merged.orderBy("k").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      === agg(full).orderBy("k").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("native minhash bands ≡ composed form, bit for bit") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Tables.load(spark, SparkTestBase.sfDir, "documents")
      .limit(200)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val both = docs.select(col("doc_id"),
      graft.functions.MinHashBands64Expr.minhashBands(col("sh"), 32, 8)
        .as("native"),
      Dedup.lshBandKeysDirect(
        transform(col("sh"), s => xxhash64(s)), 32, 8).as("composed"))
    assert(both.filter(not(col("native") === col("composed"))).count() === 0L)
    // edge cases: empty array and null element match the built-in chain
    val edge = Seq(Tuple1(Seq.empty[String]), Tuple1(Seq(null: String)),
      Tuple1(Seq("a", null, "b"))).toDF("sh")
    val e = edge.select(
      graft.functions.MinHashBands64Expr.minhashBands(col("sh"), 8, 4)
        .as("native"),
      Dedup.lshBandKeysDirect(
        transform(col("sh"), s => xxhash64(s)), 8, 4).as("composed"))
    assert(e.filter(not(col("native") === col("composed"))).count() === 0L)
  }

  test("haversineKm: one degree of latitude ≈ 111.2 km, zero at self") {
    import spark.implicits._
    import graft.functions.ColFns
    val df = Seq((0.0, 0.0, 1.0, 0.0), (25.0, 121.5, 25.0, 121.5))
      .toDF("lat1", "lng1", "lat2", "lng2")
    val out = df.select(round(ColFns.haversineKm(col("lat1"), col("lng1"),
      col("lat2"), col("lng2")), 1).as("km")).collect().map(_.getDouble(0))
    assert(out(0) === 111.2)
    assert(out(1) === 0.0)
  }

  test("GraftExtensions: SQL names evaluate ≡ the DataFrame-API builders") {
    import spark.implicits._
    graft.plans.GraftExtensions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT graft_simhash60(array('alpha','beta')) AS fp, " +
        "graft_minhash_bands(array('a b c', 'b c d'), 16, 4) AS bands, " +
        "graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d").head()
    val viaApi = Seq(1).toDF("x").select(
      graft.functions.SimHash60Expr.simhash60(
        array(lit("alpha"), lit("beta"))).as("fp"),
      graft.functions.MinHashBands64Expr.minhashBands(
        array(lit("a b c"), lit("b c d")), 16, 4).as("bands"),
      graft.functions.VectorExprs.dot(
        array(lit(1.5f), lit(2.0f)), array(lit(3.0f), lit(0.5f))).as("d"))
      .head()
    assert(viaSql.getLong(0) === viaApi.getLong(0))
    assert(viaSql.getSeq[Long](1) === viaApi.getSeq[Long](1))
    assert(viaSql.getDouble(2) === viaApi.getDouble(2))
    // bad arity fails at analysis, not at runtime
    intercept[Exception](spark.sql("SELECT graft_dot(array(1.0))").head())
  }

  test("intraDocDedup: repeated block dropped, first kept, order stable") {
    import spark.implicits._
    // w=2 blocks: [a b][c d][a b][e] -> third block duplicates first
    val df = Seq((1L, "a b c d a b e"), (2L, "x y z")).toDF("id", "text")
    val got = TextOps.intraDocDedup(df, col("id"), col("text"), w = 2)
      .select("id", "n_blocks", "n_dup_blocks", "clean_text")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 4, 1, "a b c d e")))
    assert(got(1) === ((2L, 2, 0, "x y z")))
  }

  test("decontaminateStrip: benchmark span removed, rest reassembled") {
    import spark.implicits._
    val train = Seq((1L, "x a b c d y"), (2L, "p q r s t")).toDF("id", "text")
    val bench = Seq((9L, "a b c d")).toDF("id", "text")
    val got = TextOps.decontaminateStrip(train, bench,
        col("id"), col("text"), n = 4)
      .select("id", "n_tokens", "n_tokens_after", "clean_text")
      .as[(Long, Int, Long, String)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 6, 2L, "x y")))
    assert(got(1) === ((2L, 5, 5L, "p q r s t")))
  }

  test("bpeMerges: greedy non-overlapping merges, hand-computed rounds") {
    import spark.implicits._
    // words: ab ×5, abc ×2 → pairs (a,b)=7, (b,c)=2
    // round 1 merges (a,b); round 2 sees (ab,c)=2
    val df = Seq((1L, "ab ab ab abc"), (2L, "ab ab abc")).toDF("id", "text")
    val m = TextOps.bpeMerges(df, col("text"), rounds = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(m(0) === ((1, "a", "b", 7L)))
    assert(m(1) === ((2, "ab", "c", 2L)))
  }

  test("bpeMerges: overlapping runs merge left-to-right ('aaa' -> [aa, a])") {
    import spark.implicits._
    val df = Seq((1L, "aaa aaa ba")).toDF("id", "text")
    // pairs: (a,a)=4 (two per 'aaa'), (b,a)=1 -> merge (a,a);
    // greedy left-to-right: 'aaa' -> [aa, a], so round 2's top pair
    // is (aa, a)=2
    val m = TextOps.bpeMerges(df, col("text"), rounds = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(m(0) === ((1, "a", "a", 4L)))
    assert(m(1) === ((2, "aa", "a", 2L)))
  }

  test("threeWaySplit: deterministic, stable under corpus growth") {
    import spark.implicits._
    val small = (1L to 200L).toDF("k")
    val big = (1L to 400L).toDF("k")
    def splits(df: org.apache.spark.sql.DataFrame) =
      Sampling.threeWaySplit(df, col("k"))
        .as[(Long, String)].collect().toMap
    val s1 = splits(small); val s2 = splits(big)
    // same key -> same split regardless of corpus size
    (1L to 200L).foreach(k => assert(s1(k) === s2(k)))
    // all three splits populated, train the plurality
    val byS = s2.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byS.keySet === Set("train", "val", "test"))
    assert(byS("train") > byS("val") && byS("train") > byS("test"))
  }

  test("cooccurrence: co-user counts, jaccard, hot-user cap") {
    import spark.implicits._
    val df = Seq(
      (1L, "a"), (1L, "b"),             // u1: a,b
      (2L, "a"), (2L, "b"), (2L, "c"),  // u2: a,b,c
      (3L, "a"), (3L, "c"),             // u3: a,c
      (9L, "a"), (9L, "b"), (9L, "c"), (9L, "d")) // u9: hot, capped out
      .toDF("u", "i")
    val out = Graph.cooccurrence(df, col("u"), col("i"),
        maxUserItems = 3, minSupport = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("co_users"), r.getAs[Double]("jaccard"))).toMap
    // after dropping u9: a:{1,2,3} b:{1,2} c:{2,3}
    assert(out(("a", "b")) === ((2L, 0.6667))) // 2/(3+2-2)
    assert(out(("a", "c")) === ((2L, 0.6667)))
    assert(!out.contains(("b", "c")))          // co=1 < minSupport
    assert(!out.contains(("a", "d")))          // only via the capped user
  }

  test("collocations: an always-together pair lifts above independence") {
    import spark.implicits._
    // "new york" always adjacent; "a"/"b" independent fillers
    val df = (1 to 10).map(i => (i.toLong, "new york a b a b a b"))
      .toDF("id", "text")
    val out = TextOps.collocations(df, col("id"), col("text"), minCount = 5L)
      .collect().map(r => r.getAs[String]("bigram") ->
        (r.getAs[Long]("n_pair"), r.getAs[Double]("lift"))).toMap
    // p(new york)=10/70 bigrams; p(new)=p(york)=10/80 tokens
    // lift = (10*80*80)/(70*10*10) ≈ 9.1429
    assert(out("new york")._1 === 10L)
    assert(out("new york")._2 === 9.1429)
    assert(out("a b")._2 < out("new york")._2)
  }

  test("oovRate: tokens outside the top-k vocab are counted") {
    import spark.implicits._
    val df = Seq((1L, "x x x y"), (2L, "x z q")).toDF("id", "text")
    // vocabSize=1 -> vocab = {x} (count 4); doc1: 1 oov of 4; doc2: 2 of 3
    val got = TextOps.oovRate(df, col("id"), col("text"), vocabSize = 1)
      .select("id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 4L, 1L, 0.25)))
    assert(got(1) === ((2L, 3L, 2L, 0.6667)))
  }

  test("snapshotDiff: inserted/deleted/updated, unchanged omitted") {
    import spark.implicits._
    val before = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "s", "v")
    val after = Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 40))
      .toDF("k", "s", "v")
    val got = Mutations.snapshotDiff(before, after, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "updated", 3L -> "deleted", 4L -> "inserted"))
  }

  test("streamNearDupAdmit matches the batch smaller-id Hamming spec") {
    import spark.implicits._
    val dir = SparkTestBase.sfDir
    val docs = Tables.load(spark, dir, "documents")
    val fps = docs.select(col("doc_id"),
      graft.operators.Dedup.simhash60(col("text")).as("fp"))
    val nearIds = fps.as("a").join(fps.as("b"),
        col("b.doc_id") < col("a.doc_id") &&
          bit_count(col("a.fp").bitwiseXOR(col("b.fp"))) <= 3, "leftsemi")
      .select(col("doc_id")).as[Long].collect().toSet
    val got = graft.streaming.Streams.streamNearDupAdmit(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(got.size.toLong === docs.count())
    got.foreach { case (id, st) =>
      assert(st === (if (nearIds(id)) "near_dup" else "admitted"),
        s"doc $id") }
  }

  test("mixturePlan: normalized weights spend exactly the budget") {
    import spark.implicits._
    // src a: 2 docs × 100 tokens; src b: 1 doc × 100; src c excluded
    val df = Seq(("a", 100), ("a", 100), ("b", 100), ("c", 999))
      .toDF("source", "tok")
    val plan = Sampling.mixturePlan(df, col("source"), col("tok"),
      weights = Seq("a" -> 3d, "b" -> 1d), budgetTokens = 1000L)
    val rows = plan.orderBy("source").collect()
    assert(rows.length === 2) // c excluded
    val a = rows(0); val b = rows(1)
    assert(a.getAs[Long]("target_tokens") === 750L)
    assert(b.getAs[Long]("target_tokens") === 250L)
    // a: 750 over 200 corpus tokens = 3 epochs + 0.75 tail
    assert(a.getAs[Long]("full_epochs") === 3L)
    assert(a.getAs[Double]("tail_fraction") === 0.75)
    // b: 250 over 100 = 2 epochs + 0.5 tail
    assert(b.getAs[Long]("full_epochs") === 2L)
    assert(b.getAs[Double]("tail_fraction") === 0.5)
    // budget fully spent
    assert(rows.map(_.getAs[Long]("target_tokens")).sum === 1000L)
  }

  test("zscoreOutliers: flags only the far point") {
    import spark.implicits._
    val df = (Seq.fill(50)(10.0) ++ Seq.fill(50)(12.0) ++ Seq(1000.0))
      .map(("g", _)).toDF("t", "v")
    val r = Quality.zscoreOutliers(df, col("t"), col("v"), z = 2.5).head()
    assert(r.getAs[Long]("n_rows") === 101L)
    assert(r.getAs[Long]("n_outliers") === 1L)
  }
}
