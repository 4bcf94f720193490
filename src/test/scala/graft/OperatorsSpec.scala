package graft

import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends GraftSuite {
  import spark.implicits._

  test("FuzzyJoin.bestMatch recovers typo'd names") {
    val right = Seq("taipei 101", "sun moon lake", "taroko gorge").toDF("name")
    val left = Seq((1, "taipei 110"), (2, "sun mon lake"), (3, "taroko gorge"))
      .toDF("id", "q")
    val out = FuzzyJoin.bestMatch(left, "q", right, "name")
      .orderBy("id").select("match_name").as[String].collect()
    assert(out === Array("taipei 101", "sun moon lake", "taroko gorge"))
  }

  test("Relational.dropCols tolerates absent columns") {
    val df = Seq((1, 2)).toDF("a", "b")
    assert(Relational.dropCols(df, Seq("b", "zzz")).columns === Array("a"))
  }

  test("Relational.dropColsRegex drops by name pattern") {
    val df = Seq((1, 2, 3)).toDF("keep", "Unnamed_0", "Unnamed_1")
    assert(Relational.dropColsRegex(df, "^Unnamed.*").columns === Array("keep"))
  }

  test("Reshape.melt wide→long") {
    val df = Seq((2015, 1, 100L, 200L)).toDF("year", "month", "zoo", "park")
    val out = Reshape.melt(df, Seq("year", "month"), Seq("zoo", "park"),
      "name", "number_people")
    assert(out.columns === Array("year", "month", "name", "number_people"))
    assert(out.count() === 2)
    assert(out.filter($"name" === "park" && $"number_people" === 200).count() === 1)
  }

  test("Reshape.explodeSplit splits and trims (reference • delimiter)") {
    val df = Seq(("建築物 • 購物中心", 1)).toDF("type", "id")
    val out = Reshape.explodeSplit(df, "type", "one_type", "•")
      .select("one_type").as[String].collect().toSeq
    assert(out === Seq("建築物", "購物中心"))
  }

  test("Reshape.transposeSmall: key/value table to one wide row") {
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val out = Reshape.transposeSmall(df, "k", "v")
    assert(out.columns.toSet === Set("a", "b"))
    assert(out.count() === 1)
  }

  test("Similarity.bruteTopK ranks by cosine with deterministic ties") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(
      corpus.filter($"vec_id" === 0), corpus, "vec_id", "embedding", 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
    assert(out === Seq((1, 1L), (2, 3L)))
  }

  test("Multimodal fallback decode is deterministic and partition-batched") {
    val media = Multimodal.asMedia(
      Seq((1L, "abc"), (2L, "defg")).toDF("id", "data"), "id", "data", "image")
    assert(media.columns === Array("media_id", "kind", "payload", "meta"))
    val f1 = Multimodal.decode(spark, media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decode(spark, media).collect().sortBy(_.media_id)
    assert(f1.map(_.feat_hash).toSeq === f2.map(_.feat_hash).toSeq)
    assert(f1(0).n_bytes === 3 && f1(1).n_bytes === 4)
    assert(f1(0).feature.length === 8)
  }

  test("Mutations: updateWhere / repairByKey / insertMissing / deleteWhere") {
    val df = Seq((1, "JAPAN", 10), (2, "FRANCE", 20), (3, "PERU", 30))
      .toDF("id", "name", "v")
    val upd = Mutations.updateWhere(df, $"name" === "PERU",
      Map("v" -> lit(99))).filter($"id" === 3).select("v").as[Int].head()
    assert(upd === 99)
    val rep = Mutations.repairByKey(df, "name", "name",
      Map("JAPAN" -> "NIPPON")).select("name").as[String].collect().toSet
    assert(rep === Set("NIPPON", "FRANCE", "PERU"))
    val target = df.filter($"id" < 3)
    val merged = Mutations.insertMissing(target, df, Seq("id"))
    assert(merged.count() === 3)
    // null predicate rows survive a DELETE (SQL semantics)
    val withNull = Seq((1, Some(5)), (2, None)).toDF("id", "v")
    val kept = Mutations.deleteWhere(withNull, $"v" > 1)
    assert(kept.select("id").as[Int].collect().toSet === Set(2))
  }

  test("Mutations.overwriteAtomic swaps and is rerunnable") {
    val p = graft.sources.ScratchRoot.path("test_atomic")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    Mutations.overwriteAtomic(df, p)
    Mutations.overwriteAtomic(df.filter($"id" === 1), p)
    assert(spark.read.parquet(p).count() === 1)
  }

  test("Dedup.ngramJaccardPairs inverted index == naive pair formula") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, $"id", $"text", threshold = 0.5)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSeq
    // 1-4 identical (1.0); 1-2 and 2-4 share 6 of 8 distinct shingles
    assert(pairs === Seq((1L, 2L, 0.75), (1L, 4L, 1.0), (2L, 4L, 0.75)))
  }

  test("Multimodal.resizeMeta fits within 224 preserving aspect, no upscale") {
    val dims = Seq((1L, 640, 480), (2L, 100, 50)).toDF("media_id", "width", "height")
    val out = Multimodal.resizeMeta(dims).orderBy("media_id")
      .select("out_w", "out_h").as[(Int, Int)].collect().toSeq
    assert(out === Seq((224, 168), (100, 50)))
  }

  test("Multimodal.frameSample slices payload into 64-byte md5 frames") {
    val text = "x" * 130 // 3 frames: 64 + 64 + 2
    val media = Multimodal.asMedia(Seq((1L, text)).toDF("id", "data"),
      "id", "data", "video")
    val frames = Multimodal.frameSample(media, every = 64)
    assert(frames.count() === 3)
    val first = frames.filter($"frame_no" === 0).select("frame_md5").as[String].head()
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest(("x" * 64).getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(first === exp)
  }

  test("AsofJoin.backward: latest state ≤ probe time, exact-time wins, unmatched null") {
    val probes = Seq((1L, "u1", 10L), (2L, "u1", 25L), (3L, "u1", 5L),
      (4L, "u2", 100L), (5L, "u3", 50L))
      .toDF("event_id", "k", "t")
    val states = Seq(("u1", 10L, "a"), ("u1", 20L, "b"), ("u2", 999L, "c"))
      .toDF("k", "t", "payload")
    val out = AsofJoin.backward(probes, "k", "t", states, "k", "t",
        Seq("payload"))
      .orderBy("event_id")
      .select($"payload").as[Option[String]].collect()
    // t=10 matches the state AT 10 (inclusive); t=25 takes the later "b";
    // t=5 precedes all u1 states; u2's only state is in the future; u3
    // has no states at all
    assert(out === Array(Some("a"), Some("b"), None, None, None))
  }

  test("Relational.saltedJoin preserves inner equi-join semantics") {
    val o = Tables.load(spark, SparkTestBase.sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.load(spark, SparkTestBase.sfDir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val salted = Relational.saltedJoin(o, c, "o_custkey", salt = 4)
    val plain = o.join(c, Seq("o_custkey"))
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("Lake: exists / list-sorted / write-ignore / rename / delete") {
    val lake = new graft.sources.Lake(spark,
      graft.sources.ScratchRoot.path("test_lake"))
    lake.delete("raw")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    lake.write(df, overwrite = true, "raw", "t1", "2024-01-01")
    lake.write(df.limit(1), overwrite = false, "raw", "t1", "2024-01-01") // ignored
    assert(lake.exists("raw", "t1", "2024-01-01"))
    assert(lake.read("raw", "t1", "2024-01-01").count() === 2)
    lake.write(df, overwrite = true, "raw", "t1", "2024-01-02")
    val days = lake.list("raw", "t1").map(_.split('/').last)
    assert(days === days.sorted && days.size === 2)
    assert(lake.rename(Seq("raw", "t1"), Seq("processed", "t1")))
    assert(!lake.exists("raw", "t1") && lake.exists("processed", "t1"))
    assert(lake.delete("processed"))
    assert(!lake.exists("processed", "t1"))
  }

  test("Similarity.ivfTopK with nprobe=nlist equals exact brute force") {
    val emb = Tables.load(spark, SparkTestBase.sfDir, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteTopK(q, emb, "vec_id", "embedding", 3)
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 8)
    assert(ivf.count() === brute.count())
    assert(ivf.exceptAll(brute).count() === 0)
  }

  test("FuzzyJoin.blockedBestMatch agrees with bestMatch when grams overlap") {
    val right = Seq("taipei 101", "sun moon lake", "taroko gorge").toDF("name")
    val left = Seq((1, "taipei 10x"), (2, "sun moon lakx"), (3, "taroko gorgx"))
      .toDF("id", "q")
    val blocked = FuzzyJoin.blockedBestMatch(left, "q", right, "name")
      .orderBy("id").select("match_name").as[String].collect()
    val full = FuzzyJoin.bestMatch(left, "q", right, "name")
      .orderBy("id").select("match_name").as[String].collect()
    assert(blocked === full)
    assert(blocked === Array("taipei 101", "sun moon lake", "taroko gorge"))
  }

  test("Streams.hourlyEventRollup matches the batch aggregation") {
    val streamed = graft.streaming.Streams
      .hourlyEventRollup(spark, SparkTestBase.sfDir, "test_stream_out")
    val batch = Tables.load(spark, SparkTestBase.sfDir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(
      batch.select("bucket", "event_type", "n_events", "sum_value")).count() === 0)
  }

  test("RangeJoin.bucketed equals the naive theta join") {
    val events = Tables.load(spark, SparkTestBase.sfDir, "events")
      .select($"event_id", $"value")
    val tiers = Seq((0, 0.0, 20.0), (1, 20.0, 80.0), (2, 80.0, 180.0),
        (3, 180.0, 320.0), (4, 320.0, 500.0))
      .toDF("tier", "lo", "hi")
    val bucketed = RangeJoin.bucketed(events, "value", tiers, "lo", "hi", 20.0)
      .select("event_id", "tier")
    val naive = events.join(tiers,
        $"value" >= $"lo" && $"value" < $"hi")
      .select("event_id", "tier")
    assert(bucketed.count() === naive.count())
    assert(bucketed.exceptAll(naive).count() === 0)
  }

  test("RangeJoin.bucketed half-open bounds: hi on a bucket boundary") {
    val pts = Seq((1, 10.0), (2, 20.0), (3, 19.999)).toDF("id", "p")
    val iv = Seq(("a", 10.0, 20.0)).toDF("name", "lo", "hi")
    val out = RangeJoin.bucketed(pts, "p", iv, "lo", "hi", 5.0)
      .select("id").as[Int].collect().sorted
    assert(out === Array(1, 3)) // 20.0 excluded: [10,20)
  }

  test("Sampling.hashSample is deterministic and ~m/16 sized") {
    val o = Tables.load(spark, SparkTestBase.sfDir, "orders")
    val s1 = Sampling.hashSample(o, $"o_orderkey", 4)
    val s2 = Sampling.hashSample(o.repartition(7), $"o_orderkey", 4)
    assert(s1.count() === s2.count()) // layout-independent membership
    val frac = s1.count().toDouble / o.count()
    assert(frac > 0.15 && frac < 0.35) // 4/16 = 0.25 ± slack
    assert(Sampling.hashSample(o, $"o_orderkey", 0).count() === 0)
    assert(Sampling.hashSample(o, $"o_orderkey", 16).count() === o.count())
  }

  test("TextOps.scrubPii masks and counts emails/phones/ips") {
    val df = Seq((1L, "mail a@b.com or c@d.org call 555-123-4567 ip 1.2.3.4"))
      .toDF("id", "text")
    val r = TextOps.scrubPii(df, $"id", $"text").collect()(0)
    assert(r.getAs[Int]("n_emails") === 2)
    assert(r.getAs[Int]("n_phones") === 1)
    assert(r.getAs[Int]("n_ips") === 1)
    assert(r.getAs[String]("clean_text") ===
      "mail [EMAIL] or [EMAIL] call [PHONE] ip [IP]")
  }

  test("TextOps.chunkTokens windows with overlap and keeps the tail") {
    val text = (1 to 95).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text)).toDF("id", "text")
    val out = TextOps.chunkTokens(df, $"id", $"text", size = 50, stride = 40)
      .orderBy("chunk_no").collect()
    assert(out.length === 3) // starts 0, 40, 80
    assert(out(0).getAs[Int]("n_chunk_tokens") === 50)
    assert(out(1).getAs[Int]("n_chunk_tokens") === 50)
    assert(out(2).getAs[Int]("n_chunk_tokens") === 15) // tail kept
    assert(out(2).getAs[String]("chunk_text").startsWith("w81 "))
  }

  test("TextOps.tfidfTopTerms ranks distinguishing terms first") {
    val df = Seq(
      (1L, "apple apple apple common common"),
      (2L, "banana banana common common"),
      (3L, "cherry common")).toDF("id", "text")
    val top1 = TextOps.tfidfTopTerms(df, $"id", $"text", k = 1)
      .orderBy("id").select("term").as[String].collect()
    assert(top1 === Array("apple", "banana", "cherry"))
  }

  test("Bucketing: colocated join matches plain join and plans no exchange") {
    val dir = graft.sources.ScratchRoot.path("test_bucketing")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val o = Tables.load(spark, SparkTestBase.sfDir, "orders")
      .select($"o_orderkey", $"o_custkey")
    val c = Tables.load(spark, SparkTestBase.sfDir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val ob = Bucketing.writeBucketed(spark, o, "tb_orders", s"$dir/o",
      "o_custkey", 4)
    val cb = Bucketing.writeBucketed(spark, c, "tb_customer", s"$dir/c",
      "c_custkey", 4)
    // broadcast would mask bucketing on tiny test data — force the
    // shuffle-join path to prove the bucketed scans line up
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(ob, "o_custkey", cb, "c_custkey")
      val plain = o.join(c, $"o_custkey" === $"c_custkey")
      assert(joined.count() === plain.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"expected shuffle-free plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
