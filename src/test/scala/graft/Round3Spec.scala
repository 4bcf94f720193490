package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Layout, Quality}

class Round3Spec extends GraftSuite {

  test("driver contract: queries and oracles are in 1:1 correspondence") {
    // the gate hash-compares every query against its oracle — a key
    // present on one side only silently weakens or breaks the gate
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o) === Set.empty, s"queries missing oracles: ${q -- o}")
    assert((o -- q) === Set.empty, s"orphan oracles: ${o -- q}")
  }

  test("keySkew: heaviest keys, exact shares, deterministic ranks") {
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++ Seq("cold"))
      .toDF("k")
    val out = Quality.keySkew(df, "k", topN = 2).orderBy("rank").collect()
    assert(out.map(_.getAs[String]("key")).toSeq === Seq("hot", "warm"))
    assert(out.map(_.getAs[Long]("n")).toSeq === Seq(6L, 3L))
    assert(out.map(_.getAs[Double]("share")).toSeq === Seq(0.6d, 0.3d))
  }

  test("ngram DF-cutoff: exact Jaccard, drops only stop-shingle pairs") {
    import spark.implicits._
    // a+b near-dup via rare shingles; c+d share ONLY the boilerplate
    // template every doc carries
    val boiler = "all rights reserved contact us for details"
    val docs = Seq(
      (1L, s"unique alpha beta gamma delta epsilon zeta $boiler"),
      (2L, s"unique alpha beta gamma delta epsilon eta $boiler"),
      (3L, s"totally different text one two three $boiler"),
      (4L, s"another unrelated body four five six $boiler"))
      .toDF("id", "text")
    val exact = Dedup.ngramJaccardPairs(docs, col("id"), col("text"),
      threshold = 0.5).collect()
    val cut = Dedup.ngramJaccardPairsDfCut(docs, col("id"), col("text"),
      threshold = 0.5, maxDocFreq = 3).collect()
    // boilerplate shingles have df=4 > 3 → pruned from candidates, but
    // the surviving pair's jaccard still counts them (exact over full
    // sets) — identical scores to the uncut operator
    assert(exact.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      === cut.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(cut.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("simhash60: null text ≡ empty text ≡ all-ones fingerprint") {
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "real text"))
      .toDF("id", "text")
    val out = df.select(col("id"), Dedup.simhash60(col("text")).as("fp"),
        Dedup.simhash60Composed(col("text")).as("fp2"))
      .orderBy("id").collect()
    val allOnes = (1L << 60) - 1
    // null / empty / whitespace-only all land on the tie-bits value the
    // oracles COALESCE to — no null-vs-value divergence possible
    assert(out.take(3).forall(_.getLong(1) === allOnes))
    assert(out(3).getLong(1) !== allOnes)
    // native and composed formulations stay bit-identical on the edges
    assert(out.forall(r => r.getLong(1) === r.getLong(2)))
  }

  test("zValue2 interleaves bits (Morton curve)") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (65535L, 0L))
      .toDF("a", "b")
      .select(Layout.zValue2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(a,b): a on even bits, b on odd bits
    assert(out === Seq(0L, 1L, 2L, 3L, 0x55555555L))
  }

  test("contaminationFlags: only docs sharing an 8-gram are flagged") {
    import spark.implicits._
    import graft.operators.TextOps
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota"
    val bench = Seq((100L, benchText)).toDF("id", "text")
    val train = Seq(
      (1L, s"prefix words then $benchText and a suffix"), // contains 8-grams
      (2L, "completely unrelated training document with other words here"))
      .toDF("id", "text")
    val out = TextOps.contaminationFlags(train, bench,
      col("id"), col("text"), n = 8).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(out.head.getAs[Long]("n_bench_hits") === 1L)
  }

  test("packSequences: cumulative fill respects capacity per shard") {
    import spark.implicits._
    import graft.operators.TextOps
    // 4 docs in one shard (ids ≡ 0 mod 8), 3 tokens each, capacity 6:
    // cumsum-tok = 0,3,6,9 → bins 0,0,1,1
    val docs = Seq(8L, 16L, 24L, 32L)
      .map(i => (i, "tok tok tok")).toDF("id", "text")
    val out = TextOps.packSequences(docs, col("id"), col("text"),
        capacity = 6, shards = 8)
      .orderBy("bin").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      === Seq((0L, 2L, 6L), (1L, 2L, 6L)))
    assert(out.forall(_.getLong(0) === 0L)) // all in shard 0
  }

  test("trained-centroid IVF at nprobe=nlist is still exact") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, SparkTestBase.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteTopK(q, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // exactness is independent of the coarse quantizer: probing every
    // cell recovers brute force whether centroids are hash seeds or
    // Lloyd-refined means
    val trained = Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 3,
        nlist = 8, nprobe = 8, trainIters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(trained === brute)
  }

  test("zorderWrite: each file owns a disjoint compact z-range") {
    val path = graft.sources.ScratchRoot.path("test_zorder")
    val ev = Tables.load(spark, SparkTestBase.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    Layout.zorderWrite(ev, col("user_id"), col("event_id"), path,
      numFiles = 4)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.size > 1)
    // per-file (min,max) of the z-value: ranges must not overlap —
    // that disjointness is exactly what footer-stats pruning exploits
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .select(Layout.zValue2(col("user_id"), col("event_id")).as("z"))
        .agg(min("z"), max("z")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
    // layout never changes content
    assert(spark.read.parquet(path).count() === ev.count())
  }
}
