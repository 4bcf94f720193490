package graft

import org.apache.spark.sql.functions._

/** Smoke + semantic spot-checks of the declared query surface on
  * sf0.001 (full oracle equivalence is tools/check.py's job). */
class EntrySmokeSpec extends GraftSuite {

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bench JSON line keeps its keys, order and number format") {
    val sfx = Seq("", "_llm", "_r4", "_r5", "_r6", "_r6b", "_r7", "_r8",
      "_r9", "_r10", "_r11", "_r12")
    // one query per set; the headline set also has a failed query,
    // which is listed but left out of the total
    val rs = sfx.zipWithIndex.map { case (s, i) =>
      s -> (Seq(s"q$i" -> (i + 0.25)) ++
        (if (i == 0) Seq("bad" -> -1.0) else Nil))
    }
    def q(i: Int) = f"""{"q$i":${i + 0.25}%.3f}"""
    def set(i: Int) =
      f""""value${sfx(i)}":${i + 0.25}%.3f,"queries${sfx(i)}":${q(i)}"""
    val expected = """{"metric":"total","value":0.250,"unit":"sec",""" +
      """"n":4,"n_lifecycle":2,"queries":{"q0":0.250,"bad":-1.000},""" +
      (1 until sfx.length).map(set).mkString(",") + ""","sf":"/sf"}"""
    assert(Bench.jsonLine("/sf", 4, 2, rs) === expected)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every query has an oracle (no rows-only entries)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracleSql: $missing")
  }

  test("registry: 335 distinct names, both maps keyed by them, no blank oracle") {
    // a Map literal silently keeps the last of two equal keys; the
    // registry is a Seq, so a lost or duplicated entry shows here
    val names = SparkEntry.registry.map(_.name)
    assert(names.size === 335)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracles: $blank")
  }

  test("every Bench set member is a registered query") {
    // an unknown name times as -1.0 and diverts the pin to the
    // partial file, so a typo in a set must fail here instead
    val sets = Seq("headline" -> Bench.headline, "llm10" -> Bench.llm10,
      "r4new" -> Bench.r4new, "r5new" -> Bench.r5new,
      "r6new" -> Bench.r6new, "r6bnew" -> Bench.r6bnew,
      "r7new" -> Bench.r7new, "r8new" -> Bench.r8new,
      "r9new" -> Bench.r9new, "r10new" -> Bench.r10new,
      "r11new" -> Bench.r11new, "r12new" -> Bench.r12new)
    val unknown = for ((set, qs) <- sets; q <- qs
                       if !SparkEntry.queries.contains(q)) yield s"$set/$q"
    assert(unknown.isEmpty, s"unregistered bench queries: $unknown")
  }

  test("no query output carries a top-level array/map column") {
    // the driver's checker sorts result rows by every column with a
    // generic lexsort — array/map cells are unhashable there, so a
    // nested top-level column turns a green query into a harness error
    // (r5_array_agg, round 3). Nested shapes stay internal; outputs
    // emit them canonicalized (array_join / to_json).
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        val bad = f(spark, SparkTestBase.sfDir).schema.fields.collect {
          case fld if fld.dataType.isInstanceOf[ArrayType] ||
                      fld.dataType.isInstanceOf[MapType] => fld.name
        }
        if (bad.isEmpty) None else Some(s"$name(${bad.mkString(",")})")
    }
    assert(offenders.isEmpty,
      s"top-level array/map output columns: ${offenders.mkString("; ")}")
  }

  test("vacuity guard: every e2e_* capstone returns rows") {
    // round 5 shipped e2e_webcorpus hash-GREEN on an EMPTY result at
    // every scale (the Gopher r7 stopword gate passed zero synthetic
    // docs): a 0-row oracle match proves only that both engines agree
    // on emptiness. The oracle framework can't see vacuity, so the
    // smoke suite must: a capstone exists to prove a composition RUNS
    // ON DATA. This assertion fails on the round-5 tree and passes
    // once the gate is corpus-calibrated.
    val guarded = SparkEntry.queries.keys.toSeq.sorted
      .filter(_.startsWith("e2e_")) ++
      // the round-6 vacuity sweep's other three 0-row hash matches,
      // fixed the same day and pinned non-empty here (tools/check.py
      // now also flags any VACUOUS pass across the whole surface)
      Seq("j6_anti_join", "u3_except", "x26_decontaminate",
        // round-6 additions whose emptiness would be silently
        // hash-green: retrieval fusion, mined pairs, trained scores
        "x95_hybrid_rrf", "x96_bitext_margin", "x97_quality_classifier",
        "st18_stream_dsir", "st19_stream_score",
        "x98_calibration_audit", "x99_hard_negatives",
        // DoReMi pane: a scoring-chain bug that empties the bigram
        // join would otherwise hash-green on emptiness
        "x110_domain_reweight")
    val empty = guarded.filter(n =>
      SparkEntry.queries(n)(spark, SparkTestBase.sfDir).isEmpty)
    assert(empty.isEmpty, s"vacuous (0-row) guarded queries: $empty")
  }

  test("w3 top-k: at most 3 rows per customer, ranks 1..3") {
    val df = SparkEntry.queries("w3_window_topk")(spark, SparkTestBase.sfDir)
    val bad = df.groupBy("o_custkey").agg(count(lit(1)).as("n"),
      max("rank").as("mr")).filter(col("n") > 3 || col("mr") > 3)
    assert(bad.count() === 0)
  }

  test("x1 exact dedup: canonical ids are minimal per hash") {
    val df = SparkEntry.queries("x1_dedup_exact")(spark, SparkTestBase.sfDir)
    assert(df.count() > 0)
    assert(df.filter(col("n_dups") < 1).count() === 0)
  }

  test("x6 brute-force ANN: 5 neighbors per query, self excluded") {
    val df = SparkEntry.queries("x6_ann_brute_topk")(spark, SparkTestBase.sfDir)
    assert(df.groupBy("query_id").count().filter(col("count") =!= 5).count() === 0)
    assert(df.filter(col("query_id") === col("neighbor_id")).count() === 0)
  }

  test("x8 lang id: zh detected for CJK text") {
    import spark.implicits._
    val df = Seq((1L, "這是中文文本 spark engine"), (2L, "the cat and the dog"))
      .toDF("doc_id", "text")
      .select(graft.operators.TextOps.langId(col("text")).as("l"))
    assert(df.as[String].collect().toSeq === Seq("zh", "en"))
  }
}
