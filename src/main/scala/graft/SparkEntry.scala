package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Driver contract (see SURVEY.md §7 + builder prompt).
  *
  * Each entry in [[queries]] exercises one operator row of SURVEY.md §2
  * (key prefix = the §2 id), a reference pipeline chain (`ref*`), or an
  * LLM-pipeline operator (`x*` keys), implemented via the graft library
  * modules. [[oracleSql]] carries the DuckDB-equivalent SQL for the
  * driver's hash-match gate — every query has one. Engine-specific
  * hashing was made oracle-able by construction: fingerprints/simhash
  * use a portable md5-derived 60-bit hash, the multimodal stub derives
  * its fake features from the same portable hash, sketch aggregates
  * (a4 HLL, a8b percentile_approx) check exact values + tolerance
  * flags, the approximate ANN operating points (x7 LSH, x15 IVF) gate
  * on an in-query recall-vs-brute contract (machinery additionally
  * hash-checked via the exact degenerate variant x15b), and streaming
  * queries share their batch formulations' oracles.
  *
  * TOLERANCE-CONTRACT queries (driver triage note): a4, a8b, x7, x15,
  * m8 and st13 oracle a boolean bound (sketch within tolerance /
  * recall above bound) that is TRUE on this fixed data with
  * deliberate margin. A
  * future hash failure on exactly these queries means tolerance drift
  * (e.g. a Spark upgrade changing HLL++/GK/ANN internals), NOT data
  * corruption — re-measure and re-margin the bound before suspecting
  * the operator.
  *
  * Determinism rules applied throughout (both sides):
  *  - every query ends in an ORDER BY over non-null keys;
  *  - double aggregation goes through DECIMAL(18,2) so sums are exact
  *    and engine-order-independent, then casts back to double;
  *  - averages are written as sum/count (not AVG) so both engines use
  *    the same arithmetic;
  *  - window ties are broken by a unique key.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** sum over exact DECIMAL(18,2), surfaced as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** The embeddings long-form prologue shared by the PCA-tier
    * queries: (id, d, x double) with d = pos + 1 — BASE-1 to match
    * the oracles' generate_subscripts convention, defined once. */
  private def embLong(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("id"), (col("pos") + 1).as("d"),
        col("xf").cast(DoubleType).as("x"))

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/qtmp/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Multiset row equality in ONE Spark action: the
    * `a.exceptAll(b).count == 0 && b.exceptAll(a).count == 0` idiom
    * unioned into a single symmetric-difference count (both
    * directions empty ⇔ the union counts 0 — same predicate, half
    * the actions; on green queries both counts always ran). Callers
    * pass CHECKPOINTED operands when the inputs are expensive lazy
    * plans — exceptAll evaluates each side per direction, so an
    * un-materialized operand would otherwise be recomputed. */
  private def rowSetEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty

  /** Quality-contract row for an approximate ANN result: macro-average
    * recall@5 vs the exact brute-force top-k, reduced to a boolean
    * bound the SQL oracle can assert (the a4/a8b pattern for operators
    * whose internals aren't SQL-expressible). One row:
    * (n_queries, <flag> = avg recall ≥ bound). */
  private def annRecallContract(approx: DataFrame, queries: DataFrame,
                                corpus: DataFrame, bound: Double,
                                flag: String): DataFrame = {
    val brute = graft.operators.Similarity.bruteTopK(
      queries, corpus, "vec_id", "embedding", k = 5)
    brute.as("b").join(approx.as("l"),
        col("b.query_id") === col("l.query_id") &&
          col("b.neighbor_id") === col("l.neighbor_id"), "left")
      .groupBy(col("b.query_id"))
      .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
        .as("recall"))
      .agg(count(lit(1)).as("n_queries"),
        (avg(col("recall")) >= lit(bound)).as(flag))
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * mart-review-trends shape — fact ⋈ dim ⋈ dim, multi-key group-by,
    * COUNT + rounded average (reference
    * `gmaps/d_gmaps_mart_review_trends.py:70-106`). */
  def entry(spark: SparkSession): DataFrame =
    qMartFlagship(spark, "/root/testdata/sf0.001")

  private def qMartFlagship(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"), col("l_returnflag"))
      .agg(
        count(col("l_orderkey")).as("n_items"),
        round(dsum(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"), col("o_orderstatus"), col("l_returnflag"))
  }

  /** Per-source 5-gram hashes of `documents` — the shared gram grain
    * of the sketch tier (x65's semantics; x74/x74b/x80 all ride it). */
  private[graft] def sourceGrams(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(regexp_replace(lower(col("text")),
      "\\s+", " ")), " ")
    t(s, dir, "documents")
      .select(col("source"), toks.as("__t"))
      .filter(size(col("__t")) >= 5)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("__t")) - 4),
          i => ColFns.portableHash60(
            concat_ws(" ", slice(col("__t"), i, lit(5)))))).as("g"))
  }

  /** x74's cheap preflight: Σ(tokens−4) per source = total 5-grams,
    * an UPPER bound on distinct grams (always safe for sizing — a
    * larger maxDistinct only raises lgk); one doc-grain scan, no gram
    * explode, no distinct machinery. Degenerate-corpus guard: with no
    * doc reaching 5 tokens the max aggregates to NULL — size for a
    * minimal sketch instead of NPE. The collect is a 1-row scalar
    * probe (a15 idiom). */
  private[graft] def thetaPreflightUpperBound(s: SparkSession,
                                              dir: String): Long = {
    val toks = split(trim(regexp_replace(lower(col("text")),
      "\\s+", " ")), " ")
    Option(t(s, dir, "documents")
        .select(col("source"), (size(toks) - 4).as("ng"))
        .filter(col("ng") > 0)
        .groupBy(col("source")).agg(sum(col("ng")).as("ng"))
        .agg(max(col("ng")).as("m")).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(1L)
  }

  /** The x80-shape standing ledger: per-source theta estimates of
    * DISTINCT gram counts — KBs of state that ride the ingest
    * aggregation once and then price every later dedup/contamination
    * job without a rescan (x74b reads it to size lgk; the estimate is
    * exact below 2^14 distinct, ±~1% above). */
  private[graft] def sourceDistinctLedger(s: SparkSession,
                                          dir: String): DataFrame = {
    import graft.functions.SketchFns
    sourceGrams(s, dir).groupBy(col("source"))
      .agg(SketchFns.thetaEstimate(
        SketchFns.thetaAgg(col("g"), 14)).as("est_distinct"))
  }

  /** The x74 contamination screen at a given sketch size: per-source
    * theta sketches of gram hashes, pairwise |A∩B| set-op estimates
    * over the serialized sketches, gated on the exact posting-join
    * counts with the a4/m8 tolerance pattern. Shared by x74
    * (upper-bound-sized) and x74b (ledger-sized). */
  private[graft] def thetaOverlapScreen(s: SparkSession, dir: String,
                                        lgk: Int): DataFrame = {
    import graft.functions.SketchFns
    val grams = sourceGrams(s, dir)
    val sk = grams.groupBy(col("source"))
      .agg(SketchFns.thetaAgg(col("g"), lgk).as("sk"))
    val est = sk.as("a").join(sk.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"),
        col("b.source").as("source_b"),
        SketchFns.thetaIntersectEstimate(col("a.sk"), col("b.sk"))
          .as("est"))
    val posts = grams.distinct()
    val exact = posts.as("x").join(posts.as("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"),
        col("y.source").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    est.join(exact, Seq("source_a", "source_b"), "left")
      .withColumn("shared_grams",
        coalesce(col("shared_grams"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        ((col("shared_grams") === 0 && col("est") === 0.0d) ||
          Mutations.toleranceFlag(col("shared_grams"), col("est"), 0.05))
          .as("est_within_5pct"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Shared x111/st22 footer-canary injection: the synthetic corpus
    * has no newline structure, so one deterministic web-furniture
    * line per doc (doc_id % 3) makes the boilerplate gate provably
    * live at every scale (the x26/x106 discipline). ONE definition
    * for the batch query, the streaming twin's micro-batches, and
    * its strip input — and the generated oracle mirrors it. */
  /** x114's deterministic PII canary (the x26/x111 injection
    * discipline): the synthetic corpus carries no natural PII, so
    * doc_id % 7 == 0 docs get all four categories appended,
    * % 7 == 3 docs a partial pair, the rest stay clean — every scrub
    * pattern AND the no-hit branch are live at every scale, and the
    * DuckDB oracle replays the identical injection. */
  private def piiInject(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"),
      when(col("doc_id") % 7 === 0, concat(col("text"),
        lit(" contact jane.doe@example.com or 10.20.30.40 call " +
          "555-123-4567 card 4111111111111111")))
        .when(col("doc_id") % 7 === 3, concat(col("text"),
          lit(" mail bob@corp.io from 192.168.0.1")))
        .otherwise(col("text")).as("text"))

  /** x111/st22's deterministic boilerplate canary (the x26
    * discipline): every doc gets one of three footer lines, so the
    * docfreq-based blacklist fires at every scale and the oracle
    * replays the identical injection. */
  private def footerInject(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat(col("text"), lit("\n"),
        when(col("doc_id") % 3 === 0,
          lit("subscribe to our newsletter"))
          .when(col("doc_id") % 3 === 1, lit("all rights reserved"))
          .otherwise(lit("cookie policy applies"))).as("text"))

  /** The STANDING quality-model ledger for this lake (x97b/x98b):
    * version-keyed path + S10 exists-guard — the first caller in a
    * JVM trains and persists (self-contained-query discipline, like
    * x74b building its sketch ledger), every later caller pays only
    * the KB-scale ledger read. The path embeds BOTH the lake dir and
    * `Learn.qualityModelVersion`, so a different scale factor or a
    * recipe change trains fresh state instead of mis-reading old.
    * Deterministic by the fixed-point training discipline: whoever
    * trains, the persisted weights are bit-identical, so redelivery/
    * races only ever rewrite equal bytes. */
  private def standingQualityModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(
      s"target/qtmp/model_${Learn.qualityModelVersion()}_$key")
      .getAbsolutePath
    if (!Learn.modelExists(s, path, Learn.qualityModelVersion())) {
      val (_, _, bias, w) = Learn.qualityClassifier(t(s, dir, "documents"))
      Learn.persistModel(w, bias, path, Learn.qualityModelVersion())
    }
    Learn.loadModel(s, path, Learn.qualityModelVersion())
  }

  /** The STANDING tokenizer ledger for this lake (x104b): the trained
    * merge table persists as version-keyed parquet
    * ([[graft.sources.VersionedState]] — the same form the x97b
    * classifier ledger uses), S10 exists-guarded, first caller
    * trains. A tokenizer IS a frozen production artifact — every
    * encode job reads it; only a deliberate re-train rewrites it. */
  private def standingBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedState
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = new java.io.File(
      s"target/qtmp/tok_${Tokenize.bpeModelVersion}_$key")
      .getAbsolutePath
    if (!VersionedState.exists(s, path, Tokenize.bpeModelVersion)) {
      val wf = Tokenize.wordFreq(t(s, dir, "documents"), col("text"))
      VersionedState.write(path, Tokenize.bpeModelVersion,
        "merges" -> Tokenize.bpeTrain(wf, merges = 12))
    }
    VersionedState.read(s, path, Tokenize.bpeModelVersion, "merges")
  }

  /** The STANDING ANN-index ledger (x113): trained centroids +
    * residual codebook + the encoded corpus persist as version-keyed
    * parquet ([[graft.sources.VersionedState]] — the same form the
    * classifier and tokenizer ledgers use), S10 exists-guarded, first
    * caller builds. Completes the amortization trio: every trained
    * artifact in the engine (model, tokenizer, index) now has a
    * standing form whose consumers pay only the read + search, never
    * the build. `lakeKey` names the corpus INCLUDING its recipe
    * version (the ledger is per (lake recipe, quantizer recipe) —
    * either changing must move the path, or a stale index of an old
    * corpus/quantizer would silently serve; the model ledger's
    * (dir, recipe) discipline). */
  /** ONE path derivation for a standing ANN ledger — shared by the
    * exists-guarded builder below and the lifecycle consumers that
    * address the same bundle directly (x119's tombstone append): two
    * parallel string-formats would be the silent-divergence class
    * the version contract exists to kill, with the failure mode
    * "tombstones land next to a path nobody reads". */
  private def annLedgerPath(version: String, lakeKey: String): String =
    new java.io.File(
      s"target/qtmp/ann_${version}_$lakeKey").getAbsolutePath

  private[graft] def standingAnnIndex(s: SparkSession, lakeKey: String,
                               lake: DataFrame, nlist: Int, m: Int,
                               ksub: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val path = annLedgerPath(version, lakeKey)
    if (!Similarity.indexExists(s, path, version)) {
      val (cents, codebook, encoded) = Similarity.ivfpqTrainEncode(
        lake, "vec_id", "embedding", nlist, m, ksub,
        coarseIters = 1, pqIters = 1)
      Similarity.persistIndex(path, version, cents, codebook, encoded)
    }
    val (cents, codebook, encoded) = Similarity.loadIndex(s, path,
      version)
    // EVERY standing-index consumer is tombstone-aware: forgotten
    // ids must stop surfacing from any search path, not just the
    // one that deleted them (the x119 contract, enforced at the one
    // place all guarded consumers read through). A never-forgotten
    // bundle anti-joins an empty broadcast set — plan noise, zero
    // rows moved.
    (cents, codebook,
      Similarity.liveEncoded(encoded, Similarity.annTombstones(s, path)))
  }

  /** Shared x113/st23 audit tail: probe the encoded IVFPQ state with
    * the stratified query sample, compare to the exact twin, emit the
    * (version, counts, recall) contract pane — one pane definition
    * for the batch-built and stream-accreted index twins (the
    * classifierPane discipline on the index tier). */
  private def annIndexPane(lake: DataFrame, cents: DataFrame,
                           codebook: DataFrame, encoded: DataFrame,
                           n: Long, nlist: Int, nprobe: Int,
                           k: Int, m: Int, ksub: Int): DataFrame = {
    val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
      .localCheckpoint(true)
    // (m, ksub) are the PRODUCER's quantizer geometry, threaded
    // through — a pane that hardcoded them would ADC-score garbage
    // and stamp a wrong version the moment a caller built the index
    // at a different geometry (the silent-recipe-mismatch class the
    // version string exists to prevent)
    val got = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
      encoded, cents, codebook, k, nprobe, m = m,
      rerank = Similarity.rerankFor(n, nlist, nprobe),
      rerankSource = Some(lake))
    val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
      "embedding", k)
    val nEnc = encoded.agg(count(lit(1)).as("n_encoded"),
      countDistinct(col("neighbor_id")).as("n_vectors"))
    // the accretion guard every standing-index consumer checks
    // (VERDICT r8 #1): the geometry-drift advisor reads the SAME
    // encoded state the search probes, so a ledger that silently
    // accreted past its trained geometry surfaces rebuild_recommended
    // in the consumer's own pane rather than degrading per-query cost
    // unnoticed — the x106/x61 drift-gate discipline on the index tier
    val drift = Similarity.indexGeometryDrift(encoded, nlist)
      .select(col("sized_nlist_now"), col("rebuild_recommended"))
    exact.as("b").join(got.as("l"),
        col("b.query_id") === col("l.query_id") &&
          col("b.neighbor_id") === col("l.neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        count(col("l.neighbor_id")).as("n_hit"))
      .join(nEnc, lit(true), "left") // 1-row pane join idiom
      .join(drift, lit(true), "left")
      .select(
        lit(Similarity.annIndexVersion(nlist, m, ksub)).as("version"),
        col("n_vectors"), col("n_encoded"), col("n_exact"),
        round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
          .as("recall"),
        (col("n_hit").cast(DoubleType) / col("n_exact")
          >= lit(0.94d)).as("recall_ge_094"),
        col("sized_nlist_now"), col("rebuild_recommended"))
  }

  /** Shared x97/st19 audit tail: per-source score mass and
    * predicted-quality counts over a (id, score) relation — one pane
    * definition for the batch-trained and stream-scored twins. */
  private def classifierPane(s: SparkSession, dir: String,
                             scores: DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    scores.join(docs.select(col("doc_id").as("id"), col("source"),
        col("lang")), Seq("id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("score").cast(DecimalType(28, 6)))
          .cast(DoubleType) / count(lit(1)), 4).as("mean_score"),
        sum(when(col("score") > 0.5d, 1L).otherwise(0L))
          .as("n_pred_quality"),
        sum(when(col("score") > 0.5d && col("lang") === "en", 1L)
          .otherwise(0L)).as("n_pred_quality_en"))
      .orderBy(col("source"))
  }

  /** Shared x94/st18 selection tail: rank ALL docs by DSIR weight via
    * the range-exchange global numbering, keep the top quarter, emit
    * the per-source audit pane. One tail for both twins so tokenizer,
    * cut rule, and pane definition can never diverge (the st17/x89
    * twin discipline). */
  private def dsirPane(s: SparkSession, dir: String,
                       w: DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    val ranked = Layout.globalRowNumber(
      w.join(docs.select(col("doc_id").as("id"), col("source"),
        col("lang")), Seq("id")),
      struct((-col("w")).as("nw"), col("id").as("i")),
      keepTotal = true)
    ranked.withColumn("keep", col("row_num") * 4 < col("total"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("keep") && col("lang") === "en", 1L)
          .otherwise(0L)).as("n_selected_en"),
        round(sum(when(col("keep"), col("w")).cast("decimal(18,4)"))
          .cast(DoubleType), 4).as("sum_w_selected"))
      .orderBy(col("source"))
  }

  /** Shared x119/st24 DELETE pane: build (or reuse) the raw bundle
    * at its own key, tombstone each probe's exact rank-1 neighbor
    * through the caller-supplied `forget` (direct append for x119,
    * the micro-batch stream fold for st24), and emit the
    * before/after contract — ONE pane definition so the batch and
    * streaming delete paths can never diverge (the annIndexPane
    * discipline on the delete tier). */
  private def annForgetPane(s: SparkSession, keySuffix: String,
      forget: (String, DataFrame) => Unit): DataFrame = {

      // DELETION enters the standing-index lifecycle (ingest st23,
      // drift x116, rebuild x118 — and now forget): the LOGICAL
      // phase. Right-to-be-forgotten ids append to the bundle's
      // tombstone set (O(|ids|) write, instant) and every consumer
      // anti-joins the KB-scale set via liveEncoded before probing —
      // the x114 PII discipline extended from the corpus to its
      // derived state. The canary is maximally adversarial by
      // construction: the forgotten ids are each probe's EXACT
      // rank-1 neighbor, so pre-delete they all surface at the top
      // of search results (forgotten_were_results — liveness: a
      // tombstone set the search never would have returned proves
      // nothing) and post-delete ZERO may appear while recall vs the
      // exact twin over SURVIVORS stays 1.0 (the forgotten rows
      // vanish without degrading what remains). Idempotent across
      // reruns: appends dedup on read, and the tombstoned ids are a
      // deterministic function of the deterministic lake.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, 8, 16)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}$keySuffix")
      // RAW load, deliberately not standingAnnIndex: that helper is
      // tombstone-aware (the x119 contract applied engine-wide), but
      // THIS query is the before/after contrast itself — its "pre"
      // phase must see the unfiltered state even on a warm rerun
      // where last run's tombstones already exist
      if (!Similarity.indexExists(s, path, version)) {
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(lake,
          "vec_id", "embedding", nlist, 8, 16,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndex(path, version, c0, cb0, e0)
      }
      val (cents, codebook, encoded) =
        Similarity.loadIndex(s, path, version)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val rr = Similarity.rerankFor(n, nlist, nprobe)
      val preExact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k).localCheckpoint(true)
      val tsIds = preExact.filter(col("rank") === 1)
        .select(col("neighbor_id")).distinct().localCheckpoint(true)
      val pre = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", encoded, cents, codebook, k, nprobe, m = 8,
        rerank = rr, rerankSource = Some(lake))
      forget(path, tsIds)
      val ts = Similarity.annTombstones(s, path)
      val live = Similarity.liveEncoded(encoded, ts)
      val post = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", live, cents, codebook, k, nprobe, m = 8,
        rerank = rr, rerankSource = Some(lake))
      val survivors = lake.join(ts,
        lake("vec_id") === ts("vec_id"), "left_anti")
      val postExact = Similarity.bruteTopKL2(q, survivors, "vec_id",
        "embedding", k)
      val tsv = ts.select(col("vec_id").as("neighbor_id"))
      val preHit = pre.join(tsv, Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_pre_results_forgotten"))
      val postHit = post.join(tsv, Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_post_results_forgotten"))
      val nTs = ts.agg(count(lit(1)).as("n_forgotten"))
      postExact.as("b").join(post.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(nTs, lit(true), "left") // 1-row pane join idiom
        .join(preHit, lit(true), "left")
        .join(postHit, lit(true), "left")
        .select(lit(version).as("version"), col("n_forgotten"),
          (col("n_pre_results_forgotten") >= col("n_forgotten"))
            .as("forgotten_were_results"),
          col("n_post_results_forgotten"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_survivors"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
  }

  // =======================================================================
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scans / sources / sinks (§2.1) --------------------------------
    "s1_csv_roundtrip" -> ((s, dir) => {
      // S1+S4: write csv with header, read back with explicit schema
      val out = tmpDir("s1_csv")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast(DateType).as("o_date"))
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_date", DateType)))
      s.read.option("header", "true").schema(schema).csv(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    "s3_jsonl_roundtrip" -> ((s, dir) => {
      // S3+S6: jsonl write/read round-trip
      val out = tmpDir("s3_jsonl")
      t(s, dir, "customer").write.mode("overwrite").json(out)
      val schema = t(s, dir, "customer").schema
      s.read.schema(schema).json(out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("balance"))
        .orderBy(col("c_mktsegment"))
    }),

    "s9_partitioned_write" -> ((s, dir) => {
      // S5+S9+S2: day-partitioned parquet write, partition-pruned read
      val out = tmpDir("s9_part")
      t(s, dir, "orders")
        .withColumn("o_month", month(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_month").parquet(out)
      s.read.parquet(out)
        .filter(col("o_month").between(3, 6))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_month"))
    }),

    "s7_sql_over_views" -> ((s, dir) => {
      // S7+S15+S16: external-table views + SQL text in, DataFrame out
      Tables.createViews(s, dir)
      s.sql("""
        SELECT n.n_name AS nation, COUNT(*) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n.n_name""")
    }),

    "s8_managed_table" -> ((s, dir) => {
      // S8 as a *catalog* table: layered namespace + saveAsTable full
      // refresh + spark.table read-back (the reference's
      // dataset.table BigQuery layout, SURVEY §1.1)
      s.sql("CREATE DATABASE IF NOT EXISTS graft_dim")
      s.sql("DROP TABLE IF EXISTS graft_dim.nation")
      // the warehouse dir outlives the in-memory catalog: a location
      // left by a previous session isn't "overwritten" (the new
      // catalog has no such table) — clear it for true idempotence
      val wh = s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$wh/graft_dim.db/nation"))
      t(s, dir, "nation")
        .write.mode("overwrite").format("parquet")
        .saveAsTable("graft_dim.nation")
      s.table("graft_dim.nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    }),

    "s14_jdbc_roundtrip" -> ((s, dir) => {
      // S14: df → relational store over JDBC and back (the reference's
      // MySQL weather sink, `MySQL/weatherINFO.ipynb`; embedded Derby
      // stands in — same spark.jdbc surface, no external server)
      val url = "jdbc:derby:memory:graftjdbc;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      // idempotent rerun: drop the table if a previous run left it
      try {
        val c = java.sql.DriverManager.getConnection(url)
        try c.createStatement().execute("DROP TABLE nation_jdbc")
        catch { case _: java.sql.SQLException => () } finally c.close()
      } catch { case _: java.sql.SQLException => () }
      t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .coalesce(1)
        .write.mode("overwrite").jdbc(url, "nation_jdbc", props)
      s.read.jdbc(url, "nation_jdbc", props)
        .orderBy(col("n_nationkey"))
    }),

    "s10_idempotent_guard" -> ((s, dir) => {
      // S10: exists-guard via mode("ignore") — second write is a no-op
      val out = tmpDir("s10_guard")
      val src = t(s, dir, "region")
      src.write.mode("overwrite").parquet(out)
      src.limit(1).write.mode("ignore").parquet(out) // ignored: exists
      s.read.parquet(out).select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    }),

    "s19_lake_ops" -> ((s, dir) => {
      // S11 list + S12 rename + S10 exists + F15 config under ONE
      // oracle: a config-named dataset is snapshot-written twice (v=1
      // full, v=2 filtered), versions listed, v=2 archived away by
      // rename, and the read-back (latest is v=1 again) carries the
      // listed/exists facts as literal columns DuckDB recomputes from
      // the region table alone.
      import graft.sources.{EngineConfig, Lake}
      val root = tmpDir("s19_lake")
      val lake = new Lake(s, root)
      val conf = EngineConfig.Branch.of(
        "env" -> EngineConfig.Leaf("prod"),
        "dataset" -> EngineConfig.Leaf("ENV_GRAFT_S19_DATASET"))
      val resolved = EngineConfig.resolveEnv(conf,
          Map("GRAFT_S19_DATASET" -> "region_dim").get)
        .asInstanceOf[EngineConfig.Branch]
      val base = resolved("dataset").asInstanceOf[EngineConfig.Leaf].value
      val ds = EngineConfig.tableNameWithEnv(base,
        EngineConfig.envSuffix(resolved, _ => None)) // region_dim-prod
      val region = t(s, dir, "region")
      lake.writeSnapshot(region.coalesce(1), ds)                    // v=1
      lake.writeSnapshot(
        region.filter(col("r_regionkey") < 3).coalesce(1), ds)      // v=2
      val nVersions = lake.list(ds)
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
        .count(_.startsWith("v="))                                  // S11
      lake.rename(Seq(ds, "v=2"), Seq("archive", ds, "v=2"))        // S12
      val archived =
        lake.exists("archive", ds, "v=2") && !lake.exists(ds, "v=2")
      lake.readSnapshot(ds)                            // latest = v=1
        .select(col("r_regionkey"), col("r_name"))
        .withColumn("dataset", lit(ds))
        .withColumn("n_versions_listed", lit(nVersions))
        .withColumn("v2_archived", lit(archived))
        .orderBy(col("r_regionkey"))
    }),

    "s20_compact_small_files" -> ((s, dir) => {
      // Small-file compaction: fragment customer into 64 tiny files
      // (the shape a streaming writer leaves), compact to size-targeted
      // files via Lake.compact (coalesce — no shuffle — staged + atomic
      // rename), then prove content survival under the oracle plus the
      // file-count collapse as a boolean the oracle asserts.
      import graft.sources.Lake
      val root = tmpDir("s20_compact")
      val lake = new Lake(s, root)
      t(s, dir, "customer").repartition(64)
        .write.mode("overwrite").parquet(lake.path("cust").toString)
      val (before, after) = lake.compact(64L << 20, "cust")
      lake.read("cust")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("balance"))
        .withColumn("files_collapsed", lit(before > after))
        .orderBy(col("c_mktsegment"))
    }),

    "s21_orc_roundtrip" -> ((s, dir) => {
      // ORC write/read round-trip — the second columnar format Spark
      // ships natively (a lake ingesting external ORC drops needs no
      // extra code); schema carried by the format itself.
      val out = tmpDir("s21_orc")
      t(s, dir, "orders").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    "s22_config_layering" -> ((s, dir) => {
      // F15 under its own oracle: a three-layer EngineConfig resolution
      // — in-tree DEFAULT literals < the config file's `env` leaf <
      // env-style overrides — run through the full load pipeline
      // (resolveEnv → envSuffix → addEnvSuffix) and flattened to
      // dotted key/value rows. The oracle independently states every
      // expected resolved value, so any layering regression (wrong
      // precedence, suffix applied to an ENV_ escape, path not
      // re-rooted) flips the hash. Layer evidence in one table:
      //  - region: its env var is UNSET → the default literal survives
      //  - project: resolved from the override map (env beats file)
      //  - env_suffix: "stg" from ENV_SUBFIX (env beats the file's
      //    "dev", which itself beats the empty default)
      //  - tables/blobs: suffixed + re-rooted; the resolved-exempt
      //    ENV_GRAFT_TABLE leaf stays unsuffixed
      import graft.sources.EngineConfig
      import graft.sources.EngineConfig.{Branch, Leaf}
      val conf = Branch.of(
        "env" -> Leaf("dev"), // the config FILE's deploy env
        "project" -> Leaf("ENV_GRAFT_PROJECT"),
        "region" -> Leaf("ENV_GRAFT_REGION"),
        "warehouse" -> Branch.of(
          "table" -> Branch.of(
            "ods" -> Leaf("ods_attractions"),
            "dim" -> Leaf("dim_city"),
            "secret" -> Leaf("ENV_GRAFT_TABLE")),
          "blob" -> Branch.of(
            "gmaps" -> Branch.of(
              "prefix" -> Leaf("gmaps"),
              "src" -> Leaf("src/places.json"),
              "ods" -> Leaf("ods/places.parquet")))))
      // the env layer, injected (not sys.env — deterministic anywhere)
      val overrides: String => Option[String] = Map(
        "ENV_SUBFIX" -> "stg",      // the reference's literal spelling
        "GRAFT_PROJECT" -> "proj-stg").get
      val loaded = EngineConfig.load(conf, overrides)
      val rows = EngineConfig.flatten(loaded) :+
        ("env_suffix" -> EngineConfig.envSuffix(loaded, overrides))
      import s.implicits._
      rows.toDF("conf_key", "conf_value").orderBy(col("conf_key"))
    }),

    "s24_partition_evolution" -> ((s, dir) => {
      // partition-scheme evolution: a month-partitioned table rewritten
      // year-partitioned (the maintenance a lake runs when a scheme
      // stops matching query grain — too many small partitions is the
      // usual trigger). Both layouts repartition on the partition
      // column before writing (one task owns each output dir — the s9
      // file-count rule); the audit proves rows and content survive
      // and counts both schemes' partition cardinalities.
      val outA = tmpDir("s24_monthly")
      val outB = tmpDir("s24_yearly")
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("mth"),
        date_format(col("o_orderdate"), "yyyy").as("yr"))
      src.repartition(col("mth")).write.mode("overwrite")
        .partitionBy("mth").parquet(outA)
      val monthly = s.read.parquet(outA)
      monthly.repartition(col("yr")).write.mode("overwrite")
        .partitionBy("yr").parquet(outB)
      s.read.parquet(outB).agg(
          count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("sum_price"),
          countDistinct(col("mth")).as("n_months"),
          countDistinct(col("yr")).as("n_years"))
        .orderBy(col("n_rows"))
    }),

    "s23_orc_roundtrip" -> ((s, dir) => {
      // ORC sink/source parity (S-surface beyond the reference's
      // CSV/parquet/JSONL): columnar-with-stats like parquet, so the
      // same pushdown/pruning discipline applies — the roundtrip
      // aggregate is the oracle. zlib pinned (ORC's default codec is
      // config-dependent across Spark versions).
      val out = tmpDir("s23_orc")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        .write.mode("overwrite").option("compression", "zlib").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- projections / filters (§2.2) ----------------------------------
    "p1_drop_columns" -> ((s, dir) => {
      Relational.dropCols(t(s, dir, "lineitem"),
          Seq("l_tax", "l_linestatus", "l_comment" /* absent → tolerated */))
        .withColumn("l_shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "p2_drop_cols_regex" -> ((s, dir) => {
      Relational.dropColsRegex(t(s, dir, "orders"), "^o_order(status|priority)$")
        .withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .orderBy(col("o_orderkey"))
    }),

    "p3_rename_columns" -> ((s, dir) => {
      Relational.renameAll(t(s, dir, "customer"),
          Map("c_name" -> "name", "c_acctbal" -> "balance",
              "c_mktsegment" -> "segment"))
        .select(col("c_custkey"), col("name"), col("balance"), col("segment"))
        .orderBy(col("c_custkey"))
    }),

    "p4_overwrite_keep_raw" -> ((s, dir) => {
      Relational.overwriteKeepRaw(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderpriority",
          regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).cast(IntegerType))
        .orderBy(col("o_orderkey"))
    }),

    "p5_project_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 25)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "p6_dropna_all" -> ((s, dir) => {
      // drop rows where ALL of the listed columns are null (pandas
      // dropna(how='all'), reference tripadvisor t4)
      t(s, dir, "events")
        .select(col("event_id"),
          when(col("value") < 50, lit(null).cast(DoubleType))
            .otherwise(col("value")).as("v1"),
          when(col("user_id") % 7 === 0, lit(null).cast(LongType))
            .otherwise(col("user_id")).as("v2"))
        .na.drop("all", Seq("v1", "v2"))
        .orderBy(col("event_id"))
    }),

    "p7_dropna_subset" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("value_or_null",
          when(col("value") < 50, lit(null)).otherwise(col("value")))
        .na.drop(Seq("value_or_null"))
        .select(col("event_id"), col("value_or_null"))
        .orderBy(col("event_id"))
    }),

    "p11_limit_topn" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "p12_shuffle_seeded" -> ((s, dir) => {
      Relational.deterministicShuffle(t(s, dir, "orders"), col("o_orderkey"))
        .limit(500)
        .select(col("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    "p13_batch_ntile" -> ((s, dir) => {
      // exact ntile(20) semantics WITHOUT the single-partition ORDER BY
      // window: p20's range-exchange global numbering + the closed-form
      // remainder-first bucket function (Layout.ntileFromRowNum). The
      // only global windows left touch ≤32 partition-offset rows —
      // including the row total, which rides the same metadata window
      // (keepTotal) instead of a second pass over the data.
      Layout.globalRowNumber(t(s, dir, "orders"),
          col("o_orderkey"), keepTotal = true)
        .withColumn("batch",
          Layout.ntileFromRowNum(col("row_num"), col("total"), 20))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("first_key"))
        .orderBy(col("batch"))
    }),

    "p22_small_file_control" -> ((s, dir) => {
      // the small-file problem controlled at WRITE time:
      // maxRecordsPerFile rolls output files at a fixed row budget.
      // One writer task here makes the file count an exact function
      // of the row count (ceil(n/1000)) so the oracle can assert it;
      // at 100 TB the same option bounds per-task file sizes across
      // many writer tasks (count then depends on partitioning — the
      // s9/Lake.compact notes cover that regime)
      val out = tmpDir("p22_files")
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .repartition(1).write.mode("overwrite")
        .option("maxRecordsPerFile", 1000).parquet(out)
      val back = s.read.parquet(out)
        .withColumn("__f", input_file_name()) // project first: the
      // nondeterministic fn can't sit inside an aggregate argument
      back.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("__f")).as("n_files"),
          dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("files_ok", col("n_files") ===
          ceil(col("n_rows") / lit(1000.0d)).cast(LongType))
        .select(col("n_rows"), col("n_files"), col("sum_price"),
          col("files_ok"))
    }),

    "p20_global_rownum" -> ((s, dir) => {
      // scale-correct global row numbering: range exchange +
      // per-partition window + prefix-sum offsets over ≤32 metadata
      // rows — never the single-partition ORDER BY window p13's ntile
      // pays (documented there as the bench-scale concession)
      Layout.globalRowNumber(t(s, dir, "orders"), col("o_orderkey"))
        .select(col("o_orderkey"), col("row_num"))
        .orderBy(col("o_orderkey"))
    }),

    "p14_hash_sample" -> ((s, dir) => {
      // deterministic hash sample (m/16 of rows, pure function of the key
      // — reproducible across engines, cluster sizes, and reruns)
      Sampling.hashSample(t(s, dir, "orders"), col("o_orderkey"), m = 4)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "p15_stratified_sample" -> ((s, dir) => {
      // stratified hash sample: each stratum sampled at m/16 independently
      Sampling.stratifiedHashSample(t(s, dir, "orders"),
          col("o_orderstatus"), col("o_orderkey"), m = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    "p16_temperature_sample" -> ((s, dir) => {
      // temperature (α=0.5) source rebalancing: acceptance rate
      // (n_min/n)^0.5 per source, md5-deterministic membership —
      // the LLM data-mixing sample (Sampling.temperatureSample)
      val docs = t(s, dir, "documents")
      val kept = Sampling.temperatureSample(docs,
          col("source"), col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
        .withColumn("rate", round(sqrt(
          min(col("n_total")).over(Window.partitionBy()).cast("double") /
            col("n_total")), 6))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rate"))
        .orderBy(col("source"))
    }),

    "p19_fixed_k_per_stratum" -> ((s, dir) => {
      // exactly-k deterministic draw per source (hash-priority rank —
      // the "100 examples per source" sample, engine-stable)
      Sampling.fixedKPerStratum(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), k = 10)
        .orderBy(col("source"), col("rk"))
    }),

    "p21_weighted_reservoir" -> ((s, dir) => {
      // exactly-5 weighted draw per priority class, inclusion odds ∝
      // order value (Efraimidis-Spirakis priorities over deterministic
      // hash-u; one bounded-heap agg via graft_topk_agg — no
      // per-stratum sort, no RNG). The full formula is replayed by
      // the oracle, so the draw itself is hash-checked
      Sampling.weightedReservoir(t(s, dir, "orders"),
          col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), k = 5)
        .orderBy(col("stratum"), col("rk"))
    }),

    "p18_three_way_split" -> ((s, dir) => {
      // deterministic train/val/test split: membership is a pure
      // function of the key — stable across reruns, engines, corpus
      // growth (Sampling.threeWaySplit)
      Sampling.threeWaySplit(t(s, dir, "documents")
          .select(col("doc_id"), col("source")), col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "x37_mixture_plan" -> ((s, dir) => {
      // data-mixing planner: a weighted token budget split across the
      // chosen sources, realized as whole epochs + a deterministic
      // tail sample (Sampling.mixturePlan; temperatureSample PICKS
      // weights, this SPENDS them)
      Sampling.mixturePlan(t(s, dir, "documents"), col("source"),
          graft.functions.ColFns.tokenCount(col("text")),
          weights = Seq("src0" -> 4d, "src1" -> 3d, "src2" -> 2d,
            "src3" -> 1d, "src10" -> 2d, "src11" -> 1d),
          budgetTokens = 1000000L)
        .orderBy(col("source"))
    }),

    "p17_dictionary_encode" -> ((s, dir) => {
      // categorical dictionary encoding: dense ids in value order from
      // a distinct+window over the (tiny) vocabulary, broadcast back —
      // the feature-encoding step before training; vocab ≪ data at any
      // scale, so the join-back is map-side
      val o = t(s, dir, "orders")
      val vocab = o.select(col("o_orderpriority").as("v")).distinct()
        .withColumn("v_id", row_number().over(Window.orderBy(col("v"))))
      o.join(broadcast(vocab), col("o_orderpriority") === col("v"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("v_id"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- dedup (§2.3) --------------------------------------------------
    "d1_dedup_keep_first" -> ((s, dir) => {
      Dedup.keepFirst(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus"), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }),

    "d2_dedup_keep_last" -> ((s, dir) => {
      Dedup.keepLast(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus"), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }),

    "d3_distinct_rows" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
    }),

    "d4_select_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // ---- joins (§2.4) --------------------------------------------------
    "j1_join_inner" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
        .orderBy(col("c_custkey"))
    }),

    "j2_join_left_agg" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val counts = t(s, dir, "customer")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
      n.join(counts, n("n_nationkey") === counts("c_nationkey"), "left")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("cnt"), lit(0L)).as("n_customers"))
        .orderBy(col("n_nationkey"))
    }),

    "j3_join_chain3" -> ((s, dir) => {
      // chained left joins, second ON is theta-style equality across
      // different column names (reference create_dim_attraction_type)
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
        .select(col("c_custkey"), col("n_name"), col("r_name"))
        .orderBy(col("c_custkey"))
    }),

    "j4_mart_flagship" -> ((s, dir) => qMartFlagship(s, dir)),

    "j5_self_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") < col("b.l_linenumber"))
        .groupBy(col("a.l_orderkey").as("l_orderkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("l_orderkey"))
    }),

    "j6_anti_join" -> ((s, dir) => {
      // parts never ordered in bulk (l_quantity > 45). The unfiltered
      // "never ordered at all" form was EMPTY at every test scale
      // (TPC-H lineitem references every part) — a vacuous oracle
      // match that exercised only the anti-join's empty path (round-6
      // vacuity sweep); the bulk-quantity restriction gives the
      // operator real survivors at all three scales (7/114/977)
      val p = t(s, dir, "part"); val li = t(s, dir, "lineitem")
      p.join(li.filter(col("l_quantity") > 45),
          p("p_partkey") === li("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"))
        .orderBy(col("p_partkey"))
    }),

    "j6b_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "j7_fuzzy_best_match" -> ((s, dir) => {
      // corrupt nation names deterministically (strip vowels), then
      // fuzzy-match each corrupted string back to the name table
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        regexp_replace(col("n_name"), "[AEIOU]", "").as("noisy_name"))
      FuzzyJoin.bestMatch(corrupted, "noisy_name", n, "n_name")
        .orderBy(col("n_nationkey"))
    }),

    "j7b_fuzzy_blocked" -> ((s, dir) => {
      // blocked fuzzy join (3-gram inverted index instead of cross
      // product) — the scale path when the right side is too big to
      // broadcast; corruption keeps 3-gram overlap so every row matches
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        concat(expr("substring(n_name, 1, length(n_name)-1)"), lit("X"))
          .as("noisy_name"))
      FuzzyJoin.blockedBestMatch(corrupted, "noisy_name", n, "n_name")
        .orderBy(col("n_nationkey"))
    }),

    "j7d_fuzzy_jw" -> ((s, dir) => {
      // j7b's blocked shape with the Jaro-Winkler scorer — the
      // MDM-standard name metric (f19's native expression) plugged
      // into the same 3-gram inverted-index candidate generation;
      // DuckDB's jaro_winkler_similarity makes this a FULL hash
      // oracle for the composed fuzzy join
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        concat(expr("substring(n_name, 1, length(n_name)-1)"), lit("X"))
          .as("noisy_name"))
      FuzzyJoin.blockedBestMatch(corrupted, "noisy_name", n, "n_name",
          FuzzyJoin.jwSimilarity)
        .orderBy(col("n_nationkey"))
    }),

    "j7c_token_sort_match" -> ((s, dir) => {
      // word-order corruption (reverse token order) recovered by the
      // fuzzywuzzy-style token-sort scorer — reordered names score 1.0
      val n = t(s, dir, "nation")
      val corrupted = n.select(col("n_nationkey"),
        concat_ws(" ", reverse(split(col("n_name"), " "))).as("noisy_name"))
      FuzzyJoin.bestMatch(corrupted, "noisy_name", n, "n_name",
          FuzzyJoin.tokenSortSimilarity)
        .orderBy(col("n_nationkey"))
    }),

    "j9_salted_join" -> ((s, dir) => {
      // skew-resistant salted equi-join: same inner-join semantics,
      // hot keys spread across salt buckets
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Relational.saltedJoin(o, c, "o_custkey", salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "j8_lookup_join" -> ((s, dir) => {
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }),

    "j11_range_join" -> ((s, dir) => {
      // point-in-interval join via bucketing (see RangeJoin): events
      // land in non-uniform value tiers derived from region
      val tiers = t(s, dir, "region").select(
        col("r_regionkey").as("tier"),
        (col("r_regionkey") * col("r_regionkey") * 20).cast(DoubleType).as("lo"),
        ((col("r_regionkey") + 1) * (col("r_regionkey") + 1) * 20)
          .cast(DoubleType).as("hi"))
      RangeJoin.bucketed(t(s, dir, "events"), "value", tiers, "lo", "hi",
          step = 20.0)
        .groupBy(col("tier"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("tier"))
    }),

    "j10_asof_join" -> ((s, dir) => {
      // backward as-of join: each event picks up the probe user's most
      // recent order state (right side pre-dedupped per (key, time) for
      // deterministic ties)
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_totalprice")).as("last_order_price"))
      AsofJoin.backward(e, "user_id", "ts",
          o, "o_custkey", "o_orderdate", Seq("last_order_price"))
        .select(col("event_id"), col("user_id"), col("last_order_price"))
        .orderBy(col("event_id"))
    }),

    "b2_bloom_prefilter_join" -> ((s, dir) => {
      // Bloom-filter pre-filter before the exact join: build a bloom
      // sketch of the dim keys, drop probe rows that can't match before
      // the shuffle/broadcast (at 100 TB this is the runtime-filter
      // pattern that cuts the big side's shuffle volume; AQE does it
      // automatically for shuffle joins — shown here explicitly). False
      // positives only pass extra rows to the exact join, so the result
      // is identical to the plain join — which is the oracle.
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"))
      val bloomBytes = dim.agg(
        graft.functions.BloomFns.bloomAgg(col("c_custkey"), 4000L, 40000L)
          .as("bf")).head().getAs[Array[Byte]]("bf")
      t(s, dir, "events")
        .filter(graft.functions.BloomFns.mightContain(bloomBytes, col("user_id")))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    }),

    "j20_interval_overlap" -> ((s, dir) => {
      // key-scoped interval-overlap self-join: pairs of the SAME
      // customer's order windows ([orderdate, +6d]) that overlap —
      // the concurrent-sessions / double-booking shape. The key
      // equality carries the join (one shuffle on custkey, per-key
      // groups are small); the overlap predicate is a post-join
      // filter, never a cross product. Date windows ride yyyy-MM-dd
      // strings (lexicographic = chronological) per the j15 idiom
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("lo"),
        date_format(date_add(col("o_orderdate").cast(DateType), 6),
          "yyyy-MM-dd").as("hi"))
      o.as("a").join(o.as("b"),
          col("a.o_custkey") === col("b.o_custkey") &&
            col("a.o_orderkey") < col("b.o_orderkey") &&
            col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
        .groupBy(col("a.o_custkey").as("o_custkey"))
        .agg(count(lit(1)).as("n_overlapping_pairs"),
          min(least(col("a.lo"), col("b.lo"))).as("first_overlap_start"))
        .orderBy(col("o_custkey"))
    }),

    "j12_full_outer_join" -> ((s, dir) => {
      // full-outer reconciliation: which keys exist on one side only —
      // the audit join every warehouse sync needs. Orders aggregate to
      // key grain first so the outer join is key-to-key.
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .agg(
          sum(when(col("c_custkey").isNotNull &&
            col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_both"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("n_left_only"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
            .as("n_right_only"))
    }),

    "j13_nullsafe_join" -> ((s, dir) => {
      // null-safe equality (<=>): NULL keys match each other instead of
      // dropping — the semantics a dimension sync with "unknown" keys
      // needs. Both sides derive nullable keys deterministically.
      val e = t(s, dir, "events").select(
        when(col("event_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("event_id") % 50).as("k1"))
      val p = t(s, dir, "part").select(
        when(col("p_partkey") % 11 === 0, lit(null).cast("long"))
          .otherwise(col("p_partkey") % 50).as("k2"))
      e.join(p, col("k1") <=> col("k2"))
        .groupBy(coalesce(col("k1"), lit(-1L)).as("key"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("key"))
    }),

    "b3_zorder_scan" -> ((s, dir) => {
      // Z-order clustered layout (Layout.zorderWrite): every output file
      // owns a compact (user_id, event_id) rectangle, so min/max footer
      // stats prune scans on EITHER dimension — the lakehouse OPTIMIZE
      // ZORDER pattern as a plain Spark write. The layout changes which
      // files a filter reads, never the result — which is the oracle.
      val path = tmpDir("zorder_events")
      Layout.zorderWrite(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        col("user_id"), col("event_id"), path, numFiles = 16)
      s.read.parquet(path)
        .filter(col("user_id").between(100, 300))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    "b1_bucketed_join" -> ((s, dir) => {
      // co-located join over bucketed tables: the shuffle is paid once at
      // write time; the join itself plans with zero exchanges
      val o = Bucketing.writeBucketed(s,
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "b1_orders", tmpDir("b1_orders"), "o_custkey", buckets = 8)
      val c = Bucketing.writeBucketed(s,
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "b1_customer", tmpDir("b1_customer"), "c_custkey", buckets = 8)
      Bucketing.colocatedJoin(o, "o_custkey", c, "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- aggregation (§2.5) --------------------------------------------
    "a1_pricing_summary" -> ((s, dir) => {
      // TPC-H Q1 shape: the canonical partial+final hash aggregation
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "a2_count_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    "a3_pivot_matrix" -> ((s, dir) => {
      // pivot-accumulated matrix (reference populartimes 7×24)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Reshape.pivotMatrix(
        t(s, dir, "events")
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        col("day"), "event_type", count(lit(1)))
      pivoted.select(col("day") +:
          types.map(ty => coalesce(col(ty), lit(0L)).as(ty)): _*)
        .orderBy(col("day"))
    }),

    "a4_hll_approx_distinct" -> ((s, dir) => {
      // approx_count_distinct (HLL++). The sketch itself is engine-
      // specific, so the oracle-checked contract is the useful one: the
      // exact count plus "approx landed within 5%" (HLL++ rsd default
      // 0.05) — deterministic on fixed data, and exactly what a pipeline
      // asserting sketch quality would check.
      // rsd = 0.02 (not the 0.05 default): the default sketch lands
      // 6.7% off at sf0.1 — outside its own 5% contract on that draw —
      // while 0.02 measures ≤0.4% at every tested SF, keeping the
      // contract honest across scales (probed, not assumed)
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.05).as("within_5pct"))
        .orderBy(col("event_type"))
    }),

    "a15_cms_heavy_hitters" -> ((s, dir) => {
      // Count-Min-Sketch frequency estimates (mergeable sketch, fixed
      // seed): ONE sketch aggregation over the stream of keys, then
      // driver-side point lookups for the candidate heavy hitters (the
      // b2 bloom-bytes pattern — materializing the sketch is the
      // point). Oracle-checked contract, a4-style: exact count + the
      // CMS guarantee (estimate never undercounts, overcount ≤ ε·N) —
      // deterministic on fixed data + fixed seed.
      import s.implicits._
      val e = t(s, dir, "events").select(col("event_type"))
      val bytes = e.agg(
          expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("s"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      // N comes from the sketch itself — no extra scan
      val bound = math.ceil(0.001 * cms.totalCount()).toLong
      val rows = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_n")).collect()
        .map { r =>
          val k = r.getString(0); val x = r.getLong(1)
          val est = cms.estimateCount(k)
          (k, x, est >= x && est <= x + bound)
        }.toSeq
      rows.toDF("event_type", "exact_n", "within_bound")
        .orderBy(col("event_type"))
    }),

    "a5_stats_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          median(col("l_quantity")).as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    "a6_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    "a7_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    }),

    "a23_grouped_mode" -> ((s, dir) => {
      // exact mode per group (most-frequent value, ties to the LARGER
      // value — encoded structurally in max(struct(cnt, val)), no
      // window): two hash aggregations, both map-side combined; the
      // common "dominant category per entity" rollup without sorting
      // any group
      val e = t(s, dir, "events")
        .select((col("user_id") % 10).as("cohort"), col("event_type"))
      e.groupBy(col("cohort"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("cohort"))
        .agg(max(struct(col("cnt"), col("event_type"))).as("m"),
          sum(col("cnt")).as("n_events"))
        .select(col("cohort"), col("m.event_type").as("mode_event"),
          col("m.cnt").as("mode_n"), col("n_events"))
        .orderBy(col("cohort"))
    }),

    "a22_correlation" -> ((s, dir) => {
      // Pearson correlations between lineitem measures, from exact
      // decimal moment sums (order-independent across any partitioning
      // — the zscoreOutliers discipline) with the final arithmetic in
      // doubles rounded at 4; one aggregation pass computes all three
      // pairs' moments simultaneously
      def d(c: String) = col(c).cast("decimal(18,2)")
      def dd(a: Column, b: Column) = (a * b).cast("decimal(30,4)")
      val m = t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(d("l_quantity")).as("sq"), sum(d("l_extendedprice")).as("sp"),
        sum(d("l_discount")).as("sd"),
        sum(dd(d("l_quantity"), d("l_quantity"))).as("sqq"),
        sum(dd(d("l_extendedprice"), d("l_extendedprice"))).as("spp"),
        sum(dd(d("l_discount"), d("l_discount"))).as("sdd"),
        sum(dd(d("l_quantity"), d("l_extendedprice"))).as("sqp"),
        sum(dd(d("l_quantity"), d("l_discount"))).as("sqd"),
        sum(dd(d("l_extendedprice"), d("l_discount"))).as("spd"))
      def corr(n: Column, sx: Column, sy: Column, sxx: Column,
               syy: Column, sxy: Column) = {
        val num = sxy.cast(DoubleType) -
          sx.cast(DoubleType) * sy.cast(DoubleType) / n
        val dx = sxx.cast(DoubleType) -
          sx.cast(DoubleType) * sx.cast(DoubleType) / n
        val dy = syy.cast(DoubleType) -
          sy.cast(DoubleType) * sy.cast(DoubleType) / n
        round(num / sqrt(dx * dy), 4)
      }
      m.select(
        corr(col("n"), col("sq"), col("sp"), col("sqq"), col("spp"),
          col("sqp")).as("corr_qty_price"),
        corr(col("n"), col("sq"), col("sd"), col("sqq"), col("sdd"),
          col("sqd")).as("corr_qty_disc"),
        corr(col("n"), col("sp"), col("sd"), col("spp"), col("sdd"),
          col("spd")).as("corr_price_disc"))
    }),

    "a21_winsorize" -> ((s, dir) => {
      // robust-range winsorization: p01/p99 bounds from ONE tiny
      // aggregation (rounded to 2dp so both engines clamp at the
      // identical constant — interpolated percentiles differ in ulps),
      // broadcast back as the scalar crossJoin idiom, then a
      // scan-speed clamp; output is the clipping audit row
      val li = t(s, dir, "lineitem")
      val bounds = li.agg(
        round(expr("percentile(l_extendedprice, 0.01)"), 2).as("lo"),
        round(expr("percentile(l_extendedprice, 0.99)"), 2).as("hi"))
      val clipped = least(greatest(col("l_extendedprice"), col("lo")),
        col("hi"))
      li.crossJoin(broadcast(bounds))
        .agg(
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L))
            .as("n_clipped_low"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
            .as("n_clipped_high"),
          round(min(clipped), 2).as("min_v"),
          round(max(clipped), 2).as("max_v"),
          round(sum(clipped.cast("decimal(18,2)")).cast(DoubleType) /
            count(lit(1)), 2).as("mean_v"))
    }),

    "a8_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (quantile_cont semantics)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 2).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 2).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 2).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    "a17_event_pattern" -> ((s, dir) => {
      // CEP-lite sequence matching: each user's event history becomes
      // an ordered letter string (v/c/p/s/e) and MATCH_RECOGNIZE-style
      // patterns are plain regex counts over it — here view→clicks*→
      // purchase conversions. One keyed aggregation; the per-user
      // string is session-history-sized, the same per-key bound every
      // sequence operator carries.
      val e = t(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
          col("event_id"), substring(col("event_type"), 1, 1).as("l"))
      e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws("", transform(
            sort_array(collect_list(
              struct(col("sec"), col("event_id"), col("l")))),
            s => s.getField("l"))).as("seq"))
        .select(col("user_id"), col("n_events"),
          size(regexp_extract_all(col("seq"), lit("vc*p"), lit(0)))
            .as("n_conversions"))
        .orderBy(col("user_id"))
    }),

    "a20_pareto_abc" -> ((s, dir) => {
      // Pareto / ABC concentration: customers ranked by exact decimal
      // revenue, cumulative share cut at 50%/80%. The cumulative sum
      // rides Layout.globalPrefixSum (range exchange + ≤32 metadata
      // offset rows) and the grand total the SAME metadata window
      // (keepTotal) — never a single-partition window over customer
      // rows: customers scale WITH the dataset (150k × SF here,
      // billions of users in the real analogue), so the former
      // customer-grain Window.orderBy was a one-executor wall at
      // 100×, the exact class the p13/x79/x86 rewrites eliminated
      // (PlanShapeSpec pins this query to the same discipline).
      // Exactness: revenue moves through the prefix machinery as
      // CENTS (decimal(18,2)·100 → long, exact), so cum/total is a
      // quotient of exact integers in BOTH engines and the A/B/C cut
      // compares operand-identical doubles.
      val rev = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        .withColumn("cents", (col("rev") * 100).cast(LongType))
      Layout.globalPrefixSum(rev, col("cents"),
          struct((-col("rev")).as("negrev"), col("o_custkey").as("k")),
          keepTotal = true)
        .withColumn("share", col("cum").cast(DoubleType) /
          col("total").cast(DoubleType))
        .withColumn("abc", when(col("share") <= 0.5d, "A")
          .when(col("share") <= 0.8d, "B").otherwise("C"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("rev")).cast(DoubleType).as("revenue"))
        .orderBy(col("abc"))
    }),

    "a18_mad_outliers" -> ((s, dir) => {
      // robust outlier counts: median absolute deviation per group
      // (two exact-percentile passes — immune to the outliers that
      // inflate a z-score's stddev; cf. a11). Group medians broadcast
      // back both times; exact percentile keeps the oracle bit-equal.
      val o = t(s, dir, "orders")
      val med = o.groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      val dev = o.join(broadcast(med), Seq("o_orderstatus"))
        .withColumn("adev", abs(col("o_totalprice") - col("med")))
      val mad = dev.groupBy(col("o_orderstatus"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), Seq("o_orderstatus"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          round(first(col("med")), 2).as("median"),
          round(first(col("mad")), 2).as("mad"),
          sum(when(col("adev") > lit(3.0d) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("o_orderstatus"))
    }),

    "a16_above_group_p90" -> ((s, dir) => {
      // QUALIFY-style filter: orders strictly above their status
      // group's p90 price — the group threshold broadcasts back from
      // a tiny aggregate (2-pass but group-grain; a windowed
      // percentile would sort the whole fact per group for the same
      // answer)
      val o = t(s, dir, "orders")
      val thr = o.groupBy(col("o_orderstatus"))
        .agg(round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"))
      o.join(broadcast(thr), Seq("o_orderstatus"))
        .filter(col("o_totalprice") > col("p90"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_above"), first(col("p90")).as("p90"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderstatus"))
    }),

    "a8b_approx_percentiles" -> ((s, dir) => {
      // sketch percentiles (GK/percentile_approx) — the 100 TB swap-in
      // for a8's exact sort-based form (SCALE.md). Oracle contract like
      // a4: exact values + "sketch landed within 1 quantity unit".
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_quantity, 0.5, 10000)").as("approx_p50"),
          expr("percentile(l_quantity, 0.5)").as("exact_p50_raw"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(col("exact_p50_raw"), 2).as("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50_raw")) <= 1.0)
            .as("within_1"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),

    "a9_grouping_sets" -> ((s, dir) => {
      Tables.createViews(s, dir)
      s.sql("""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY returnflag, linestatus""")
    }),

    "a10_histogram" -> ((s, dir) => {
      // equi-width histogram: one-pass bucket profile of a measure
      // column (Quality.histogram) — tails clamp into the edge buckets
      Quality.histogram(t(s, dir, "lineitem"), col("l_extendedprice"),
          lo = 0.0, hi = 120000.0, nBuckets = 24)
        .orderBy(col("bucket"))
    }),

    "a11_zscore_outliers" -> ((s, dir) => {
      // z-score outlier report per event type: decimal-exact moments,
      // then |v-mean| > z·sd counted per group (Quality.zscoreOutliers)
      Quality.zscoreOutliers(t(s, dir, "events"),
          col("event_type"), col("value"), z = 2.5)
        .orderBy(col("grp"))
    }),

    // ---- DML-as-rewrite (§2.10) ----------------------------------------
    "m1_update_rewrite" -> ((s, dir) => {
      // UPDATE … SET name WHERE name=… ×N (reference synonym-id repair),
      // as a repair-map rewrite + atomic overwrite of the parquet target
      val out = tmpDir("m1_target")
      Mutations.overwriteAtomic(
        Mutations.repairByKey(t(s, dir, "nation"), "n_name", "n_name",
          Map("JAPAN" -> "NIPPON", "FRANCE" -> "GAUL")), out)
      s.read.parquet(out)
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    }),

    "m2_insert_missing" -> ((s, dir) => {
      // INSERT INTO target SELECT … WHERE key NOT IN target (reference
      // dim_attraction_hashtag upsert) — anti-join + union rewrite
      val out = tmpDir("m2_target")
      t(s, dir, "nation").filter(col("n_nationkey") < 15)
        .withColumn("src", lit("old"))
        .write.mode("overwrite").parquet(out)
      val target = s.read.parquet(out)
      val source = t(s, dir, "nation").withColumn("src", lit("new"))
      Mutations.insertMissing(target, source, Seq("n_nationkey"))
        .select(col("n_nationkey"), col("n_name"), col("src"))
        .orderBy(col("n_nationkey"))
    }),

    "m3_delete_rewrite" -> ((s, dir) => {
      // DELETE FROM … WHERE cond ×N (reference dim_attraction_detail) —
      // filter-out rewrite, then aggregate the survivors
      val out = tmpDir("m3_target")
      t(s, dir, "customer").write.mode("overwrite").parquet(out)
      Mutations.deleteWhere(s.read.parquet(out),
          col("c_acctbal") < 0 && col("c_mktsegment") === "MACHINERY")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("balance"))
        .orderBy(col("c_mktsegment"))
    }),

    "s16_schema_evolution" -> ((s, dir) => {
      // schema evolution across parquet generations: an old partition
      // (3 columns) and a new one (adds o_orderpriority) read as ONE
      // dataset via mergeSchema; old rows surface NULL for the new
      // column — the lakehouse add-column contract without a rewrite
      val out = tmpDir("s16_evolving")
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.parquet(s"$out/gen=1")
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("o_orderpriority").isNull.as("prio_missing"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("prio_missing"))
    }),

    "s17_bad_records" -> ((s, dir) => {
      // corrupt-record tolerance: a JSONL drop where every 50th line is
      // truncated mid-record; PERMISSIVE read surfaces bad lines in
      // _corrupt_record instead of failing the job — count and carve
      // out the good rows (the quarantine pattern for raw drops)
      val stage = tmpDir("s17_jsonl")
      val lines = t(s, dir, "orders")
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))).as("line"))
        .select(when(col("o_orderkey") % 50 === 0,
          substring(col("line"), 1, 12)).otherwise(col("line")).as("value"))
      lines.coalesce(4).write.mode("overwrite").text(stage)
      val schema = "o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, _corrupt_record STRING"
      s.read.schema(schema).option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stage)
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("n"),
          dsum(coalesce(col("o_totalprice"), lit(0.0d))).as("total"))
        .orderBy(col("quarantined"))
    }),

    "m4_scd2_merge" -> ((s, dir) => {
      // SCD Type-2 merge (Mutations.scd2Merge): the scale-respecting
      // alternative to the reference's drop-and-rebuild dims. Dim =
      // current customer snapshot; batch = every 3rd key, with the
      // segment changed on every 6th and unseen keys on every 150th.
      val c = t(s, dir, "customer")
      val dim = c.select(col("c_custkey"), col("c_mktsegment"),
        lit("2024-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      val updates = c.filter(col("c_custkey") % 3 === 0).select(
        when(col("c_custkey") % 50 === 0, col("c_custkey") + 100000)
          .otherwise(col("c_custkey")).as("c_custkey"),
        when(col("c_custkey") % 6 === 0,
          concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      Mutations.scd2Merge(dim, updates, Seq("c_custkey"),
          Seq("c_mktsegment"), "2024-06-01")
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    "m5_incremental_agg" -> ((s, dir) => {
      // incremental materialized-rollup maintenance: the target rollup
      // and a late-arriving fact slice merge at rollup grain
      // (Mutations.upsertAggregate) — no history rescan; result ≡ the
      // full recompute, which is the oracle
      val o = t(s, dir, "orders")
        .withColumn("m", month(col("o_orderdate")))
      def agg(df: DataFrame) = df
        .groupBy(col("o_orderstatus"), col("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
      val target = agg(o.filter(col("o_orderkey") % 4 =!= 0))
      val delta = agg(o.filter(col("o_orderkey") % 4 === 0))
      Mutations.upsertAggregate(target, delta,
          Seq("o_orderstatus", "m"), Seq("n", "total"))
        .select(col("o_orderstatus"), col("m"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy(col("o_orderstatus"), col("m"))
    }),

    "s15_snapshot_time_travel" -> ((s, dir) => {
      // versioned snapshot reads (Lake.writeSnapshot/readSnapshot):
      // v1 = partial dim, v2 = repaired full dim; reading "as of v1"
      // after v2 landed returns the old world — time travel from
      // directory convention + atomic rename alone
      val lake = new graft.sources.Lake(s, tmpDir("s15_lake"))
      val n = t(s, dir, "nation")
      lake.writeSnapshot(n.filter(col("n_nationkey") < 15), "nation_dim")
      lake.writeSnapshot(
        Mutations.repairByKey(n, "n_name", "n_name",
          Map("JAPAN" -> "NIPPON")), "nation_dim")
      val v1 = lake.readSnapshot("nation_dim", Some(1))
        .withColumn("version", lit(1))
      val v2 = lake.readSnapshot("nation_dim") // latest
        .withColumn("version", lit(2))
      v1.unionByName(v2)
        .select(col("version"), col("n_nationkey"), col("n_name"))
        .orderBy(col("version"), col("n_nationkey"))
    }),

    "s18_dynamic_partition_overwrite" -> ((s, dir) => {
      // the daily-backfill write: partitionOverwriteMode=dynamic
      // replaces ONLY the partitions present in the incoming frame
      // (here: the earliest day, rewritten without its error rows) —
      // static overwrite would nuke every other day with it
      val lakeDir = tmpDir("s18_lake")
      val e = t(s, dir, "events").select(col("event_id"),
        col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      e.write.partitionBy("day").mode("overwrite").parquet(lakeDir)
      val day0 = e.agg(min(col("day"))).head().getString(0)
      val fixed = e.filter(col("day") === day0 &&
        col("event_type") =!= "error")
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.get(key)
      s.conf.set(key, "dynamic")
      try fixed.write.partitionBy("day").mode("overwrite").parquet(lakeDir)
      finally s.conf.set(key, prev)
      // partition-column type inference reads day= back as DATE; the
      // contract (and the oracle) speak ISO strings
      s.read.parquet(lakeDir)
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
        .orderBy(col("day"))
    }),

    "m6_snapshot_diff" -> ((s, dir) => {
      // version-over-version table diff: v1 = partial dim, v2 = full +
      // repaired; classify keys inserted/deleted/updated via one
      // hash-payload full-outer join (Mutations.snapshotDiff — ship
      // the diff downstream, not the table)
      val lake = new graft.sources.Lake(s, tmpDir("m6_lake"))
      val n = t(s, dir, "nation")
      lake.writeSnapshot(n.filter(col("n_nationkey") < 15), "nation_dim")
      lake.writeSnapshot(
        Mutations.repairByKey(n, "n_name", "n_name",
          Map("JAPAN" -> "NIPPON")), "nation_dim")
      Mutations.snapshotDiff(
          lake.readSnapshot("nation_dim", Some(1)),
          lake.readSnapshot("nation_dim"), Seq("n_nationkey"))
        .orderBy(col("n_nationkey"))
    }),

    // ---- windows / sort / top-k (§2.6) ---------------------------------
    "w10_ewma" -> ((s, dir) => {
      // exponential smoothing (zero-seeded EWMA, α=0.1) per user over
      // event time, via the closed form ewma_t = α·r^t·Σ(x_k/r^k)
      // (r = 1−α): ONE ordered running window sum instead of a
      // sequential recurrence Spark can't express. Running sums
      // evaluate sequentially in frame order, so both engines add the
      // same doubles in the same order. r^t does NOT go through
      // libm pow — Java's and DuckDB's pow differ in the final ulp,
      // which flipped two rounded rows — it joins from [[ewmaPowers]],
      // the same driver-computed double literals the generated oracle
      // embeds (the pagerankOracleSql discipline); the broadcast side
      // is ewmaMaxT rows.
      val alpha = 0.1d
      val pw = s.createDataFrame(ewmaPowers).toDF("t", "p")
      val byT = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("t", row_number().over(byT))
        // LEFT join + loud failure on a missed power row: an INNER join
        // would silently TRUNCATE any per-user purchase series longer
        // than ewmaMaxT — and since the oracle embeds the same table,
        // the hash check could never see the loss on grown data. (The
        // other grown-data hazard, decimal(38,12) running-sum overflow
        // near t≈500, already fails loudly under Spark 4's default
        // ANSI mode.)
        .join(broadcast(pw), Seq("t"), "left")
        .withColumn("p", when(col("p").isNull,
            raise_error(concat(lit("w10_ewma: series position t="),
              col("t").cast("string"),
              lit(" exceeds the precomputed power table (ewmaMaxT); " +
                "raise ewmaMaxT"))))
          .otherwise(col("p")))
        // the running sum goes through DECIMAL: DuckDB windows sum via
        // a segment TREE (different FP addition order), so double sums
        // diverge in ulps — the repo's decimal-aggregation gotcha
        // applied to window frames
        .withColumn("s",
          sum((col("value") / col("p")).cast("decimal(38,12)")).over(run)
            .cast(DoubleType))
        // quantize at 8dp BEFORE the 4dp round: Spark rounds the
        // double's exact binary value (BigDecimal HALF_UP), DuckDB the
        // shortest decimal repr — a product an ulp from x.xxxx5 flips
        // between them; the intermediate decimal cast resolves the
        // boundary identically on both sides
        .select(col("user_id"), col("event_id"),
          round((lit(alpha) * col("p") * col("s")).cast("decimal(20,8)"),
            4).cast(DoubleType).as("ewma"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "w3_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("rank"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))
    }),

    "w11_topk_agg" -> ((s, dir) => {
      // w3's grouped top-k via the bounded-heap aggregate
      // (graft_topk_agg) instead of a window sort: per-group state is
      // ≤k values, partial-combines map-side, so the exchange moves
      // |groups|·k rows — not the whole fact table (the scale
      // difference the window form can't avoid). Direction and
      // tie-break ride the struct ordering: (price, -orderkey) =
      // price desc then orderkey asc, w3's exact semantics — and the
      // oracle IS w3's oracle, so both formulations must agree
      // row-for-row
      import graft.functions.TopKAgg
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(TopKAgg.topK(struct(col("o_totalprice"),
          (-col("o_orderkey")).as("neg_key"), col("o_orderkey")), 3)
          .as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("i", "r")))
        .select(col("o_custkey"), (col("i") + 1).cast(IntegerType).as("rank"),
          col("r.o_orderkey").as("o_orderkey"),
          col("r.o_totalprice").as("o_totalprice"))
        .orderBy(col("o_custkey"), col("rank"))
    }),

    "w4_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "w5_lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_price",
          lag(col("o_totalprice").cast("decimal(18,2)"), 1).over(w))
        .withColumn("delta",
          (col("o_totalprice").cast("decimal(18,2)") - col("prev_price"))
            .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("prev_price").cast("double").as("prev_price"), col("delta"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "w6_range_frame" -> ((s, dir) => {
      // value-range window frame: trailing 30-day revenue per customer
      // (RANGE, not ROWS — peers share the frame, so ties are harmless)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .withColumn("sum_30d",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("sum_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "w7_rank_family" -> ((s, dir) => {
      // the rest of the ranking family over one keyed window
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
          dense_rank().over(w).as("drank"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"),
          first(col("o_orderkey")).over(w).as("top_key"))
        .orderBy(col("o_orderkey"))
    }),

    "w8_forward_fill" -> ((s, dir) => {
      // forward-fill (LOCF): last non-null observation carried forward
      // per key in event-time order — the gap-repair op for sensor /
      // metric streams (pandas ffill re-expressed as one keyed window,
      // ignoreNulls last_value; leading nulls stay null). Gaps are
      // derived deterministically so the oracle sees the same holes.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("gappy",
          when(col("event_id") % 5 === 0, lit(null).cast("double"))
            .otherwise(col("value")))
        .select(col("event_id"), col("user_id"),
          last(col("gappy"), ignoreNulls = true).over(w).as("filled"))
        .orderBy(col("event_id"))
    }),

    "w9_cumulative_distinct" -> ((s, dir) => {
      // running COUNT(DISTINCT) per key — not directly plannable as a
      // window in Spark (or most engines); the composable form is a
      // first-occurrence flag + cumulative sum. Both windows partition
      // by user_id alone (first-occurrence via lag over a (type, ts)
      // sort instead of a per-(user, type) row_number), so the plan
      // pays ONE exchange and two in-partition sorts, not two shuffles.
      val typeRuns = Window.partitionBy(col("user_id"))
        .orderBy(col("event_type"), col("ts"), col("event_id"))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("first_seen",
          when(!(lag(col("event_type"), 1).over(typeRuns) <=>
            col("event_type")), 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("first_seen")).over(cum).as("types_seen"))
        .orderBy(col("event_id"))
    }),

    // ---- set ops (§2.7) ------------------------------------------------
    "u1_union_distinct" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(su).distinct().orderBy(col("nationkey"))
    }),

    "u2_intersect" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(su).orderBy(col("nationkey"))
    }),

    "u3_except" -> ((s, dir) => {
      // nations with customers but no negative-balance supplier. The
      // unrestricted customer-minus-supplier nation difference was
      // EMPTY at sf0.01/sf0.1 (suppliers cover every customer nation)
      // — a vacuous oracle match (round-6 vacuity sweep); the acctbal
      // restriction keeps the difference non-empty at all scales
      // (25/21/2)
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nationkey"))
      c.except(su).orderBy(col("nationkey"))
    }),

    "u4_union_evolved" -> ((s, dir) => {
      // schema-drift union: an old extract (no balance column) unions
      // with the new one — allowMissingColumns null-fills the gap
      // (the generation-merge read every evolving pipeline does)
      val old = t(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"))
      val neu = t(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      old.unionByName(neu, allowMissingColumns = true)
        .orderBy(col("c_custkey"))
    }),

    // ---- reshape (§2.8) ------------------------------------------------
    "r6_pivot_multi_measure" -> ((s, dir) => {
      // multi-measure pivot: count AND decimal-exact value sum per
      // pivoted event type in one pass (Spark emits type_n / type_sum
      // column pairs)
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupBy(col("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
      p.select(col("day") +: types.flatMap(ty => Seq(
          coalesce(col(s"${ty}_n"), lit(0L)).as(s"${ty}_n"),
          coalesce(col(s"${ty}_sv").cast(DoubleType), lit(0.0d))
            .as(s"${ty}_sv"))): _*)
        .orderBy(col("day"))
    }),

    "r1_unpivot_melt" -> ((s, dir) => {
      // ordered-melt at a quarter of the sorted volume: range-sort the
      // BASE rows on the id prefix, then unpivot (narrow — rows never
      // change partitions), then add the measure key with a partition-
      // local sort. Global order is identical to orderBy-after-melt
      // because range partitions are disjoint on (l_orderkey,
      // l_linenumber) and the 4-way fan-out stays inside its partition
      // — but the exchange+sort now moves 6M wide-less rows instead of
      // 24M melted ones.
      Reshape.melt(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_discount", "l_tax")
            .orderBy(col("l_orderkey"), col("l_linenumber")),
          ids = Seq("l_orderkey", "l_linenumber"),
          values = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          varName = "measure", valName = "value")
        .sortWithinPartitions(
          col("l_orderkey"), col("l_linenumber"), col("measure"))
    }),

    "r2_explode_split" -> ((s, dir) => {
      Reshape.explodeSplit(t(s, dir, "part"), "p_type", "type_word", " ")
        .select(col("p_partkey"), col("type_word"))
        .orderBy(col("p_partkey"), col("type_word"))
    }),

    "r3_transpose_small" -> ((s, dir) => {
      Reshape.transposeSmall(t(s, dir, "region"), "r_name", "r_regionkey")
    }),

    "r4_column_reorder" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_name"), col("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // ---- scalar functions (§2.9) ---------------------------------------
    "f1_md5_key" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), ColFns.md5Key(col("c_name")).as("name_md5"))
        .orderBy(col("c_custkey"))
    }),

    "f2_regexp_extract" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "(\\d+)-(\\w+)", 1)
            .cast(IntegerType).as("prio_num"),
          regexp_extract(col("o_orderpriority"), "(\\d+)-(\\w+)", 2)
            .as("prio_word"))
        .orderBy(col("o_orderkey"))
    }),

    "f3_rel_date_zh" -> ((s, dir) => {
      // Chinese relative-date resolution (reference convertDate UDF) —
      // relative strings synthesized deterministically from events
      val e = t(s, dir, "events")
      val n = (col("user_id") % 30 + 1).cast(StringType)
      val rel = when(col("event_type") === "click", concat(n, lit("分鐘前")))
        .when(col("event_type") === "signup", concat(n, lit("小時前")))
        .when(col("event_type") === "purchase", concat(n, lit("天前")))
        .when(col("event_type") === "view", concat(n, lit("週前")))
        .when(col("event_type") === "error", concat(n, lit("個月前")))
        .otherwise(lit("在線上"))
      e.withColumn("published_raw", rel)
        .withColumn("published_at", date_format(
          ColFns.convertRelDate(col("published_raw"), col("ts")), "yyyy-MM-dd"))
        .select(col("event_id"), col("published_raw"), col("published_at"))
        .orderBy(col("event_id"))
    }),

    "f4_fb_date_zh" -> ((s, dir) => {
      // fb pandas date-normalization variant (reference
      // fb_scraper/normalization.py:23-53): absolute "Y年M月D日",
      // month-day with 上午/下午 suffix, "N天", 分鐘/小時 → ref date,
      // 在線上 → null. Raw strings synthesized per event type.
      val e = t(s, dir, "events")
      val refD = col("ts").cast(DateType)
      val n = (col("user_id") % 30 + 1).cast(StringType)
      val d40 = date_sub(refD, 40); val d3 = date_sub(refD, 3)
      val raw = when(col("event_type") === "click", concat(n, lit("天")))
        .when(col("event_type") === "signup", concat(n, lit("分鐘")))
        .when(col("event_type") === "purchase",
          concat(year(d40).cast(StringType), lit("年"),
            month(d40).cast(StringType), lit("月"),
            dayofmonth(d40).cast(StringType), lit("日")))
        .when(col("event_type") === "view",
          concat(month(d3).cast(StringType), lit("月"),
            dayofmonth(d3).cast(StringType), lit("日下午3:15")))
        .otherwise(lit("在線上"))
      e.withColumn("raw", raw)
        .withColumn("created_at",
          date_format(ColFns.fbDate(col("raw"), col("ts")), "yyyy-MM-dd"))
        .select(col("event_id"), col("raw"), col("created_at"))
        .orderBy(col("event_id"))
    }),

    "f5_parse_rating" -> ((s, dir) => {
      // "4.0 分 (共 5 分)" parse (reference tripadvisor rating clean)
      val e = t(s, dir, "events")
      e.withColumn("rating_raw",
          format_string("%.1f 分 (共 5 分)", (col("user_id") % 50) / lit(10.0d)))
        .withColumn("rating", ColFns.parseRating(col("rating_raw")))
        .select(col("event_id"), col("rating_raw"), col("rating"))
        .orderBy(col("event_id"))
    }),

    "f7_roc_year" -> ((s, dir) => {
      // "104(2015)" ROC year extraction (reference taipei visitors)
      t(s, dir, "orders")
        .withColumn("roc_raw", concat(
          (year(col("o_orderdate")) - 1911).cast(StringType),
          lit("("), year(col("o_orderdate")).cast(StringType), lit(")")))
        .withColumn("year", ColFns.rocYear(col("roc_raw")))
        .select(col("o_orderkey"), col("roc_raw"), col("year"))
        .orderBy(col("o_orderkey"))
    }),

    "f8_delim_normalize" -> ((s, dir) => {
      // " • "-delimited multi-value normalize to comma string (reference
      // tripadvisor categories clean); bullet list synthesized from p_type
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_replace(regexp_replace(col("p_type"), " ", " • "),
            "\\s*•\\s*", ",").as("type_csv"))
        .orderBy(col("p_partkey"))
    }),

    "f12_filename_parse" -> ((s, dir) => {
      // filename → field parse via input_file_name (reference
      // fb_scraper/normalization.py:8-13: place+date from csv name).
      // Files land under r_name=<value>/ dirs; the glob defeats partition
      // discovery so the value genuinely comes from the path string.
      val out = tmpDir("f12_files")
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").partitionBy("r_name").json(out)
      s.read.schema(StructType(Seq(StructField("r_regionkey", LongType))))
        .json(s"$out/r_name=*")
        .withColumn("place",
          url_decode(regexp_extract(input_file_name(), "r_name=([^/]+)/", 1)))
        .select(col("place"), col("r_regionkey"))
        .orderBy(col("place"))
    }),

    "f9_date_parts" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          ColFns.quarterCase(month(col("o_orderdate"))).as("q_case"))
        .orderBy(col("o_orderkey"))
    }),

    "f13_split_ym" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("ym", date_format(col("ts"), "yyyy-MM"))
        .select(col("event_id"), col("ym"),
          split(col("ym"), "-").getItem(0).cast(IntegerType).as("y"),
          split(col("ym"), "-").getItem(1).cast(IntegerType).as("m"))
        .orderBy(col("event_id"))
    }),

    "fj_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .orderBy(col("event_id"))
    }),

    // ---- time buckets / sessionization ---------------------------------
    "t1_time_bucket" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("bucket"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("bucket"))
    }),

    "t7_interval_merge" -> ((s, dir) => {
      // gaps-and-islands: each event opens a 10-min presence interval;
      // overlapping intervals merge into islands (classic interval
      // union — one keyed window pass, no self-join). Reports per-user
      // island count and total covered seconds.
      val w = Window.partitionBy(col("user_id")).orderBy(col("st"))
      val iv = t(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("st"))
        .distinct()
        .withColumn("en", col("st") + 600)
      val isl = iv
        .withColumn("max_prev_en",
          max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("max_prev_en").isNull ||
            col("st") > col("max_prev_en"), 1L).otherwise(0L))
        .withColumn("island", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      isl.groupBy(col("user_id"), col("island"))
        .agg(min(col("st")).as("ist"), max(col("en")).as("ien"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("ien") - col("ist")).as("covered_s"))
        .orderBy(col("user_id"))
    }),

    "t6_gap_detection" -> ((s, dir) => {
      // downtime detection: consecutive-event gaps over 10 min per
      // stream (lag window — the monitoring dual of sessionization:
      // t2 groups activity, this reports the silences)
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"))
      t(s, dir, "events").select(col("event_type"), col("ts"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
        .filter(col("prev").isNotNull && col("gap_s") > 600)
        .select(col("event_type"),
          date_format(col("prev"), "yyyy-MM-dd HH:mm:ss").as("gap_start"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("gap_end"),
          col("gap_s"))
        .orderBy(col("event_type"), col("gap_start"))
    }),

    "f18_normalize_text" -> ((s, dir) => {
      // the composed normalization ingest applies unconditionally:
      // lowercase → accent fold → whitespace collapse → trim
      // (idempotent, property-tested); here over synthesized messy
      // strings
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          concat(lit("  CAFÉ  "), col("n_name"), lit("   à  CÔTÉ "))
            .as("raw"))
        .withColumn("norm",
          graft.functions.ColFns.normalizeText(col("raw")))
        .orderBy(col("n_nationkey"))
    }),

    "f17_accent_fold" -> ((s, dir) => {
      // latin accent folding + control-strip ahead of dedup hashing
      // (café/cafe must collide) — explicit translate table, engine-
      // portable (ColFns.foldAccents)
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          concat(lit("Café "), col("n_name"),
            lit(" à l'Élysée û")).as("raw"))
        .withColumn("folded",
          graft.functions.ColFns.foldAccents(col("raw")))
        .orderBy(col("n_nationkey"))
    }),

    "t4_dense_spine" -> ((s, dir) => {
      // dense hourly spine with zero-fill: a sequence() spine per key
      // left-joined to observed buckets — the gap-fill every
      // time-series rollup needs (missing hours must EXIST with 0, not
      // be silently absent). Spine cardinality = key × hours, tiny next
      // to the fact side at any scale.
      val e = t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
      val counts = e.groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n_events"))
      val spine = e.groupBy(col("event_type"))
        .agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
            .as("hour"))
      spine.join(counts, Seq("event_type", "hour"), "left")
        .select(col("event_type"),
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    "t5_ohlc_bars" -> ((s, dir) => {
      // OHLC time bars: open/high/low/close + volume per (event_type,
      // hour) — min_by/max_by over a (ts, event_id) struct picks the
      // first/last observation without a second window pass; ties are
      // impossible (event_id unique). One hash aggregation, the shape a
      // 100 TB tick rollup wants (no sort, no window state).
      val e = t(s, dir, "events")
        .withColumn("hour", date_trunc("hour", col("ts")))
        .withColumn("ord", struct(col("ts"), col("event_id")))
      e.groupBy(col("event_type"),
          date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("bar"))
        .agg(min_by(col("value"), col("ord")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ord")).as("close"),
          count(lit(1)).as("n_ticks"),
          dsum(col("value")).as("volume"))
        .orderBy(col("event_type"), col("bar"))
    }),

    "t2_sessionize" -> ((s, dir) => {
      // gap>30min session split per user: lag + cumulative flag sum
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .withColumn("prev_sec", lag(unix_timestamp(col("ts")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_sec").isNull ||
            unix_timestamp(col("ts")) - col("prev_sec") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "t3_session_window" -> ((s, dir) => {
      // Spark's native session_window (gap-merge sessionization) —
      // same 30-min-gap semantics as the lag+cumsum t2 formulation*,
      // renumbered to ordinal session ids by window start so the two
      // share an oracle. (*boundary note: session_window closes a
      // session at gap >= 30min vs t2's > 30min; the event stream has
      // sub-second timestamps, so exact-1800s gaps don't occur, and the
      // oracle compare would flag it if they ever did.)
      val e = t(s, dir, "events")
      val sessions = e
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("session_window.start"))
      sessions
        .withColumn("session_id", row_number().over(w).cast(LongType))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- LLM-pipeline: dedup (x1..x5) ----------------------------------
    "x1_dedup_exact" -> ((s, dir) => {
      Dedup.exactByHash(t(s, dir, "documents"),
          col("doc_id"), ColFns.fingerprint(col("text")))
        .orderBy(col("content_hash"))
    }),

    "x81_softdedup_weights" -> ((s, dir) => {
      // duplication-aware loss weighting — the KEEP-but-downweight
      // alternative to dropping duplicates (soft dedup): every doc in
      // an exact-dup cluster of size n trains at weight 1/n, so the
      // cluster contributes one document's worth of gradient without
      // the hard cut losing its (possibly best) copy. One hash
      // aggregation + a broadcast-sized join back on the hash; total
      // corpus weight = number of distinct contents, asserted by the
      // oracle
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          ColFns.fingerprint(col("text")).as("content_hash"))
      val sizes = docs.groupBy(col("content_hash"))
        .agg(count(lit(1)).as("n_dups"))
      docs.join(sizes, Seq("content_hash"))
        .select(col("doc_id"),
          col("n_dups"),
          round(lit(1.0d) / col("n_dups"), 6).as("weight"))
        .orderBy(col("doc_id"))
    }),

    "x2_minhash_lsh_pairs" -> ((s, dir) => {
      // MinHash+LSH candidate gen (no SQL oracle: LSH banding) with
      // exact-Jaccard verification
      Dedup.minhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x3_simhash_bands" -> ((s, dir) => {
      // portable 60-bit simhash (md5-derived token hashes) so the
      // fingerprint — not just the row count — is oracle-checkable
      Dedup.simhashBands60(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"), col("band"))
    }),

    "x20_simhash_neardups" -> ((s, dir) => {
      // full simhash dedup path: bands → candidates → Hamming≤3 pairs.
      // Banding catches every pair at this threshold (pigeonhole), so
      // the whole pipeline is hash-checked, not just the fingerprint.
      Dedup.simhashNearDups60(t(s, dir, "documents"), col("doc_id"),
          col("text"), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x22_neardup_components" -> ((s, dir) => {
      // near-dup pairs → connected components → canonical election:
      // the decision step of the dedup pipeline. Components from
      // min-label propagation with automatic large-star/small-star
      // degradation on adversarial diameters (connectedComponentsAuto
      // — a chain-shaped match graph degrades instead of throwing);
      // oracle recomputes them with a recursive CTE over the same
      // (oracle-checked) x20 edge set.
      val pairs = Dedup.simhashNearDups60(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 3)
      Dedup.connectedComponentsAuto(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(col("id")).as("canonical_id"))
        .orderBy(col("component"))
    }),

    "x51_cc_star" -> ((s, dir) => {
      // the SAME clustering as x22 computed by the large-star/small-
      // star algorithm (Dedup.connectedComponentsStar) — identical
      // oracle, so the O(log^2 n) adversarial-diameter path is pinned
      // to the min-label result on driver data, not just in specs
      val pairs = Dedup.simhashNearDups60(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 3)
      Dedup.connectedComponentsStar(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(col("id")).as("canonical_id"))
        .orderBy(col("component"))
    }),

    "x52_semantic_dedup" -> ((s, dir) => {
      // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
      // 2303.09540): cluster embeddings into cells (x45's exact
      // integer argmin), score cosine pairs WITHIN cells only (the
      // x46 blocked pair space — O(n²) divides by the cell count),
      // connect pairs above threshold into components, keep one
      // representative per component (min id). Singletons are their
      // own component and are kept. Output is the full per-vector
      // dedup decision table a corpus cut consumes downstream.
      //
      // Cell count SCALES WITH THE CORPUS (k = ⌈n/250⌉, floor 8): a
      // fixed k makes within-cell pair counts quadratic in corpus
      // growth — the sf1 rehearsal measured the fixed-k=8 variant at
      // 7.7 s for 10× data (~25M pairs) vs linear-shape expectations.
      // The formula is replicated verbatim in the DuckDB oracle, and
      // at sf0.01/sf0.1 it still resolves to k=8, so the oracle rows
      // and bench continuity are unchanged.
      val embAll = t(s, dir, "embeddings")
      val k = math.max(8L, math.ceil(embAll.count() / 250.0).toLong).toInt
      val cells = Similarity.assignCells(embAll,
          "vec_id", "embedding", k = k)
        .withColumn("nrm",
          graft.functions.VectorExprs.norm(col("embedding")))
        // both sides of the within-cell self-join — one assignment pass
        .localCheckpoint(true)
      val pairs = cells.as("a")
        .join(cells.as("b"), col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos_sim",
          graft.functions.VectorExprs.dot(
            col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cos_sim") > 0.40)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      val comps = Dedup.connectedComponentsAuto(pairs)
        .withColumnRenamed("id", "vec_id")
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(comps, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
        .withColumn("keep",
          (col("vec_id") === col("component")).cast("int"))
        .orderBy(col("vec_id"))
    }),

    "x28_multisignal_dedup" -> ((s, dir) => {
      // multi-signal dedup decision: TEXT near-dup edges (simhash
      // Hamming ≤ 3) unioned with EMBEDDING near-dup edges (cosine >
      // 0.40 — semantic dups text hashing can't see), connected
      // components over the combined evidence, canonical per cluster.
      // This is the end-to-end shape of a production dedup pass: every
      // signal contributes edges, the clustering decides once.
      val textEdges = Dedup.simhashNearDups60(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 3).select("id_a", "id_b")
      val vecEdges = Dedup.cosinePairs(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), threshold = 0.40)
        .select("id_a", "id_b")
      val edges = textEdges.union(vecEdges).distinct()
      Dedup.connectedComponentsAuto(edges)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("canonical_id"))
        .orderBy(col("component"))
    }),

    "x23_dedup_keep_canonical" -> ((s, dir) => {
      // the pipeline's final cut: drop every cluster member except its
      // canonical (min-id) doc; singleton docs pass through untouched
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
        maxHamming = 3)
      val drop = Dedup.connectedComponentsAuto(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      docs.select(col("doc_id")).join(drop, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }),

    "x41_incremental_components" -> ((s, dir) => {
      // incremental clustering maintenance: day-1 corpus clusters once
      // (80% of docs), the new day's edges fold into the standing
      // labels via star-edge propagation — same labels as a full
      // recompute (the oracle), per-ingest cost
      val docs = t(s, dir, "documents")
      val all = Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
        maxHamming = 3).select(col("id_a"), col("id_b"))
      val old = all.filter(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
      val fresh = all.filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      Dedup.connectedComponentsIncremental(
          Dedup.connectedComponentsAuto(old), fresh)
        .orderBy(col("id"))
    }),

    "x45_kmeans_step" -> ((s, dir) => {
      // one exact-arithmetic Lloyd iteration: vectors quantize to
      // ×1e7 longs, L2² distances are exact integer sums (argmin can
      // never flip on float ulps — ties break by centroid id), new
      // centroids re-accumulate fixed-point (x44). Seeds = the first
      // k vectors. Broadcast centroids × one scan: the canonical
      // distributed k-means step, made engine-reproducible.
      val best = Similarity.assignCells(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8)
        .withColumn("qv", Similarity.quantize1e7(col("embedding")))
      best.select(col("cid"), posexplode(col("qv")).as(Seq("dim", "q")))
        .groupBy(col("cid"), col("dim"))
        .agg(count(lit(1)).as("n_members"), sum(col("q")).as("s"))
        .select(col("cid"), col("dim"), col("n_members"),
          round(col("s").cast(DoubleType) / (col("n_members") * 1e7d), 5)
            .as("centroid"))
        .orderBy(col("cid"), col("dim"))
    }),

    "x44_cluster_centroids" -> ((s, dir) => {
      // per-cluster embedding centroids with fixed-point accumulation
      // (explicit half-up ×1e7 → exact long sums — order-independent
      // and engine-identical where float summation is neither): the
      // IVF-training / semantic-dedup reduction, grouped by label
      val e = t(s, dir, "embeddings")
      val q = floor(col("v").cast(DoubleType) * 1e7d + 0.5d).cast("long")
      e.select(col("label").as("cluster"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("q", q)
        .groupBy(col("cluster"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
        .select(col("cluster"), col("dim"),
          round(col("s").cast(DoubleType) / (col("n") * 1e7d), 5)
            .as("centroid"))
        .orderBy(col("cluster"), col("dim"))
    }),

    "x40_keep_best_quality" -> ((s, dir) => {
      // canonical election by QUALITY, not min-id: each near-dup
      // cluster keeps its longest member (ties → smaller id) — the
      // dedup cut that preserves the best copy instead of the
      // earliest; one extra window over the (tiny) component table
      val docs = t(s, dir, "documents")
      val comps = Dedup.connectedComponentsAuto(
        Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
          maxHamming = 3))
      val ranked = comps.join(
        docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      val byComp = Window.partitionBy(col("component"))
      ranked
        .withColumn("rn", row_number().over(
          byComp.orderBy(col("n_chars").desc, col("id").asc)))
        .withColumn("n_members", count(lit(1)).over(byComp))
        .filter(col("rn") === 1)
        .select(col("component"), col("id").as("canonical_id"),
          col("n_chars").as("canonical_chars"), col("n_members"))
        .orderBy(col("component"))
    }),

    "x4_ngram_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 1000), col("doc_id"),
          col("text"), threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x4b_ngram_jaccard_dfcut" -> ((s, dir) => {
      // the 100 TB form of x4: stop-shingles (df > cutoff) dropped from
      // candidate generation — the postings join's only quadratic skew —
      // while Jaccard still verifies EXACTLY over the full shingle sets
      Dedup.ngramJaccardPairsDfCut(
          t(s, dir, "documents").filter(col("doc_id") < 1000), col("doc_id"),
          col("text"), threshold = 0.8, maxDocFreq = 50L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x5_embed_cosine_pairs" -> ((s, dir) => {
      Dedup.cosinePairs(t(s, dir, "embeddings"), col("vec_id"),
          col("embedding"), threshold = 0.40)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x46_blocked_cosine_pairs" -> ((s, dir) => {
      // x5's documented scale path made concrete: embeddings block
      // into centroid cells (the x45 exact integer argmin) and the
      // O(n²) cosine verify runs WITHIN cells only — pair space
      // divides by the cell count; cross-cell near-dups are the
      // recall trade every blocked/IVF scheme makes
      // norms once per row, native codegen'd dot per pair (the
      // cosinePairs discipline — the composed-HOF cosine is ~25×
      // slower across a cell's quadratic pair space)
      //
      // cell count scales with the corpus (same ⌈n/250⌉-floor-8 rule
      // and rationale as x52 — fixed k makes pair counts quadratic in
      // corpus growth; k resolves to 8 at sf0.01/sf0.1 so oracle rows
      // are unchanged); formula replicated in the DuckDB oracle
      val embAll46 = t(s, dir, "embeddings")
      val k46 = math.max(8L,
        math.ceil(embAll46.count() / 250.0).toLong).toInt
      val cells = Similarity.assignCells(embAll46,
          "vec_id", "embedding", k = k46)
        .withColumn("nrm",
          graft.functions.VectorExprs.norm(col("embedding")))
      cells.as("a")
        .join(cells.as("b"), col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos_sim",
          graft.functions.VectorExprs.dot(
            col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cos_sim") > 0.40)
        .select(col("a.cid").as("cell"), col("a.vec_id").as("id_a"),
          col("b.vec_id").as("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- LLM-pipeline: similarity search (x6..x7) ----------------------
    "x6_ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "x7_ann_lsh_topk" -> ((s, dir) => {
      // 4-plane × 8-table OR-amplified sign LSH: the driver's synthetic
      // embeddings are weakly similar (top-1 cos ≈ 0.38 → ~68° angles),
      // so short sketches + many tables is the right operating point.
      // The hyperplane sketch isn't expressible in the SQL oracle, so
      // the gate checks the QUALITY CONTRACT instead (the a4 pattern):
      // recall@5 vs the exact brute-force top-k, computed in-query,
      // asserted against a bound with margin (measured macro recall
      // 0.76 at sf0.01; bound 0.6).
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val lsh = Similarity.lshTopK(q, emb, "vec_id", "embedding",
        k = 5, planes = 4, tables = 8)
      annRecallContract(lsh, q, emb, bound = 0.6, flag = "recall_ge_06")
    }),

    "x15_ann_ivf_topk" -> ((s, dir) => {
      // IVF cell-probing ANN at nprobe=4 of nlist=16 (x15b pins the
      // same code path against the exact oracle at nprobe=nlist). Like
      // x7, the approximate operating point is gated on its recall
      // contract vs brute force (measured macro recall 0.56 at sf0.01;
      // bound 0.4).
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      annRecallContract(ivf, q, emb, bound = 0.4, flag = "recall_ge_04")
    }),

    "x76_ivf_incremental" -> ((s, dir) => {
      // incremental ANN index maintenance: centroids train on the
      // standing 90% of the corpus; the newest 10% is admitted by
      // ASSIGNMENT ONLY (one broadcast argmax over just the batch —
      // Similarity.ivfAssign), then search runs over the accreted
      // index. The x32/x41 incremental discipline applied to vectors:
      // per-ingest cost is O(|batch|), no retrain, no corpus rescan.
      // Incremental-assign ≡ full-rebuild-assign per row (proven
      // exactly in Round10Spec); here the driver gates the recall
      // contract vs brute over the FULL corpus (x15's bound)
      val emb = t(s, dir, "embeddings")
      val historic = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val cents = Similarity.ivfTrain(historic, "vec_id", "embedding",
        nlist = 16)
      val index = Similarity.ivfAssign(historic, "vec_id", "embedding",
        cents).unionByName(
        Similarity.ivfAssign(batch, "vec_id", "embedding", cents))
      val q = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfSearchAssigned(q, "vec_id", "embedding",
        index, cents, k = 5, nprobe = 4)
      annRecallContract(ivf, q, emb, bound = 0.4, flag = "recall_ge_04")
    }),

    "x15b_ann_ivf_exact" -> ((s, dir) => {
      // the SAME IVF operator at nprobe=nlist: every cell probed →
      // provably exact → shares the brute-force DuckDB oracle, so the
      // assignment/probe/score machinery itself is hash-checked
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    }),

    "x53_pq_ann_topk" -> ((s, dir) => {
      // Product quantization (8 subspaces × 16 codewords over the 64-d
      // embeddings = 8 codes/vector, 32× smaller than float32), two
      // Lloyd refinement steps, ADC shortlist-200 → exact rerank (the
      // standard two-stage PQ pipeline). Like x7/x15 the codebooks
      // aren't SQL-expressible, so the gate is the recall contract vs
      // the exact L2 top-k. Operating point chosen by a measured sweep
      // (Scratch `pq_recall`): trainIters×rerank ∈ {1,2,3}×{50,100,200}
      // gives 0.64→0.96 at sf0.01; (2, 200) measures 0.96 at sf0.01 and
      // 0.98 at sf0.001, so the 0.8 bound carries real margin. The
      // rerank stage stays O(|q|·200) exact scores — vanishing vs the
      // corpus at any scale.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(q, emb, "vec_id", "embedding",
        k = 5, m = 8, ksub = 16, trainIters = 2, rerank = 200)
      val exact = Similarity.bruteTopKL2(q, emb, "vec_id", "embedding", 5)
      exact.as("b").join(pq.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .groupBy(col("b.query_id"))
        .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
          .as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= lit(0.8d)).as("recall_ge_08"))
    }),

    "x53b_pq_exact" -> ((s, dir) => {
      // the SAME PQ machinery with ksub = |corpus| (every subvector its
      // own codeword) → ADC sums are exact integer L2², so encode /
      // distance-table / ADC-join are hash-checked against the DuckDB
      // brute-force fixed-point oracle (the x15b pattern).
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, m = 8,
          ksub = emb.count().toInt, trainIters = 0)
        .orderBy(col("query_id"), col("rank"))
    }),

    "x88_ivfpq_topk" -> ((s, dir) => {
      // IVF+PQ composed (FAISS-style IVFPQ): coarse cells prune the
      // scan, PQ codes quantize the RESIDUAL vec − centroid — the
      // production 100 TB vector-index layout. Gate = recall contract
      // vs exact L2 top-k (the x53 pattern). Operating point chosen by
      // a recorded sweep: (nprobe, rerank, pqIters) ∈ {8,12}×{100,200}
      // ×{1,2} measures 0.82–0.94; (12, 200, 1) gives 0.94 at BOTH
      // sf0.001 and sf0.01, so the 0.8 bound carries real margin
      // (nprobe=8/rerank=100 passed at exactly 0.80–0.82 — too thin).
      // nprobe/nlist = 75% is a tiny-corpus artifact (16 cells × ~30
      // vectors); at real scale nlist grows with the corpus and the
      // probed fraction drops to a few percent while rerank stays
      // O(|q|·200).
      //
      // Round-6 realistic-probed-fraction sweep (derived sf1 lake,
      // 20k vectors, Scratch `ivfpq_sweep`): nlist=64/nprobe=8
      // (12.5% probed) recall 0.32–0.44; nlist=128/nprobe=8 (6.3%)
      // 0.28; rerank 200→2000 does NOT recover it, and probing EVERY
      // cell caps at 0.90 — the loss is probing, not the shortlist.
      // Cause, measured: this corpus's relative contrast is ≈ 1.3
      // (x93_ann_difficulty; shifted-copy synthetic vectors are
      // near-uniform), so neighbors scatter across cells and no
      // coarse quantizer can prune it — He et al.'s concentration
      // regime, not an IVFPQ defect. The library's answer is the x93
      // preflight: ivf_prunable=false routes to the exact scan
      // (x6/x71) or nprobe→nlist; the IVF scale path is claimed for
      // clustered corpora (RC ≫ 1), which real embedding models
      // produce. The oracle-scale gate here stays valid: at 2k
      // vectors the (12, 200) point probes+reranks near-exhaustively,
      // which is exactly why it holds despite low contrast.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ann = Similarity.ivfpqTopK(q, emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 12, m = 8, ksub = 16,
        coarseIters = 1, pqIters = 1, rerank = 200)
      val exact = Similarity.bruteTopKL2(q, emb, "vec_id", "embedding", 5)
      exact.as("b").join(ann.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .groupBy(col("b.query_id"))
        .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
          .as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= lit(0.8d)).as("recall_ge_08"))
    }),

    "x92_ivfpq_incremental" -> ((s, dir) => {
      // incremental IVFPQ maintenance (x76's discipline for the
      // composed index): the index DEFINITION — centroids + residual
      // codebook, a few KB — trains on the standing 90%; the newest
      // 10% is admitted by ENCODE ONLY (one broadcast assign + one
      // codebook argmin over just the batch, O(|batch|·m) — no
      // retrain, no corpus rescan); search runs over the accreted
      // code table with exact rerank. Same measured operating point
      // and recall gate as x88, vs exact L2 over the FULL corpus.
      val emb = t(s, dir, "embeddings")
      val historic = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val (cents, cb, histEnc) = Similarity.ivfpqTrainEncode(
        historic, "vec_id", "embedding", nlist = 16, m = 8,
        ksub = 16, coarseIters = 1, pqIters = 1)
      val index = histEnc
        .unionByName(Similarity.ivfpqEncode(batch, "vec_id", "embedding",
          cents, cb))
      val q = emb.filter(col("vec_id") < 10)
      val ann = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
        index, cents, cb, k = 5, nprobe = 12, rerank = 200,
        rerankSource = Some(emb))
      val exact = Similarity.bruteTopKL2(q, emb, "vec_id", "embedding", 5)
      exact.as("b").join(ann.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .groupBy(col("b.query_id"))
        .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
          .as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= lit(0.8d)).as("recall_ge_08"))
    }),

    "x93_ann_difficulty" -> ((s, dir) => {
      // the index-build go/no-go preflight (He et al. 2012 relative
      // contrast — see Similarity.annDifficulty): RC per probe query,
      // with the ivf_prunable verdict a pipeline consults BEFORE
      // paying for an IVF/IVFPQ build. On this synthetic corpus the
      // verdict is false everywhere (RC ≈ 1.2-1.3: near-uniform
      // vectors — the round-6 sf1 sweep measured exactly the recall
      // collapse that predicts); on clustered real-model embeddings
      // RC ≫ 1 and the flag flips (Round12Spec pins both directions
      // on constructed corpora). Honest-negative pane: the point is
      // that the engine MEASURES prunability instead of assuming it.
      val emb = t(s, dir, "embeddings")
      Similarity.annDifficulty(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"))
    }),

    "x93b_ann_auto" -> ((s, dir) => {
      // the RC-gated router end-to-end (Similarity.annTopKAutoSized): on
      // this corpus the preflight measures NOT prunable (x93's pane),
      // so the route is the exact fixed-point scan — which is why the
      // oracle is the shared brute replay. The IVFPQ branch and the
      // gate's other direction are exercised by Round12Spec on a
      // clustered corpus. The point under test: the engine picks the
      // plan from a measurement, not from hope.
      val emb = t(s, dir, "embeddings")
      Similarity.annTopKAutoSized(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5).result
        .orderBy(col("query_id"), col("rank"))
    }),

    "x112_clustered_route" -> ((s, dir) => {
      // the router's IVFPQ branch, ORACLED (x93b covers only the
      // exact branch — the driver embeddings honestly measure not
      // prunable, so the branch a clustered production lake would
      // take needs a corpus with known structure): the deterministic
      // hash-grid blob lake (Similarity.hashBlobLake — RC ≈ 50, the
      // regime real embedding models produce) routed through
      // annTopKAutoSized with the SIZED rerank default
      // (Similarity.rerankFor: nprobe × n/nlist × 1.5 — the flat
      // rerank=200 this replaces collapses recall to 0.638 at
      // 312-vector cells, measured; Round15Spec pins the negative
      // control at 20k). The pane publishes the route actually taken
      // (from the router's own vote), recall vs the exact twin, and
      // the contract bits; the oracle pins route = 'ivfpq', recall =
      // 1.0 at probed fraction 0.125 ≤ 0.25, rerank = 375, so a
      // routing or recall regression hash-mismatches rather than
      // degrading silently. Corpus size is FIXED (not sf-scaled):
      // the contract is a property of the operating point
      // (n, nlist, nprobe, rerank), pinned at the measured 2k row of
      // the SCALE.md rehearsal; the 20k row lives in Round15Spec.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      // annTopKAutoSized so the pane's rerank/probed columns publish
      // the router's OWN resolved knobs — the round-8 form re-derived
      // rerankFor in parallel, which would have stayed green even if
      // the router stopped calling it (VERDICT r8 #3); now every
      // sizing column is witnessed, same constants oracled
      val r = Similarity.annTopKAutoSized(q, lake,
        "vec_id", "embedding", k, nlist = nlist, nprobe = nprobe)
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(r.result.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(r.route).as("route"), lit(n).as("n_corpus"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"),
          round(lit(r.nprobe.toDouble / r.nlist), 4).as("probed_frac"),
          lit(r.nprobe.toDouble / r.nlist <= 0.25d).as("probed_le_025"),
          lit(r.rerank.toLong).as("rerank"))
    }),

    "x112b_default_route" -> ((s, dir) => {
      // the ALL-DEFAULTS router path, oracled (x112 pins an explicit
      // measured operating point; THIS is the call a production
      // caller actually makes — no knobs, geometry and rerank sized
      // from the corpus by nlistFor/nprobeFor/rerankFor): on the 2k
      // clustered lake the sized defaults are nlist=32, nprobe=4
      // (12.5% probed), rerank=375, measured recall 1.000 (SCALE.md
      // round-8 geometry table). The pane pins route + the recall
      // contract; Round15Spec additionally runs this path with the
      // branch assertion. Between x112 (explicit point, full sizing
      // pane) and x112b (defaults), both ends of the router's API
      // are hash-checked.
      val n = 2000L; val k = 5
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val r = Similarity.annTopKAutoSized(q, lake,
        "vec_id", "embedding", k)
      val (route, routed) = (r.route, r.result)
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(routed.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(route).as("route"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x113_standing_ann_search" -> ((s, dir) => {
      // the STANDING ANN-index ledger searched end-to-end (the
      // x97b/x104b amortization applied to the index tier — x112
      // still pays preflight + train + encode inside the query; a
      // production vector store builds the index once per (lake,
      // recipe) and every query batch probes standing state): the
      // clustered lake's IVFPQ index persists via VersionedState
      // (cents + codebook = the KB definition; encoded = the corpus
      // at ~m bytes/vector — the only corpus-sized part, and the
      // 100× compression is the point at 100 TB), exists-guarded so
      // the first caller builds and every later caller pays read +
      // probe + rerank only. Version string pins the full quantizer
      // recipe (annIndexVersion — a codebook read under a different
      // m would ADC-score garbage, so the mismatch fails fast
      // instead). Search uses the rerankFor-sized pool; the oracle
      // pins version, recall = 1.0 vs the exact twin, and the
      // encoded-state size, so index persistence, versioning, AND
      // search quality are all hash-checked. Deterministic train +
      // fixed-point arithmetic make ledger-fed == fresh-built
      // bit-for-bit (Round15Spec pins it).
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val (cents, codebook, encoded) = standingAnnIndex(s,
        Similarity.hashBlobLakeKey(n), lake, nlist, m = 8, ksub = 16)
      annIndexPane(lake, cents, codebook, encoded, n, nlist, nprobe,
        k, m = 8, ksub = 16)
    }),

    "st23_stream_ann_ingest" -> ((s, dir) => {
      // x113's STREAMING TWIN — the index riding ingest (x92's
      // incremental-encode discipline + the st19 batchId-partition
      // idempotence, composed with the standing-definition form):
      // the IVFPQ DEFINITION (cents + codebook) is trained once and
      // frozen; embedding micro-batches then encode against it —
      // pure per-row functions of (vector, definition), so a batch's
      // encoded rows are byte-identical on redelivery and dynamic
      // partition overwrite confines replay to `__bid=<batchId>`.
      // Because encode is per-row and batches partition the lake,
      // the ASSEMBLED ledger equals the batch-built x113 state
      // exactly for ANY stream split — the pane shares x113's oracle
      // verbatim (the st18/st20/st21/st22 invariance discipline, now
      // on the index tier). Production shape: train the definition on
      // an initial load, let every ingest batch pay O(|batch|·m) to
      // join the standing index, search consumers read the accreted
      // state — the 100 TB corpus never re-encodes.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val m = 8; val ksub = 16 // ONE geometry definition for the
      // stream producer and the pane consumer — independent
      // hardcodings are the silent-mismatch class annIndexVersion
      // exists to kill
      val (lake, cents, codebook, encoded) =
        graft.streaming.Streams.streamAnnIngest(s, n, nlist, m, ksub,
          splitFiles = 4)
      annIndexPane(lake, cents, codebook, encoded, n, nlist, nprobe,
        k, m, ksub)
    }),

    "x116_index_drift" -> ((s, dir) => {
      // the standing-index LIFECYCLE close-out (VERDICT r8 #1): the
      // geometry-drift advisor's BOTH branches on the deterministic
      // lake — the x106 (tokenizer drift) / x61 (source drift)
      // canary-liveness rule applied to the index tier. Scenario a:
      // the ledger holds exactly the population its geometry was
      // sized for (nlistFor(2000) = 32 < 2×32) → no rebuild.
      // Scenario b: the SAME frozen definition has accreted 10× (the
      // st23 ingest shape run long enough) → nlistFor(20000) = 512 ≥
      // 2×32 and the trigger FIRES — recall would still hold
      // (rerankFor scales the pool with n) but per-query cost grows
      // with occupancy, which is exactly what the advisor surfaces
      // before it compounds. The advisor reads ONLY encoded ledger
      // state (KB-per-cell aggregation), never the corpus; sizing
      // arithmetic lives in nlistFor alone (no parallel SQL
      // re-derivation — the x112 witnessing discipline).
      val n0 = 2000L
      val nl0 = Similarity.nlistFor(n0) // 32 — sized at build time
      val lake0 = Similarity.hashBlobLake(s, n0).localCheckpoint(true)
      val (cents, codebook, enc0) = standingAnnIndex(s,
        Similarity.hashBlobLakeKey(n0), lake0, nl0, m = 8, ksub = 16)
      val encNow = Similarity.ivfpqEncode(
        Similarity.hashBlobLake(s, 20000L), "vec_id", "embedding",
        cents, codebook, m = 8)
      def row(scenario: String, enc: DataFrame) =
        Similarity.indexGeometryDrift(enc, nl0)
          .select(lit(scenario).as("scenario"), col("n_now"),
            col("n_cells_occupied"), col("mean_occ"), col("max_occ"),
            col("trained_nlist"), col("sized_nlist_now"),
            col("rebuild_recommended"))
      row("a_steady_2k", enc0)
        .unionByName(row("b_accreted_20k", encNow))
        .orderBy(col("scenario"))
    }),

    "x117_sharded_ann" -> ((s, dir) => {
      // the ABOVE-THE-CLAMP sharding seam, executable (VERDICT r8
      // #2): nlistFor clamps at 65536 cells, and past the clamp a
      // deployment splits the corpus by id hash into annShardsFor(n)
      // independent standing indexes — each shard re-enters the
      // sized regime, builds parallelize, and search is per-shard
      // probe + a k·shards-row merge (ivfpqMergeTopK — never
      // data-grain). Two shards exercised here at test scale
      // (annShardsFor stays 1 until ~268M vectors); each shard gets
      // its OWN ledger (shard key in the path — the lakeKey identity
      // discipline), its own sized geometry nlistFor(n_shard), and
      // its own rerankFor pool. The pane pins shard count, per-shard
      // sizing, and merged recall vs the UNSHARDED exact twin;
      // Round16Spec additionally pins merged == single-index search
      // as row equality.
      val n = 2000L; val k = 5; val shards = 2
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val parts = (0 until shards).map { sh =>
        val part = lake.filter(
          Similarity.annShardKey(col("vec_id"), shards) === sh)
          .localCheckpoint(true)
        (sh, part, part.count())
      }
      val per = parts.map { case (sh, part, nSh) =>
        val nl = Similarity.nlistFor(nSh)
        val np = Similarity.nprobeFor(nl)
        val (cents, codebook, enc) = standingAnnIndex(s,
          s"${Similarity.hashBlobLakeKey(n)}-shard${sh}of$shards",
          part, nl, m = 8, ksub = 16)
        Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding", enc,
          cents, codebook, k, np, m = 8,
          rerank = Similarity.rerankFor(nSh, nl, np),
          rerankSource = Some(part))
      }
      val merged = Similarity.ivfpqMergeTopK(per, k)
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(merged.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(shards.toLong).as("n_shards"),
          lit(parts(0)._3).as("n_shard0"),
          lit(parts(1)._3).as("n_shard1"),
          lit(Similarity.nlistFor(parts(0)._3).toLong)
            .as("nlist_shard0"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x118_index_rebuild" -> ((s, dir) => {
      // the ACTION to x116's recommendation — the x108b/x109 "advisor
      // output is the action's input" discipline on the index tier: a
      // definition trained at the 500-vector sizing (nlistFor(500) =
      // 16) has accreted 4× to 2000; the drift advisor fires
      // (nlistFor(2000) = 32 ≥ 2×16), the rebuild retrains at the
      // advisor's OWN sized_nlist_now (collected from its pane — the
      // 1-row scalar decision idiom, witnessed not re-derived), and
      // the new index lands in a NEW versioned ledger (version and
      // path both move with the geometry, so the stale index can
      // never serve a consumer that names the new recipe). The pane
      // pins the full lifecycle: trigger fired → rebuilt version →
      // advisor quiet on the rebuilt state → search recall held.
      val lake0 = Similarity.hashBlobLake(s, 500L).localCheckpoint(true)
      val lakeNow = Similarity.hashBlobLake(s, 2000L)
        .localCheckpoint(true)
      val nl0 = Similarity.nlistFor(500L) // 16
      val (cents0, cb0, _) = standingAnnIndex(s,
        Similarity.hashBlobLakeKey(500L), lake0, nl0, m = 8, ksub = 16)
      val encStale = Similarity.ivfpqEncode(lakeNow, "vec_id",
        "embedding", cents0, cb0, 8)
      val before = Similarity.indexGeometryDrift(encStale, nl0)
        .select(col("sized_nlist_now"), col("rebuild_recommended"))
        .head()
      val fired = before.getBoolean(1)
      val sized = before.getLong(0).toInt
      // the action, taken because (and only because) the advisor said
      // so — on the quiet branch the stale index keeps serving (the
      // oracle pins fired = true, so a dead trigger hash-mismatches)
      val (cents1, cb1, enc1) =
        if (fired) standingAnnIndex(s,
          Similarity.hashBlobLakeKey(2000L), lakeNow, sized,
          m = 8, ksub = 16)
        else (cents0, cb0, encStale)
      val nlNew = if (fired) sized else nl0
      val after = Similarity.indexGeometryDrift(enc1, nlNew)
        .select((!col("rebuild_recommended")).as("rebuilt_quiet"))
      val q = Similarity.stratifiedProbes(lakeNow, "vec_id", 16)
        .localCheckpoint(true)
      val np = Similarity.nprobeFor(nlNew)
      val got = Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
        enc1, cents1, cb1, 5, np, m = 8,
        rerank = Similarity.rerankFor(2000L, nlNew, np),
        rerankSource = Some(lakeNow))
      val exact = Similarity.bruteTopKL2(q, lakeNow, "vec_id",
        "embedding", 5)
      exact.as("b").join(got.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(after, lit(true), "left") // 1-row pane join idiom
        .select(lit(nl0.toLong).as("stale_trained_nlist"),
          lit(sized.toLong).as("sized_nlist_now"),
          lit(fired).as("rebuild_fired"),
          lit(Similarity.annIndexVersion(nlNew, 8, 16))
            .as("rebuilt_version"),
          col("rebuilt_quiet"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "e2e_vector_store" -> ((s, dir) => {
      // the VECTOR-STORE tier end-to-end (VERDICT r8 #4) — the seams
      // the piecewise queries (st23 ingest, x113 search, x95 fusion)
      // each gate alone, composed the way a retrieval deployment
      // actually runs them: standing index (exists-guarded ledger,
      // shared with x113 — build once per (lake, recipe), every
      // consumer including this capstone pays read + probe only) →
      // sized IVFPQ search (dense branch) ⊕ SQ8 exact-cosine scan
      // (the calibration-free second branch) → reciprocal-rank
      // fusion → export-manifest pane with the drift guard and both
      // branch-liveness canaries (the x26 discipline: a fusion where
      // one branch silently died still emits rows — the canaries are
      // what make that a hash mismatch instead). Recall is audited
      // against the exact fixed-point twin at the fused grain.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 10
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val (cents, codebook, encoded) = standingAnnIndex(s,
        Similarity.hashBlobLakeKey(n), lake, nlist, m = 8, ksub = 16)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val dense = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", encoded, cents, codebook, k, nprobe, m = 8,
        rerank = Similarity.rerankFor(n, nlist, nprobe),
        rerankSource = Some(lake))
      val sq8 = Similarity.sq8TopK(q, lake, "vec_id", "embedding", k,
        shortlist = 50)
      def branch(df: DataFrame) = df.select(col("query_id"),
        col("neighbor_id").as("doc_id"), col("rank"))
      val fused = Similarity.rrfFuse(
        Seq("ivfpq" -> branch(dense), "sq8" -> branch(sq8)),
        topK = 5)
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", 5)
      val drift = Similarity.indexGeometryDrift(encoded, nlist)
        .select(col("rebuild_recommended"))
      exact.as("b").join(fused.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.doc_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.doc_id")).as("n_hit"))
        .join(fused.agg(
          countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_fused"),
          sum(when(col("rank_ivfpq") > 0, 1L).otherwise(0L))
            .as("n_from_ivfpq"),
          sum(when(col("rank_sq8") > 0, 1L).otherwise(0L))
            .as("n_from_sq8")), lit(true), "left") // 1-row pane joins
        .join(drift, lit(true), "left")
        .select(
          lit(Similarity.annIndexVersion(nlist, 8, 16)).as("version"),
          col("n_queries"), col("n_fused"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_fused_at5"),
          (col("n_from_ivfpq") > 0L).as("branch_ivfpq_live"),
          (col("n_from_sq8") > 0L).as("branch_sq8_live"),
          col("rebuild_recommended"))
    }),

    "x119_ann_forget" -> ((s, dir) => {
      annForgetPane(s, "-forget",
        (p, ids) => Similarity.annForget(p, ids))
    }),

    "st24_stream_forget" -> ((s, dir) => {
      // x119's STREAMING TWIN — deletion rides the stream: the same
      // adversarial tombstone set (each probe's exact rank-1
      // neighbor) arrives as CDC delete events in 2 micro-batches,
      // each folding via annForget directly — tombstone append is
      // replay-idempotent BY ALGEBRA (append + distinct-on-read, the
      // st16 no-guard class), so the assembled set equals the batch
      // append for ANY split and st24 shares x119's oracle VERBATIM
      // (the batching-invariance discipline on the delete path). Own
      // ledger key so the twins' standing state never interferes.
      annForgetPane(s, "-forget-st24",
        (p, ids) => graft.streaming.Streams.streamForget(s, ids, p,
          splitFiles = 2))
    }),


    "x120_ann_compact" -> ((s, dir) => {
      // DELETION's PHYSICAL phase + the small-file close-out: until
      // compaction runs, x119's tombstoned bytes still exist on disk
      // (a logical delete satisfies search, not GDPR) and a
      // long-running st23 ingest accretes one parquet dir per
      // micro-batch. annCompact folds tombstones into the encoded
      // part via VersionedState.rewritePart's crash-safe swap (stage
      // → invalidate meta → rename → re-stamp last — a reader never
      // validates mid-swap) at a sized file count, then clears the
      // folded tombstones. The pane pins the full contract: rows
      // drop by exactly |forgotten|·m, the swapped part lands at the
      // target file count, the version stamp SURVIVES (deletion
      // changes state, not recipe), the tombstone set is empty
      // after, zero forgotten ids appear in post-compact search, and
      // recall vs the exact survivor twin holds. Built fresh each
      // run (not exists-guarded): compaction MUTATES the bundle, so
      // a guarded reuse would see last run's already-compacted rows
      // and the pane would not be a constant.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val m = 8
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, 16)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-compact")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(path))
      val (cents0, codebook0, e0) = Similarity.ivfpqTrainEncode(
        lake, "vec_id", "embedding", nlist, m, 16,
        coarseIters = 1, pqIters = 1)
      Similarity.persistIndex(path, version, cents0, codebook0, e0)
      val (cents, codebook, _) = Similarity.loadIndex(s, path, version)
      val tsIds = lake.filter(pmod(col("vec_id"), lit(200L)) === 0)
        .select(col("vec_id"))
      Similarity.annForget(path, tsIds)
      val (nBefore, nAfter, nFiles) =
        Similarity.annCompact(s, path, version, nFiles = 1)
      val stampSurvived = Similarity.indexExists(s, path, version)
      val encoded = Similarity.loadIndex(s, path, version)._3
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val post = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", encoded, cents, codebook, k, nprobe, m = m,
        rerank = Similarity.rerankFor(n, nlist, nprobe),
        rerankSource = Some(lake))
      val survivors = lake.join(tsIds, Seq("vec_id"), "left_anti")
      val postExact = Similarity.bruteTopKL2(q, survivors, "vec_id",
        "embedding", k)
      val postHit = post.join(tsIds
          .select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_post_results_forgotten"))
      val tsAfter = Similarity.annTombstones(s, path)
        .agg(count(lit(1)).as("n_tombstones_after"))
      postExact.as("b").join(post.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(tsAfter, lit(true), "left") // 1-row pane join idiom
        .join(postHit, lit(true), "left")
        .select(lit(version).as("version"),
          lit(nBefore).as("n_rows_before"),
          lit(nAfter).as("n_rows_after"),
          lit(nFiles.toLong).as("n_files_after"),
          lit(stampSurvived).as("version_survived"),
          col("n_tombstones_after"), col("n_post_results_forgotten"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_survivors"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x121_filtered_ann" -> ((s, dir) => {
      // METADATA-FILTERED search over the standing index — the query
      // shape a production vector store actually serves ("top-k
      // WHERE lang = 'en'"), routed between the two honest
      // strategies with BOTH branches live (the x116 canary-liveness
      // rule): a SELECTIVE filter (63 survivors) routes pre-filter
      // EXACT — below the cutoff no over-fetch heuristic beats
      // brute-forcing the survivor set, and it is the only safe
      // route when the filter correlates with geometry; a BROAD
      // id-hash filter (25% survivors, geometry-uncorrelated) with
      // the cutoff forced to 0 exercises the post-filter ANN branch:
      // k′ = overfetchFor(k, sel) candidates, nprobe widened by
      // 1/sel, then keep the top-k satisfying the predicate. The
      // pane pins route, survivor count, the router's own widened
      // knobs (witnessed, not re-derived — the x112 discipline), the
      // MEASURED preflight recall the route decision came from, a
      // zero off-predicate count, and recall vs the exact FILTERED
      // twin. The index is the x113 standing ledger, read-only — a
      // filtered query is just another consumer of the same state.
      // Three branches, every route live (the x116 discipline):
      // branch b filters on a HASH of the id (keeps ~25% of EVERY
      // cluster — the regime over-fetch is sized for); branch c
      // filters id mod 4, which on this lake (ck = id mod 64)
      // deletes WHOLE clusters — the nearest survivors sit at
      // unfiltered rank ~130-148 and over-fetch cannot reach them
      // (measured 0.51, SCALE.md) — and selectivity alone cannot
      // tell b and c apart (both ~25%): only the preflight can,
      // and it REROUTES c to the exact survivor scan, recall 1.0.
      val n = 2000L; val nlist = 64; val k = 5
      val lake = Similarity.hashBlobLake(s, n)
        .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
        .withColumn("mod4", pmod(col("vec_id"), lit(4L)))
        .withColumn("mod32", pmod(col("vec_id"), lit(32L)))
        .localCheckpoint(true)
      val (cents, codebook, encoded) = standingAnnIndex(s,
        Similarity.hashBlobLakeKey(n),
        lake.drop("h4", "mod4", "mod32"), nlist, m = 8, ksub = 16)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .drop("h4", "mod4", "mod32").localCheckpoint(true)
      def branch(name: String, pred: Column, cutoff: Long)
          : DataFrame = {
        val r = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
          "embedding", pred, k, encoded, cents, codebook, nlist,
          m = 8, bruteCutoff = cutoff)
        val exact = Similarity.bruteTopKL2(q, lake.filter(pred),
          "vec_id", "embedding", k)
        val offPred = r.result.join(
          lake.filter(!pred).select(col("vec_id").as("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_off_pred"))
        exact.as("b").join(r.result.as("l"),
            col("b.query_id") === col("l.query_id") &&
              col("b.neighbor_id") === col("l.neighbor_id"), "left")
          .agg(count(lit(1)).as("n_exact"),
            count(col("l.neighbor_id")).as("n_hit"))
          .join(offPred, lit(true), "left") // 1-row pane join idiom
          .select(lit(name).as("branch"), lit(r.route).as("route"),
            lit(r.nSurvivors).as("n_survivors"),
            lit(r.nprobe.toLong).as("nprobe"),
            lit(r.kPrime.toLong).as("k_prime"),
            lit(math.rint(r.recallPreflight * 10000) / 10000)
              .as("recall_preflight"),
            col("n_off_pred"), col("n_exact"),
            round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
              .as("recall_filtered"),
            (col("n_hit").cast(DoubleType) / col("n_exact")
              >= lit(0.94d)).as("recall_ge_094"))
      }
      // the three routes are read-only consumers of the same
      // standing bundle — their construction-time preflights (the
      // expensive part) run concurrently (graft.Par, guide §2.6)
      graft.Par.run(Seq(
        () => branch("a_selective_exact", col("mod32") === 0, 65536L),
        () => branch("b_broad_ann", col("h4") === 0, 0L),
        () => branch("c_correlated_fallback", col("mod4") === 0, 0L)))
        .reduce(_.unionByName(_))
        .orderBy(col("branch"))
    }),

    "x122_ledger_vacuum" -> ((s, dir) => {
      // RETENTION closes the ledger lifecycle (build → ingest →
      // drift → rebuild → forget → compact → now vacuum): recipe
      // changes move standing state to new version-derived paths (the
      // x118 rebuild did exactly that), so the superseded bundle
      // orphans at its old path forever — and at 100 TB its encoded
      // part is the corpus at m bytes/vector, so "forever" is real
      // storage. vacuumRoot sweeps a ledger root, deletes bundles
      // whose stamp is not in the keep set, and deliberately leaves
      // meta-less directories alone (a writer mid-flight between
      // invalidate and re-stamp looks exactly like that — deleting it
      // would race the single-writer window VersionedState documents).
      // The pane pins all three behaviors: stale deleted, kept bundle
      // still complete, in-flight dir untouched. Rebuilt fresh each
      // run (vacuum MUTATES the root, so a guarded reuse would see
      // last run's already-swept state).
      val root = new java.io.File("target/qtmp/x122_root")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      val rootPath = root.getAbsolutePath
      val w = s.range(3).select(col("id"), (col("id") * 2).as("v"))
      graft.sources.VersionedState.write(
        s"$rootPath/model_v1", "v1", "w" -> w)
      graft.sources.VersionedState.write(
        s"$rootPath/model_v2", "v2", "w" -> w)
      new java.io.File(s"$rootPath/inflight").mkdirs()
      val (kept, deleted) = graft.sources.VersionedState
        .vacuumRoot(s, rootPath, keep = Set("v2"))
      // second sweep: idempotence witnessed in the same pane
      val (kept2, deleted2) = graft.sources.VersionedState
        .vacuumRoot(s, rootPath, keep = Set("v2"))
      s.range(1).select(
        lit(kept.toLong).as("n_kept"),
        lit(deleted.toLong).as("n_deleted"),
        lit(graft.sources.VersionedState.exists(s,
          s"$rootPath/model_v1", "v1")).as("stale_still_exists"),
        lit(graft.sources.VersionedState.exists(s,
          s"$rootPath/model_v2", "v2")).as("kept_complete"),
        lit(new java.io.File(s"$rootPath/inflight").exists())
          .as("inflight_preserved"),
        lit(kept2.toLong).as("n_kept_resweep"),
        lit(deleted2.toLong).as("n_deleted_resweep"))
    }),

    "x123_cell_pruned_search" -> ((s, dir) => {
      // the PHYSICAL LAYOUT that makes probes prune FILES, not rows:
      // without it the ADC join only SCORES probed cells but the
      // scan still READS the whole encoded ledger to find them —
      // fine at 16k rows, corpus-sized IO at 100 TB. The cell-layout
      // bundle writes one directory (one file) per cell; the search
      // collects the batch's probed cells (≤ |q|·nprobe longs, the
      // advisor-decision idiom widened to a pruning list, via the
      // SAME probeAssign ranking the ADC uses — witnessed, not
      // re-derived) and pushes them down as a partition filter. The
      // pane pins the whole contract: files on disk == cells, files
      // READ == cells PROBED (the pruning is real — Round17Spec
      // additionally pins the FileSourceScanExec partition count),
      // pruned == unpruned row-for-row (pruning changes what is
      // read, never what is scored), and recall 1.0 vs the exact
      // twin.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val m = 8
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, 16)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-celllayout")
      if (!Similarity.indexExists(s, path, version)) {
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(lake,
          "vec_id", "embedding", nlist, m, 16,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndexCellLayout(path, version, c0, cb0, e0)
      }
      val (cents, codebook, enc0) =
        Similarity.loadIndexCellLayout(s, path, version)
      val encoded = Similarity.liveEncoded(enc0,
        Similarity.annTombstones(s, path)) // the x119 contract
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val rr = Similarity.rerankFor(n, nlist, nprobe)
      val (cells, pruned) = Similarity.ivfpqSearchPruned(q, "vec_id",
        "embedding", encoded, cents, codebook, k, nprobe, m,
        rerank = rr, rerankSource = Some(lake))
      val full = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", encoded, cents, codebook, k, nprobe, m,
        rerank = rr, rerankSource = Some(lake))
      val prunedC = pruned.localCheckpoint(true)
      val equal = rowSetEqual(prunedC, full)
      val filesRead = encoded
        .filter(col("cell").isInCollection(cells.toSeq))
        .select(input_file_name()).distinct().count()
      val filesTotal = encoded
        .select(input_file_name()).distinct().count()
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(prunedC.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(version).as("version"),
          lit(nlist.toLong).as("n_cells_total"),
          lit(cells.length.toLong).as("n_cells_probed"),
          lit(filesTotal).as("n_files_total"),
          lit(filesRead).as("n_files_read"),
          lit(equal).as("pruned_equals_full"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x124_ledger_promote" -> ((s, dir) => {
      // the bridge between the index state's two storage forms,
      // closing the st23 → x123 seam: the ingest fold's ledger is
      // WRITE-optimized (one __bid directory per micro-batch —
      // replay-confined, never rewrites history) but a cell's rows
      // scatter across every batch directory, so probes can't prune
      // it; the bundle is READ-optimized (one directory per cell).
      // promoteIngestLedger reads the frozen definition
      // version-checked, strips the batch bookkeeping, and persists
      // the cell-layout bundle — CONTENT unchanged (the pane pins
      // promoted == accreted as row equality), only the layout moves
      // from ingest-grain to probe-grain. The search tail then runs
      // PRUNED over the promoted bundle — the full production loop
      // (stream in → promote in the maintenance window → probe
      // file-pruned) in one oracled pane.
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val m = 8; val ksub = 16
      val (lake, _, _, accreted) = graft.streaming.Streams
        .streamAnnIngest(s, n, nlist, m, ksub, splitFiles = 4,
          tag = "x124")
      val version = Similarity.annIndexVersion(nlist, m, ksub)
      val defPath = new java.io.File(
        "target/qtmp/x124_def").getAbsolutePath
      val encPath = new java.io.File(
        "target/qtmp/x124_encoded").getAbsolutePath
      val outPath = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-promoted")
      Similarity.promoteIngestLedger(s, defPath, version, encPath,
        outPath)
      val (cents, codebook, prom0) =
        Similarity.loadIndexCellLayout(s, outPath, version)
      val promoted = Similarity.liveEncoded(prom0,
        Similarity.annTombstones(s, outPath)) // the x119 contract
      // row equality needs one column ORDER: the bundle read appends
      // the partition column last, the accreted read carries it first
      val cols = Seq("cell", "neighbor_id", "sub", "code")
        .map(col)
      val acc = accreted.select(cols: _*).localCheckpoint(true)
      val prom = promoted.select(cols: _*).localCheckpoint(true)
      def countDataFiles(root: java.io.File): Long = {
        val fs = Option(root.listFiles()).toSeq.flatten
        fs.count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) +
          fs.filter(_.isDirectory).map(countDataFiles).sum
      }
      val filesPromoted = countDataFiles(
        new java.io.File(s"$outPath/encoded"))
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      // equality twin, batch count, and the pruned-search chain are
      // independent reads — overlap them (graft.Par, guide §2.6)
      val (contentEqual, nBatches, (cells, got, filesReadPruned)) =
        graft.Par.join3(
          rowSetEqual(prom, acc),
          s.read.parquet(encPath)
            .select(col("__bid")).distinct().count(),
          {
            val (cells0, got0) = Similarity.ivfpqSearchPruned(q,
              "vec_id", "embedding", promoted, cents, codebook, k,
              nprobe, m,
              rerank = Similarity.rerankFor(n, nlist, nprobe),
              rerankSource = Some(lake))
            // what the promotion BUYS: the probe set prunes the
            // promoted layout to exactly its directories (the x123
            // contract, now holding on stream-accreted content) —
            // the accreted __bid layout cannot prune by cell at all,
            // whatever its file count
            val fr = promoted
              .filter(col("cell").isInCollection(cells0.toSeq))
              .select(input_file_name()).distinct().count()
            (cells0, got0, fr)
          })
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(got.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(version).as("version"),
          lit(nBatches).as("n_batches"),
          lit(contentEqual).as("promoted_equals_accreted"),
          lit(filesPromoted).as("n_files_promoted"),
          lit(cells.length.toLong).as("n_cells_probed"),
          lit(filesReadPruned).as("n_files_read_pruned"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "e2e_index_lifecycle" -> ((s, dir) => {
      // the OPS LOOP capstone — every lifecycle operator in the
      // order a production vector store actually runs them, under
      // one isolated ledger root, smoke-guarding the seams the
      // piecewise queries (x116/x118/x119/x120/x122) each gate
      // alone: (1) a definition sized for 500 vectors has accreted
      // 4x — the DRIFT advisor fires; (2) the REBUILD retrains at
      // the advisor's own sized geometry into a NEW versioned bundle
      // under the same root; (3) VACUUM sweeps the root keeping only
      // the rebuilt version — the stale bundle x118 leaves orphaned
      // is exactly what retention exists to collect; (4) FORGET
      // tombstones ids (each probe's exact rank-1 — the adversarial
      // canary); (5) COMPACT erases them physically, version
      // surviving; (6) the final SEARCH holds recall 1.0 vs the
      // exact twin over survivors with zero forgotten ids surfacing.
      // Isolated root + fresh build each run: four of the six steps
      // MUTATE state, so a guarded reuse would pin nothing.
      val root = new java.io.File("target/qtmp/e2e_lifecycle_root")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
      val rootPath = root.getAbsolutePath
      val m = 8; val ksub = 16; val k = 5
      val lake0 = Similarity.hashBlobLake(s, 500L)
        .localCheckpoint(true)
      val lakeNow = Similarity.hashBlobLake(s, 2000L)
        .localCheckpoint(true)
      // steps 0-3 (build → drift → rebuild → vacuum) are a serial
      // dependency chain over the ledger root; the forget set's
      // probes + exact-rank-1 derivation (step 4's input) reads only
      // the lake — overlap the two branches (graft.Par, guide §2.6);
      // each branch's work is unchanged
      val ((fired, sized, v1, kept, deleted, staleGone),
           (q, preExact, tsIds)) = graft.Par.join2(
        {
          // (0) the standing state as ingest left it: sized at build n
          val nl0 = Similarity.nlistFor(500L) // 16
          val v0 = Similarity.annIndexVersion(nl0, m, ksub)
          val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id",
            "embedding", nl0, m, ksub, coarseIters = 1, pqIters = 1)
          Similarity.persistIndex(s"$rootPath/ann_$v0", v0, c0, cb0,
            Similarity.ivfpqEncode(lakeNow, "vec_id", "embedding",
              c0, cb0, m))
          // (1) drift: the advisor reads only the encoded ledger
          val (_, _, encStale) =
            Similarity.loadIndex(s, s"$rootPath/ann_$v0", v0)
          val drift =
            Similarity.indexGeometryDrift(encStale, nl0).head()
          val fired0 = drift.getBoolean(
            drift.fieldIndex("rebuild_recommended"))
          val sized0 = drift.getLong(
            drift.fieldIndex("sized_nlist_now")).toInt
          // (2) rebuild at the advisor's OWN sizing, new versioned
          // bundle — train+encode share the lake's residual pass
          val v1b = Similarity.annIndexVersion(sized0, m, ksub)
          val (c1, cb1, e1) = Similarity.ivfpqTrainEncode(lakeNow,
            "vec_id", "embedding", sized0, m, ksub,
            coarseIters = 1, pqIters = 1)
          Similarity.persistIndex(s"$rootPath/ann_$v1b", v1b, c1,
            cb1, e1)
          // (3) vacuum: the superseded bundle is now a storage orphan
          val (kept0, deleted0) = graft.sources.VersionedState
            .vacuumRoot(s, rootPath, keep = Set(v1b))
          val staleGone0 =
            !Similarity.indexExists(s, s"$rootPath/ann_$v0", v0)
          (fired0, sized0, v1b, kept0, deleted0, staleGone0)
        },
        {
          // (4)'s input: each probe's exact rank-1 neighbor
          val q0 = Similarity.stratifiedProbes(lakeNow, "vec_id", 16)
            .localCheckpoint(true)
          val pre = Similarity.bruteTopKL2(q0, lakeNow, "vec_id",
            "embedding", k).localCheckpoint(true)
          val ts = pre.filter(col("rank") === 1)
            .select(col("neighbor_id")).distinct()
            .localCheckpoint(true)
          (q0, pre, ts)
        })
      Similarity.annForget(s"$rootPath/ann_$v1", tsIds)
      // (5) compact: physical erasure, version surviving
      val (nb, na, _) =
        Similarity.annCompact(s, s"$rootPath/ann_$v1", v1)
      val versionSurvived =
        Similarity.indexExists(s, s"$rootPath/ann_$v1", v1)
      // (6) search what remains — through the tombstone-aware read
      // (empty set post-compact; the x119 contract)
      val (cents, codebook, enc1) =
        Similarity.loadIndex(s, s"$rootPath/ann_$v1", v1)
      val encoded = Similarity.liveEncoded(enc1,
        Similarity.annTombstones(s, s"$rootPath/ann_$v1"))
      val np = Similarity.nprobeFor(sized)
      val got = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", encoded, cents, codebook, k, np, m,
        rerank = Similarity.rerankFor(2000L, sized, np),
        rerankSource = Some(lakeNow))
      val survivors = lakeNow.join(tsIds,
        lakeNow("vec_id") === tsIds("neighbor_id"), "left_anti")
      val exact = Similarity.bruteTopKL2(q, survivors, "vec_id",
        "embedding", k)
      val gotHitTs = got.join(tsIds, Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_results_forgotten"))
      exact.as("b").join(got.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(gotHitTs, lit(true), "left") // 1-row pane join idiom
        .select(
          lit(fired).as("drift_fired"),
          lit(v1).as("rebuilt_version"),
          lit(kept.toLong).as("n_bundles_kept"),
          lit(deleted.toLong).as("n_bundles_vacuumed"),
          lit(staleGone).as("stale_gone"),
          lit(nb - na).as("n_rows_erased"),
          lit(versionSurvived).as("version_survived_compact"),
          col("n_results_forgotten"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_survivors"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x125_plan_audit" -> ((s, dir) => {
      // PLAN-SHAPE auditing as a runtime operator (plans/PlanAudit):
      // the .explain discipline this repo enforces in PlanShapeSpec,
      // lifted into data a pipeline can gate deployment on — at
      // 100 TB "a new shuffle regressed into the nightly job" is an
      // outage, and the audit makes it a refused deploy instead. The
      // pane audits the flagship mart plan (counts from walking the
      // pre-AQE physical tree, not string-matching explain) and pins
      // BOTH gate branches live (the x116 canary rule): the flagship
      // passes its declared shuffle budget; a deliberate cartesian
      // (plan built, never executed) is REFUSED. The audit facts are
      // the 100×-sensitive ones: every exchange is a corpus shuffle,
      // dims must broadcast (0 sort-merge), cartesians are corpus².
      import graft.plans.PlanAudit
      val j4 = queries("j4_mart_flagship")(s, dir)
      val a = PlanAudit.auditPlan(j4)
      // the flagship's declared budget is TIGHT (its measured 2:
      // one exchange for the mart aggregation, one for the final
      // ordering) — a third shuffle appearing is exactly the
      // regression the gate exists to refuse
      val gateOk =
        try { PlanAudit.gate(j4, maxShuffleExchanges = 2); true }
        catch { case _: IllegalArgumentException => false }
      // canary: a corpus² plan must be refused — built only for its
      // PLAN (never executed; the gate walks the tree, runs nothing)
      val cart = t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      val refused =
        try { PlanAudit.gate(cart, maxShuffleExchanges = 100); false }
        catch { case _: IllegalArgumentException => true }
      s.range(1).select(
        lit(a.nShuffleExchanges.toLong).as("n_shuffle_exchanges"),
        lit(a.nBroadcastHashJoins.toLong)
          .as("n_broadcast_hash_joins"),
        lit(a.nSortMergeJoins.toLong).as("n_sort_merge_joins"),
        lit(a.nCartesianOrLoopJoins.toLong)
          .as("n_cartesian_or_loop_joins"),
        lit(a.nWholeStageSpans.toLong > 0L).as("codegen_live"),
        lit(a.nFileScans.toLong).as("n_file_scans"),
        lit(a.nScansWithPushedFilters.toLong)
          .as("n_scans_pushed_filters"),
        lit(gateOk).as("gate_passes_flagship"),
        lit(refused).as("gate_refuses_cartesian"))
    }),

    "x126_index_fsck" -> ((s, dir) => {
      // index FSCK, both branches live (the x116 canary rule): the
      // write discipline guarantees a reader never validates
      // MID-swap, but a bundle restored from backup or written by a
      // buggy producer can be internally inconsistent under a valid
      // meta stamp — fsck is what a deployment runs before trusting
      // restored state. Branch a: the x113 standing ledger, read as
      // just another consumer — clean. Branch b: a poisoned twin
      // with the three crafted corruptions fsck exists to catch (a
      // vector missing one sub-code — the mid-crash partial-encode
      // shape that ADC-scores with missing terms; an out-of-range
      // code — silently dropped by the dtable join; an unknown cell
      // — unreachable by any probe) plus a tombstone referencing no
      // encoded row (EXPECTED post-compact, counted informationally,
      // not a failure — clean stays a function of the three real
      // invariants).
      val n = 2000L; val nlist = 64; val m = 8; val ksub = 16
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, ksub)
      val healthyPath = annLedgerPath(version,
        Similarity.hashBlobLakeKey(n))
      standingAnnIndex(s, Similarity.hashBlobLakeKey(n), lake,
        nlist, m, ksub) // exists-guard: ensure the shared bundle
      val (cents, codebook, enc) =
        Similarity.loadIndex(s, healthyPath, version)
      val poisonPath = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-poisoned")
      val poisoned = enc
        .filter(!(col("neighbor_id") === 7L && col("sub") === 0))
        .unionByName(enc.filter(col("neighbor_id") === 11L &&
            col("sub") === 0)
          .withColumn("code", lit(ksub)))
        .unionByName(enc.filter(col("neighbor_id") === 13L &&
            col("sub") === 0)
          .withColumn("cell", lit(10000000L)))
      Similarity.persistIndex(poisonPath, version, cents, codebook,
        poisoned)
      Similarity.annForget(poisonPath, // an id no encode ever held:
        s.range(1).select((col("id") + 99999999L).as("vec_id")))
      def row(branch: String, p: String) =
        Similarity.annFsck(s, p, version, m, ksub)
          .select(lit(branch).as("branch"), col("version"),
            col("n_vectors"), col("n_bad_subshape"),
            col("n_bad_codes"), col("n_unknown_cells"),
            col("n_orphan_tombstones"), col("clean"))
      row("a_healthy", healthyPath)
        .unionByName(row("b_poisoned", poisonPath))
        .orderBy(col("branch"))
    }),

    "x127_compact_advisor" -> ((s, dir) => {
      // the WHEN for x120's compact — the drift-advisor discipline
      // (x116) applied to the delete tier, with every reason branch
      // live (the canary rule): a freshly-compacted bundle reads
      // quiet; forgetting 1% of ids fires the TOMBSTONE-debt rule
      // (the logical anti-join now carries real deleted mass every
      // search, and compliance clocks on erasure are running); a
      // bundle whose encoded part was written at 32 files against a
      // byte-advised 1 fires the FILE-debt rule (the small-file
      // accretion a long ingest leaves — x124's ingest form, aged).
      // A cron compacts on a guess; this compacts on the ledger's
      // own measured state, and the pane surfaces the reason the
      // action will cite (the x118 witnessing rule).
      val n = 2000L; val nlist = 64; val m = 8; val ksub = 16
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, ksub)
      val (c0, cb0, encRaw) = Similarity.ivfpqTrainEncode(lake,
        "vec_id", "embedding", nlist, m, ksub,
        coarseIters = 1, pqIters = 1)
      val enc = encRaw.localCheckpoint(true)
      // the two scenario bundles are independent standing state in
      // their own paths — build the chains concurrently (graft.Par,
      // guide §2.6); per-branch work unchanged
      val ((aRow, b), cRow) = graft.Par.join2(
        {
          // scenario a+b: one bundle, compacted clean then forgotten
          val pA = annLedgerPath(version,
            s"${Similarity.hashBlobLakeKey(n)}-cadvisor")
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(pA))
          Similarity.persistIndex(pA, version, c0, cb0, enc)
          Similarity.annCompact(s, pA, version) // byte-sized -> 1 file
          val a = Similarity.compactAdvisor(s, pA, version)
            .select(lit("a_compacted_quiet").as("branch"), col("*"))
          val aR = a.localCheckpoint(true)
          Similarity.annForget(pA, lake
            .filter(pmod(col("vec_id"), lit(100L)) === 0)
            .select(col("vec_id"))) // 20 ids = 1%
          (aR, Similarity.compactAdvisor(s, pA, version)
            .select(lit("b_tombstone_debt").as("branch"), col("*")))
        },
        {
          // scenario c: deliberate 32-file write, no tombstones
          val pC = annLedgerPath(version,
            s"${Similarity.hashBlobLakeKey(n)}-cadvisor-files")
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(pC))
          Similarity.persistIndex(pC, version, c0, cb0,
            enc.repartition(32)) // explicit n: AQE never coalesces it
          Similarity.compactAdvisor(s, pC, version)
            .select(lit("c_file_debt").as("branch"), col("*"))
        })
      aRow.unionByName(b).unionByName(cRow)
        .orderBy(col("branch"))
    }),

    "x128_filtered_pruned_ann" -> ((s, dir) => {
      // the round-9 scale-killer closed BY COMPOSITION (VERDICT r9
      // #1): x121's filtered router scored only probed cells but
      // still READ the whole encoded ledger row-level; here its ANN
      // branch routes through ivfpqSearchPruned over the x123
      // cell-layout bundle, so the router's own WIDENED nprobe (the
      // 1/sel rule) becomes a partition filter and the filtered path
      // prunes FILES. The preflight runs on the pruned plan — the
      // recall that routes the batch is measured on the plan the
      // batch executes. Pane witnesses the composition: the router's
      // resolved knobs (x112 discipline), the probed-cell list's
      // files-read == cells-probed contract (x123 discipline), zero
      // off-predicate rows, and recall vs the exact FILTERED twin.
      // Same bundle as x123 (guarded build, read-only consumer).
      val n = 2000L; val nlist = 64; val k = 5; val m = 8
      val lake = Similarity.hashBlobLake(s, n)
        .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
        .localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, 16)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-celllayout")
      if (!Similarity.indexExists(s, path, version)) {
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(
          lake.drop("h4"), "vec_id", "embedding", nlist, m, 16,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndexCellLayout(path, version, c0, cb0, e0)
      }
      val (cents, codebook, enc0) =
        Similarity.loadIndexCellLayout(s, path, version)
      val encoded = Similarity.liveEncoded(enc0,
        Similarity.annTombstones(s, path)) // the x119 contract
      // 4 probe queries and a 50% filter: the widened nprobe is
      // min(64, 8/0.5) = 16, so the BATCH's probed-cell union stays
      // a strict subset of the 64 cells — the pruning the pane
      // witnesses is real file skipping, not a full-read that
      // happens to equal the cell count
      val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
        .drop("h4").localCheckpoint(true)
      val pred = col("h4") < 2 // 50%, geometry-uncorrelated
      val r = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
        "embedding", pred, k, encoded, cents, codebook, nlist, m,
        bruteCutoff = 0L, pruneCells = true)
      val cells = r.probedCells.getOrElse(Array.empty[Long])
      val filesRead = encoded
        .filter(col("cell").isInCollection(cells.toSeq))
        .select(input_file_name()).distinct().count()
      val exact = Similarity.bruteTopKL2(q, lake.filter(pred),
        "vec_id", "embedding", k)
      val offPred = r.result.join(
        lake.filter(!pred).select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_off_pred"))
      exact.as("b").join(r.result.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(offPred, lit(true), "left") // 1-row pane join idiom
        .select(lit(r.route).as("route"),
          lit(r.nSurvivors).as("n_survivors"),
          lit(r.nprobe.toLong).as("nprobe"),
          lit(r.kPrime.toLong).as("k_prime"),
          lit(math.rint(r.recallPreflight * 10000) / 10000)
            .as("recall_preflight"),
          lit(cells.length.toLong).as("n_cells_probed"),
          lit(filesRead).as("n_files_read"),
          lit(filesRead == cells.length.toLong).as("files_eq_cells"),
          col("n_off_pred"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_filtered"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x129_incremental_promote" -> ((s, dir) => {
      // the maintenance window stops paying for history (VERDICT r9
      // #2): x124's promote rewrites the WHOLE bundle every run —
      // at 100 TB that re-shuffles the entire m-bytes-per-vector
      // ledger to fold in one day's batches. The incremental form
      // diffs the ingest ledger against the bundle's promoted
      // high-water batch id (a PARTITION filter on the __bid ingest
      // layout — the read prunes too) and dynamic-partition-
      // overwrites ONLY the touched cell directories, key-deduped so
      // a stale watermark re-folds identically. Pane pins the whole
      // contract: batches/cells touched, files rewritten ==
      // touched cells (the x123 witnessing rule), untouched files
      // BYTE-identical, incremental == full re-promote row equality,
      // and recall over the grown lake. Fresh build each run (two
      // promotes mutate the bundle; a guarded reuse would pin
      // nothing).
      val nlist = 32; val m = 8; val ksub = 16; val k = 5
      val lakeAll = Similarity.hashBlobLake(s, 2000L)
        .localCheckpoint(true)
      val lake0 = lakeAll.filter(col("vec_id") < 1600L)
      // a geometrically NARROW delta (8 of the 64 clusters): the
      // case incremental promotion exists for — most cells untouched
      val delta = lakeAll.filter(col("vec_id") >= 1600L &&
        pmod(col("vec_id"), lit(64L)) < 8L)
      val version = Similarity.annIndexVersion(nlist, m, ksub)
      val defPath = tmpDir("x129_def")
      val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id",
        "embedding", nlist, m, ksub, coarseIters = 1, pqIters = 1)
      Similarity.persistIndexDef(defPath, version, c0, cb0)
      val ledgerPath = tmpDir("x129_ledger")
      (0 until 4).foreach { i =>
        graft.streaming.Streams.annIngestFold(
          lake0.filter(pmod(col("vec_id"), lit(4L)) === i.toLong),
          i.toLong, defPath, version, ledgerPath, m)
      }
      val outPath = tmpDir("x129_bundle")
      val (b0, _, hwm0) = Similarity.promoteIngestLedgerIncremental(
        s, defPath, version, ledgerPath, outPath)
      def fileHashes(root: java.io.File): Map[String, String] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isFile) Seq(f)
          else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        walk(root).filter(_.getName.endsWith(".parquet")).map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString
        }.toMap
      }
      val encRoot = new java.io.File(s"$outPath/encoded")
      val before = fileHashes(encRoot)
      graft.streaming.Streams.annIngestFold(delta, 4L, defPath,
        version, ledgerPath, m)
      val (b1, touched, hwm1) =
        Similarity.promoteIngestLedgerIncremental(
          s, defPath, version, ledgerPath, outPath)
      val after = fileHashes(encRoot)
      val touchedDirs = after.keySet.filter(p =>
        !before.contains(p) || before(p) != after(p))
        .flatMap(_.split("/").find(_.startsWith("cell=")))
      val untouched = before.keySet.filterNot(p =>
        touchedDirs.exists(d => p.contains(s"/$d/")))
      val untouchedIdentical = untouched.nonEmpty &&
        untouched.forall(p => after.get(p).contains(before(p)))
      // incremental == full re-promote, row for row; the equality
      // twin's build, the incremental bundle's load, and the grown-
      // lake search prep are independent branches over disjoint
      // state — overlapped (graft.Par, guide §2.6)
      val outFull = tmpDir("x129_full")
      val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
      val (inc, fullP, grownBits) = graft.Par.join3(
        Similarity.loadIndexCellLayout(s, outPath, version)
          ._3.select(cols: _*).localCheckpoint(true),
        {
          Similarity.promoteIngestLedger(s, defPath, version,
            ledgerPath, outFull)
          Similarity.loadIndexCellLayout(s, outFull, version)
            ._3.select(cols: _*).localCheckpoint(true)
        },
        {
          // search the promoted bundle over the GROWN lake
          val g = lake0.unionByName(delta).localCheckpoint(true)
          (g, g.count())
        })
      val equal = rowSetEqual(inc, fullP)
      val (grown, nGrown) = grownBits
      val (cents, codebook, prom0) =
        Similarity.loadIndexCellLayout(s, outPath, version)
      val promoted = Similarity.liveEncoded(prom0,
        Similarity.annTombstones(s, outPath))
      val q = Similarity.stratifiedProbes(grown, "vec_id", 16)
        .localCheckpoint(true)
      val np = Similarity.nprobeFor(nlist)
      val got = Similarity.ivfpqSearchEncoded(q, "vec_id",
        "embedding", promoted, cents, codebook, k, np, m,
        rerank = Similarity.rerankFor(nGrown, nlist, np),
        rerankSource = Some(grown))
      val exact = Similarity.bruteTopKL2(q, grown, "vec_id",
        "embedding", k)
      exact.as("b").join(got.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(b0).as("n_batches_full"),
          lit(hwm0).as("hwm_after_full"),
          lit(b1).as("n_new_batches"),
          lit(touched).as("n_touched_cells"),
          lit(touchedDirs.size.toLong).as("n_cells_rewritten"),
          lit(touchedDirs.size.toLong == touched)
            .as("rewritten_eq_touched"),
          lit(untouchedIdentical).as("untouched_byte_identical"),
          lit(equal).as("incremental_equals_full"),
          lit(hwm1).as("hwm_after_delta"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x130_sharded_lifecycle" -> ((s, dir) => {
      // the DELETE lifecycle at the sharded deployment point (VERDICT
      // r9 #3): x117 proved sharded SEARCH; production also forgets
      // and compacts per shard. annForgetSharded routes each id to
      // ITS shard by the SAME annShardKey hash that routed ingest
      // (any other routing loses deletes or bloats every shard's
      // anti-join); the compact advisor unions per-shard panes; each
      // shard compacts independently; merged search over survivors
      // holds recall with zero forgotten ids surfacing (Round18Spec
      // additionally pins row equality vs the unsharded lifecycle).
      // Fresh build each run (forget+compact mutate both shards).
      val n = 2000L; val m = 8; val ksub = 16; val k = 5
      val shards = 2
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val preExact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k).localCheckpoint(true)
      // each probe's exact top-2 — the adversarial forget set, sized
      // past the advisor's 1% tombstone-debt threshold per shard
      val tsIds = preExact.filter(col("rank") <= 2)
        .select(col("neighbor_id")).distinct().localCheckpoint(true)
      val shardPaths = (0 until shards).map(sh => tmpDir(s"x130_s$sh"))
      // independent shard builds in their own paths — concurrent
      // (graft.Par, guide §2.6), train+encode sharing each shard's
      // residual pass (ivfpqTrainEncode); per-shard work unchanged
      val built = graft.Par.run((0 until shards).map { sh => () =>
        val part = lake.filter(
          Similarity.annShardKey(col("vec_id"), shards) === sh.toLong)
          .localCheckpoint(true)
        val nPart = part.count()
        val nl = Similarity.nlistFor(nPart)
        val v = Similarity.annIndexVersion(nl, m, ksub)
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(part,
          "vec_id", "embedding", nl, m, ksub,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndex(shardPaths(sh), v, c0, cb0, e0)
        (sh, v, nl, nPart, part)
      })
      // verifyRouting: the positional-contract guard is ON — each
      // shard's routed ids are proven present in ITS encoded set
      // before the tombstone lands (a mis-ordered shardPaths would
      // orphan deletes silently; round-10 review)
      Similarity.annForgetSharded(shardPaths, tsIds,
        verifyRouting = true, versions = built.map(_._2))
      // per-shard tombstone counts, advisor panes, compacts, and
      // search branches all touch disjoint shard state — concurrent
      // per shard (graft.Par); same per-shard work, same values
      val shardRes = graft.Par.run(
        built.map { case (sh, v, nl, nPart, part) => () =>
          val ts = Similarity.annTombstones(s, shardPaths(sh)).count()
          val fired = Similarity.compactAdvisor(s, shardPaths(sh), v)
            .select(col("compact_recommended")).head().getBoolean(0)
          val (nb, na, _) =
            Similarity.annCompact(s, shardPaths(sh), v, 1)
          val (cents, codebook, enc) =
            Similarity.loadIndex(s, shardPaths(sh), v)
          val live = Similarity.liveEncoded(enc,
            Similarity.annTombstones(s, shardPaths(sh)))
          val np = Similarity.nprobeFor(nl)
          (ts, fired, nb - na,
            Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
              live, cents, codebook, k, np, m,
              rerank = Similarity.rerankFor(nPart, nl, np),
              rerankSource = Some(part)))
        })
      val tsCounts = shardRes.map(_._1)
      val advisorFired = shardRes.count(_._2)
      val erased = shardRes.map(_._3).sum
      val perShard = shardRes.map(_._4)
      val merged = Similarity.ivfpqMergeTopK(perShard, k)
        .localCheckpoint(true)
      val survivors = lake.join(tsIds,
        lake("vec_id") === tsIds("neighbor_id"), "left_anti")
      val exact = Similarity.bruteTopKL2(q, survivors, "vec_id",
        "embedding", k)
      val forgotten = merged.join(tsIds, Seq("neighbor_id"),
        "left_semi").agg(count(lit(1)).as("n_results_forgotten"))
      exact.as("b").join(merged.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(forgotten, lit(true), "left") // 1-row pane join idiom
        .select(lit(shards.toLong).as("n_shards"),
          lit(tsCounts(0)).as("n_ts_shard0"),
          lit(tsCounts(1)).as("n_ts_shard1"),
          lit(advisorFired.toLong).as("n_shards_compact_recommended"),
          lit(erased).as("n_rows_erased"),
          col("n_results_forgotten"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_survivors"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x131_gated_build" -> ((s, dir) => {
      // PlanAudit.gate wired INTO the pipeline runner (VERDICT r9
      // #4): every table's plan is refused-or-passed against its
      // declared shuffle budget BEFORE it materializes — at 100 TB
      // "a new shuffle regressed into the nightly build" becomes a
      // refused deploy, not an outage. Both branches live (the x125
      // discipline): the declared-budget build passes and its mart
      // equals the ungated run's; a deliberately-regressed budget
      // (mart allowed 0 shuffles) and an UNDECLARED table (ungated =
      // unshipped) are both refused. Round18Spec runs the full
      // 17-table reference warehouse under the same gate; this pane
      // prices the driver-table medallion form.
      import graft.pipelines.Medallion
      // gated and plain builds land in separate lake roots — run
      // them concurrently (graft.Par, guide §2.6)
      val (mart, plain) = graft.Par.join2(
        Medallion.runGated(s, dir, tmpDir("x131_lake"))
          .localCheckpoint(true),
        Medallion.run(s, dir, tmpDir("x131_plain"))
          .localCheckpoint(true))
      val martEqual = rowSetEqual(mart, plain)
      // refusals must be THE GATE's, not any failure: match its
      // message (an IO error or OOM reading true here would keep the
      // pane green with the gate disabled — round-10 review)
      val regressedRefused =
        try {
          Medallion.runGated(s, dir, tmpDir("x131_reg"),
            budgets = Medallion.shuffleBudgets + ("mart.trends" -> 0))
          false
        } catch { case e: Exception =>
          e.getMessage != null &&
            e.getMessage.contains("over the declared budget") }
      val undeclaredRefused =
        try {
          Medallion.runGated(s, dir, tmpDir("x131_und"),
            budgets = Medallion.shuffleBudgets - "dim.time")
          false
        } catch { case e: Exception =>
          e.getMessage != null &&
            e.getMessage.contains("no declared shuffle budget") }
      s.range(1).select(
        lit(Medallion.tables.size.toLong).as("n_tables"),
        lit(mart.count()).as("mart_rows"),
        lit(martEqual).as("gated_equals_ungated"),
        lit(regressedRefused).as("regressed_budget_refused"),
        lit(undeclaredRefused).as("undeclared_table_refused"))
    }),

    "x132_boilerplate_drift" -> ((s, dir) => {
      // the x116 drift discipline on the TEXT tier (VERDICT r9 #8):
      // st22's segment-docfreq ledger accretes forever while the
      // consumer's maxDocs blacklist threshold stays frozen — as the
      // corpus grows, ordinary repetition drifts past the stale
      // threshold and the blacklist starts stripping REAL content,
      // every individual strip still "correct" against the ledger.
      // The advisor reads the KB-grain ledger only: blacklist
      // occupancy (web furniture is a thin head — a blacklist
      // capturing >10% of distinct segments is cutting content, not
      // furniture). Both branches live: the x111 threshold (10)
      // reads quiet (only the injected footers blacklist — the thin
      // head); the degenerate stale threshold (0) fires. The footer
      // canary is x111's own deterministic injection, so the ledger
      // has a REAL docfreq head to advise on; the oracle re-derives
      // every number from the documents table — docfreq by trimmed
      // segment, the same segmentation x111 pins.
      import graft.streaming.Streams
      val footer = when(pmod(col("doc_id"), lit(3L)) === 0,
          "subscribe to our newsletter")
        .when(pmod(col("doc_id"), lit(3L)) === 1,
          "all rights reserved")
        .otherwise("cookie policy applies")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit("\n"), footer).as("text"))
      val path = tmpDir("x132_ledger")
      graft.operators.Mutations.seedEmptyLedger(s, path,
        Streams.boilerplateLedgerSchema)
      Streams.boilerplateLedgerFold(
        docs.select(col("doc_id"), col("text")), 0L, path)
      def branch(name: String, maxDocs: Long) =
        Streams.boilerplateLedgerAdvisor(s, path, maxDocs)
          .select(lit(name).as("branch"), col("max_docs"),
            col("n_segments"), col("n_blacklisted"),
            col("blacklist_frac"), col("max_docfreq"),
            col("rethreshold_recommended"))
      branch("a_x111_threshold_quiet", 10L)
        .unionByName(branch("b_stale_threshold_fires", 0L))
        .orderBy(col("branch"))
    }),

    "x133_dsir_drift" -> ((s, dir) => {
      // the same drift discipline on the DSIR bucket ledger (VERDICT
      // r9 #8): st18 freezes the feature width __nb at seed time and
      // accretes counts forever — saturation never errors, it just
      // blurs the importance ratios as hash collisions grow with
      // load. The advisor reads bucket rows only; dsirBucketsFor
      // owns the sizing (load ≤ 1/4 at the next power of two) and
      // the trigger is the same ×2 step as the index tier. Both
      // branches live on DETERMINISTIC synthetic corpora (pure
      // column arithmetic — constants at any sf): a 20-doc corpus
      // loads 4096 buckets lightly (quiet); a 600-doc 6600-feature
      // corpus drives occupancy past nb/4 (fires, sized 16384).
      import graft.streaming.Streams
      def fold(docs: DataFrame, tag: String): String = {
        val path = tmpDir(s"x133_$tag")
        graft.operators.Mutations.seedEmptyLedger(s, path,
          Streams.dsirLedgerSchema)
        Streams.dsirLedgerFold(docs, 0L, path, 4096)
        path
      }
      val light = s.range(20).select(col("id").as("doc_id"),
        concat(lit("alpha beta w"), col("id")).as("text"),
        lit("en").as("lang"))
      val heavy = s.range(600).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 6).map(j =>
          concat(lit("w"), (col("id") * 6 + j).cast(StringType))): _*)
          .as("text"),
        lit("en").as("lang"))
      def branch(name: String, docs: DataFrame, tag: String) =
        Streams.dsirLedgerAdvisor(s, fold(docs, tag))
          .select(lit(name).as("branch"), col("nb"),
            col("n_occupied"), col("load_factor"),
            col("sized_nb_now"), col("rebuild_recommended"))
      branch("a_light_quiet", light, "light")
        .unionByName(branch("b_saturated_fires", heavy, "heavy"))
        .orderBy(col("branch"))
    }),

    "x134_ops_console" -> ((s, dir) => {
      // the advisor tier's CAPSTONE: every standing-ledger advisor
      // (index geometry drift, compact debt, DSIR bucket width,
      // boilerplate threshold) normalized to ONE action schema and
      // unioned — the single relation a maintenance scheduler polls
      // against a 100 TB estate, each row KB-grain by the advisor
      // contract. Eight rows, EVERY action with both branches live
      // (the x116 canary rule): a stale bundle (500-sized geometry
      // accreted to 2000, 1% forgotten) fires rebuild AND compact; a
      // fresh right-sized compacted bundle reads quiet on both; the
      // x133 synthetic corpora fire/quiet the DSIR width advisor;
      // one boilerplate ledger registered at the x111 threshold
      // (quiet) and the degenerate stale threshold (fires). All
      // inputs deterministic (hash-blob lake + range-generated
      // corpora) — constants at any sf. Reasons are the advisors'
      // OWN witnessed values (the x118 rule), so the oracle pins
      // them verbatim.
      import graft.operators.Advisors
      import graft.streaming.Streams
      val m = 8; val ksub = 16
      val lake = Similarity.hashBlobLake(s, 2000L).localCheckpoint(true)
      // stale bundle: trained for 500, carrying 2000, 1% tombstoned
      val lake0 = Similarity.hashBlobLake(s, 500L).localCheckpoint(true)
      val nl0 = Similarity.nlistFor(500L) // 16
      val v0 = Similarity.annIndexVersion(nl0, m, ksub)
      val pStale = tmpDir("x134_ann_stale")
      // fresh bundle: right-sized for its population, compacted, clean
      val nl1 = Similarity.nlistFor(2000L) // 32
      val v1 = Similarity.annIndexVersion(nl1, m, ksub)
      val pFresh = tmpDir("x134_ann_fresh")
      // text-tier ledgers (x132/x133's deterministic corpora)
      def dsir(docs: DataFrame, tag: String): String = {
        val p = tmpDir(s"x134_$tag")
        graft.operators.Mutations.seedEmptyLedger(s, p,
          Streams.dsirLedgerSchema)
        Streams.dsirLedgerFold(docs, 0L, p, 4096)
        p
      }
      // five independent fixture builds in their own paths — run
      // concurrently (graft.Par, guide §2.6); per-branch work
      // unchanged
      val built = graft.Par.run[Any](Seq(
        () => {
          val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id",
            "embedding", nl0, m, ksub, coarseIters = 1, pqIters = 1)
          Similarity.persistIndex(pStale, v0, c0, cb0,
            Similarity.ivfpqEncode(lake, "vec_id", "embedding",
              c0, cb0, m))
          Similarity.annCompact(s, pStale, v0) // file debt paid: only
          Similarity.annForget(pStale, lake // the tombstone rule fires
            .filter(pmod(col("vec_id"), lit(100L)) === 0)
            .select(col("vec_id"))) // 20 ids = 1%
        },
        () => {
          // train+encode share the residual pass (same corpus)
          val (c1, cb1, e1) = Similarity.ivfpqTrainEncode(lake,
            "vec_id", "embedding", nl1, m, ksub,
            coarseIters = 1, pqIters = 1)
          Similarity.persistIndex(pFresh, v1, c1, cb1, e1)
          Similarity.annCompact(s, pFresh, v1)
        },
        () => dsir(s.range(20).select(col("id").as("doc_id"),
          concat(lit("alpha beta w"), col("id")).as("text"),
          lit("en").as("lang")), "dsir_light"),
        () => dsir(s.range(600).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 6).map(j =>
            concat(lit("w"), (col("id") * 6 + j).cast(StringType))): _*)
            .as("text"),
          lit("en").as("lang")), "dsir_heavy"),
        () => {
          val p = tmpDir("x134_bp")
          graft.operators.Mutations.seedEmptyLedger(s, p,
            Streams.boilerplateLedgerSchema)
          Streams.boilerplateLedgerFold(
            s.range(40).select(col("id").as("doc_id"),
              concat(lit("unique line "), col("id"),
                lit("\nfooter text")).as("text")), 0L, p)
          p
        }))
      val light = built(2).asInstanceOf[String]
      val heavy = built(3).asInstanceOf[String]
      val bp = built(4).asInstanceOf[String]
      Advisors.opsConsole(s,
        annBundles = Seq(
          ("ann_stale_2k_on_500geo", pStale, v0, nl0),
          ("ann_fresh_2k", pFresh, v1, nl1)),
        dsirLedgers = Seq(
          ("dsir_heavy", heavy), ("dsir_light", light)),
        boilerplateLedgers = Seq(
          ("bp_x111_threshold", bp, 10L),
          ("bp_stale_threshold", bp, 0L)))
        .orderBy(col("tier"), col("ledger"), col("action"))
    }),

    "st25_stream_promote" -> ((s, dir) => {
      // the maintenance CADENCE rides the stream (x129's streaming
      // twin): ingest folds accrete the __bid ledger; every 2nd
      // batch the fold also promotes INCREMENTALLY, so the
      // read-optimized cell-layout bundle trails the stream by at
      // most one cadence window and each promotion rewrites only the
      // window's touched cells. The pane pins the composed contract:
      // the trailing bundle row-equals a FULL batch promote of the
      // assembled ledger (batching + cadence invariance), the
      // promoted layout still prunes files (x123's witness on
      // stream-maintained state), and search holds recall 1.0 vs the
      // exact twin. Fresh build each run (the stream and both
      // promotes mutate state).
      import graft.streaming.Streams
      val n = 2000L; val nlist = 32; val m = 8; val ksub = 16
      val k = 5
      val (lake, defPath, version, encodedPath, bundlePath, nProm) =
        Streams.streamAnnIngestPromote(s, n, nlist, m, ksub,
          splitFiles = 4, promoteEvery = 2, tag = "st25")
      val nBatches = s.read.parquet(encodedPath)
        .select(col("__bid")).distinct().count()
      val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      // the full-promote equality twin and the search chain read
      // disjoint state (a fresh outFull bundle vs the streamed
      // bundle) — overlap them (graft.Par, guide §2.6)
      val (equal, (cells, got, filesRead)) = graft.Par.join2(
        {
          val outFull = tmpDir("st25_full")
          Similarity.promoteIngestLedger(s, defPath, version,
            encodedPath, outFull)
          val streamed = Similarity
            .loadIndexCellLayout(s, bundlePath, version)
            ._3.select(cols: _*).localCheckpoint(true)
          val full = Similarity
            .loadIndexCellLayout(s, outFull, version)
            ._3.select(cols: _*).localCheckpoint(true)
          rowSetEqual(streamed, full)
        },
        {
          val (cents, codebook, enc0) =
            Similarity.loadIndexCellLayout(s, bundlePath, version)
          val live = Similarity.liveEncoded(enc0,
            Similarity.annTombstones(s, bundlePath)) // x119 contract
          val np = Similarity.nprobeFor(nlist)
          val (cells0, got0) = Similarity.ivfpqSearchPruned(q,
            "vec_id", "embedding", live, cents, codebook, k, np, m,
            rerank = Similarity.rerankFor(n, nlist, np),
            rerankSource = Some(lake))
          val fr = live
            .filter(col("cell").isInCollection(cells0.toSeq))
            .select(input_file_name()).distinct().count()
          (cells0, got0, fr)
        })
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(got.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(nBatches).as("n_batches"),
          lit(nProm.toLong).as("n_promotes"),
          lit(equal).as("bundle_equals_full_promote"),
          lit(cells.length.toLong).as("n_cells_probed"),
          lit(filesRead).as("n_files_read"),
          lit(filesRead == cells.length.toLong).as("files_eq_cells"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x135_filtered_sharded_ann" -> ((s, dir) => {
      // the production query shape AT THE SCALE SHARDING EXISTS FOR
      // (VERDICT r10 #1): "nearest WHERE pred" above the cell clamp
      // must run per shard — x128 composed filter×cells on ONE
      // bundle, x117/x130 shard build/search/delete; this composes
      // filter×shards: one global route decision (union survivor
      // count), per-shard widened-nprobe PRUNED branches over each
      // shard's cell-layout bundle, ivfpqMergeTopK at k', post-filter
      // the merged list, preflight measured on the MERGED plan. Pane
      // witnesses per-shard pruning (files == cells IN EACH SHARD),
      // zero off-predicate rows, recall vs the exact filtered twin.
      // Guarded shard bundles (read-only consumer — the x128 rule).
      val n = 2000L; val k = 5; val m = 8; val ksub = 16
      val shards = 2
      val lake = Similarity.hashBlobLake(s, n)
        .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
        .localCheckpoint(true)
      val shardKey = Similarity.annShardKey(col("vec_id"), shards)
      // independent per-shard guard-builds — concurrent (graft.Par)
      val built = graft.Par.run((0 until shards).map { sh => () =>
        val part = lake.drop("h4").filter(shardKey === sh.toLong)
          .localCheckpoint(true)
        val nl = Similarity.nlistFor(part.count())
        val v = Similarity.annIndexVersion(nl, m, ksub)
        val path = annLedgerPath(v,
          s"${Similarity.hashBlobLakeKey(n)}-sh$sh-of$shards-cells")
        if (!Similarity.indexExists(s, path, v)) {
          val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(part,
            "vec_id", "embedding", nl, m, ksub,
            coarseIters = 1, pqIters = 1)
          Similarity.persistIndexCellLayout(path, v, c0, cb0, e0)
        }
        (path, v)
      })
      val q = Similarity.stratifiedProbes(lake, "vec_id", 4)
        .drop("h4").localCheckpoint(true)
      val pred = col("h4") < 2 // 50%, geometry-uncorrelated
      val r = Similarity.annTopKFilteredRoutedSharded(q, lake,
        "vec_id", "embedding", pred, k,
        built.map(_._1), built.map(_._2), m, bruteCutoff = 0L)
      // guard on the witness list's presence: a preflight fallback
      // returns no per-shard cells, and the pane must then report
      // the (oracle-mismatching) fallback row, not crash the query
      // (round-11 review)
      val filesEqCells = r.shardCells.length == built.length &&
        built.zipWithIndex.forall { case ((p, v), sh) =>
          val enc = Similarity.liveEncoded(
            Similarity.loadIndexCellLayout(s, p, v)._3,
            Similarity.annTombstones(s, p))
          val cells = r.shardCells(sh)
          enc.filter(col("cell").isInCollection(cells.toSeq))
            .select(input_file_name()).distinct().count() ==
            cells.length.toLong
        }
      val exact = Similarity.bruteTopKL2(q, lake.filter(pred),
        "vec_id", "embedding", k)
      val offPred = r.result.join(
        lake.filter(!pred).select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_off_pred"))
      exact.as("b").join(r.result.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(offPred, lit(true), "left") // 1-row pane join idiom
        .select(lit(r.route).as("route"),
          lit(shards.toLong).as("n_shards"),
          lit(r.nSurvivors).as("n_survivors"),
          lit(r.kPrime.toLong).as("k_prime"),
          lit(math.rint(r.recallPreflight * 10000) / 10000)
            .as("recall_preflight"),
          lit(r.shardNprobe.headOption.getOrElse(0).toLong)
            .as("nprobe_shard0"),
          lit(r.shardNprobe.lift(1).getOrElse(0).toLong)
            .as("nprobe_shard1"),
          lit(r.shardCells.headOption.map(_.length).getOrElse(0)
            .toLong).as("n_cells_shard0"),
          lit(r.shardCells.lift(1).map(_.length).getOrElse(0)
            .toLong).as("n_cells_shard1"),
          lit(filesEqCells).as("files_eq_cells_all_shards"),
          col("n_off_pred"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_filtered"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x136_ops_loop" -> ((s, dir) => {
      // the console CLOSED (VERDICT r10 #2): x134 normalized four
      // advisor families into one pollable relation; this query runs
      // the loop the console exists for — poll, EXECUTE every firing
      // action through its existing operator (rebuild -> x118's
      // path; compact -> annCompact; dsir rebuild -> the advisor-
      // sized re-fold; rethreshold -> the ledger-derived maxDocs),
      // re-poll: every previously-firing row reads quiet, and the
      // never-fired rows are proven untouched (reason strings
      // pinned verbatim before AND after). Estate: one accreted
      // bundle (fires rebuild only — pre-compacted, no tombstones),
      // one tombstoned bundle (fires compact only), the x133
      // synthetic corpora for the DSIR pair, and the x134 synthetic
      // boilerplate ledger registered at a stale threshold. All
      // inputs deterministic — constants at any sf.
      import graft.operators.Advisors
      import graft.streaming.Streams
      val m = 8; val ksub = 16
      val lake = Similarity.hashBlobLake(s, 2000L).localCheckpoint(true)
      // accreted: trained for 500, carrying 2000, clean of deletes
      val lake0 = Similarity.hashBlobLake(s, 500L).localCheckpoint(true)
      val nl0 = Similarity.nlistFor(500L)
      val v0 = Similarity.annIndexVersion(nl0, m, ksub)
      val pAcc = tmpDir("x136_ann_accreted")
      val nl1 = Similarity.nlistFor(2000L)
      val v1 = Similarity.annIndexVersion(nl1, m, ksub)
      val pTs = tmpDir("x136_ann_tombstoned")
      val light = s.range(20).select(col("id").as("doc_id"),
        concat(lit("alpha beta w"), col("id")).as("text"),
        lit("en").as("lang"))
      val heavy = s.range(600).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 6).map(j =>
          concat(lit("w"), (col("id") * 6 + j).cast(StringType))): _*)
          .as("text"),
        lit("en").as("lang")).localCheckpoint(true)
      def dsirAt(docs: DataFrame, tag: String): String = {
        val p = tmpDir(s"x136_$tag")
        graft.operators.Mutations.seedEmptyLedger(s, p,
          Streams.dsirLedgerSchema)
        Streams.dsirLedgerFold(docs, 0L, p, 4096)
        p
      }
      // the five fixture estates/ledgers are independent standing
      // state in their own paths — build them concurrently
      // (graft.Par, guide §2.6); each branch's work is unchanged
      val built = graft.Par.run[Any](Seq(
        () => { // accreted: trained for 500, carrying 2000
          val (c0, cb0) = Similarity.ivfpqTrain(lake0, "vec_id",
            "embedding", nl0, m, ksub, coarseIters = 1, pqIters = 1)
          Similarity.persistIndex(pAcc, v0, c0, cb0,
            Similarity.ivfpqEncode(lake, "vec_id", "embedding",
              c0, cb0, m))
          Similarity.annCompact(s, pAcc, v0) // file debt paid up front
        },
        () => { // tombstoned: right-sized, compacted, 1% forgotten
          // train+encode share the residual pass (same corpus)
          val (c1, cb1, e1) = Similarity.ivfpqTrainEncode(lake,
            "vec_id", "embedding", nl1, m, ksub,
            coarseIters = 1, pqIters = 1)
          Similarity.persistIndex(pTs, v1, c1, cb1, e1)
          Similarity.annCompact(s, pTs, v1)
          Similarity.annForget(pTs, lake
            .filter(pmod(col("vec_id"), lit(100L)) === 0)
            .select(col("vec_id"))) // 20 ids = 1%
        },
        // text tier: x133's corpora; the heavy one keeps its 3-batch
        // history (what a deployment replays on re-fold)
        () => dsirAt(heavy, "dsir_heavy"),
        () => dsirAt(light, "dsir_light"),
        () => {
          val pBp = tmpDir("x136_bp")
          graft.operators.Mutations.seedEmptyLedger(s, pBp,
            Streams.boilerplateLedgerSchema)
          Streams.boilerplateLedgerFold(
            s.range(40).select(col("id").as("doc_id"),
              concat(lit("unique line "), col("id"),
                lit("\nfooter text")).as("text")), 0L, pBp)
          pBp
        }))
      val pHeavy = built(2).asInstanceOf[String]
      val pLight = built(3).asInstanceOf[String]
      val pBp = built(4).asInstanceOf[String]
      val history = (0 until 3).map(i =>
        heavy.filter(pmod(col("doc_id"), lit(3L)) === i.toLong))
      val loop = Advisors.opsLoop(s,
        ann = Seq(
          Advisors.AnnOps("ann_accreted", pAcc, v0, nl0, lake, m,
            ksub, nl => tmpDir(s"x136_rebuilt_nl$nl")),
          Advisors.AnnOps("ann_tombstoned", pTs, v1, nl1, lake, m,
            ksub, nl => tmpDir(s"x136_rebuilt2_nl$nl"))),
        dsir = Seq(
          Advisors.DsirOps("dsir_heavy", pHeavy, history,
            nb => tmpDir(s"x136_refolded_nb$nb")),
          // the light ledger never fires here, but its registration
          // still carries ITS OWN accreted corpus — the DsirOps
          // history contract; registering the heavy history would
          // re-fold the wrong corpus if it ever fired (ADVICE r11)
          Advisors.DsirOps("dsir_light", pLight, Seq(light),
            nb => tmpDir(s"x136_refolded_light_nb$nb"))),
        bp = Seq(
          Advisors.BoilerplateOps("bp_stale", pBp, 0L)))
      loop.before.select(col("tier"), col("ledger"), col("action"),
          col("recommended").as("fired_before"),
          col("reason").as("reason_before"))
        .join(loop.actions, Seq("tier", "ledger", "action"))
        .join(loop.after.select(col("tier"), col("ledger"),
          col("action"),
          (!col("recommended")).as("quiet_after"),
          col("reason").as("reason_after")),
          Seq("tier", "ledger", "action"))
        .orderBy(col("tier"), col("ledger"), col("action"))
    }),

    "x137_dsir_rebuild" -> ((s, dir) => {
      // the x118 rebuild discipline ON THE TEXT TIER (VERDICT r10
      // #3): x133 proved the saturated ledger FIRES; this executes
      // the action — re-fold the corpus history at the advisor's own
      // sized_nb_now into a NEW ledger path (hashed counts are not
      // invertible; re-bucketing means re-folding, and that cost is
      // the honest price) — then proves the loop closed: the advisor
      // reads quiet on the resized ledger, the 3-batch history
      // re-fold equals a fresh single-batch build at the same width
      // (st18's batching invariance AT THE NEW WIDTH), and the
      // x94-selection weights from the resized ledger equal the
      // fresh build's exactly. The rebuild is ITERATIVE by necessity
      // (this query found it): a saturated ledger UNDER-reads its
      // own feature count (occupied <= nb), so the first sizing is a
      // floor — 6.6k features read as 3.3k occupied at 4096 (sized
      // 16384, still saturated), re-measured at 16384 as 5.4k
      // (sized 32768, quiet). Deterministic synthetic corpus —
      // constants at any sf.
      import graft.streaming.Streams
      import graft.operators.TextOps
      val heavy = s.range(600).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 6).map(j =>
          concat(lit("w"), (col("id") * 6 + j).cast(StringType))): _*)
          .as("text"),
        lit("en").as("lang")).localCheckpoint(true)
      val oldPath = tmpDir("x137_old")
      graft.operators.Mutations.seedEmptyLedger(s, oldPath,
        Streams.dsirLedgerSchema)
      Streams.dsirLedgerFold(heavy, 0L, oldPath, 4096)
      val bAdv = Streams.dsirLedgerAdvisor(s, oldPath).head()
      val firedBefore = bAdv.getAs[Boolean]("rebuild_recommended")
      val history = (0 until 3).map(i =>
        heavy.filter(pmod(col("doc_id"), lit(3L)) === i.toLong))
      val (fired, sized, newPath, steps, quietAfter) =
        Streams.dsirLedgerRebuild(s, oldPath,
          nb => tmpDir(s"x137_resized_nb$nb"), history)
      // fresh single-batch build at the FINAL width — the equality twin
      val freshPath = tmpDir("x137_fresh")
      graft.operators.Mutations.seedEmptyLedger(s, freshPath,
        Streams.dsirLedgerSchema)
      Streams.dsirLedgerFold(heavy, 0L, freshPath, sized)
      def counts(p: String) = s.read.parquet(p)
        .select(col("b"), col("ct"), col("cq"))
      val resized = counts(newPath).localCheckpoint(true)
      val fresh = counts(freshPath).localCheckpoint(true)
      val ledgerEqual = rowSetEqual(resized, fresh)
      def weights(led: DataFrame) = TextOps.dsirWeightsFrom(heavy,
        col("doc_id"),
        TextOps.dsirFeatures(heavy, col("doc_id"), col("text"),
          col("lang") === "en", sized),
        led, sized)
      val w1 = weights(resized).localCheckpoint(true)
      val w2 = weights(fresh).localCheckpoint(true)
      val weightsEqual = rowSetEqual(w1, w2)
      s.range(1).select(
        lit(bAdv.getAs[Long]("nb")).as("old_nb"),
        lit(firedBefore && fired).as("rebuild_fired"),
        lit(steps.toLong).as("n_steps"),
        lit(sized.toLong).as("final_nb"),
        lit(quietAfter).as("resized_quiet"),
        lit(ledgerEqual).as("refold_equals_fresh_build"),
        lit(weightsEqual).as("weights_equal"),
        lit(w1.count()).as("n_docs"))
    }),

    "x138_boilerplate_rethreshold" -> ((s, dir) => {
      // the other half of VERDICT r10 #3: x132 proved the stale
      // threshold FIRES; this derives the REPLACEMENT from the
      // ledger's own docfreq distribution (smallest maxDocs whose
      // blacklist stays under the occupancy target — web furniture
      // is a thin head, so that is where the head ends for the
      // CURRENT corpus) and proves the loop: advisor fires at the
      // stale threshold, reads quiet at the derived one, and the
      // strip outcomes witness WHY the stale threshold had to go —
      // strip-at-stale removes every segment of every doc (the
      // content-destruction x132 warns of, in the extreme), while
      // strip-at-derived removes only the recurring head. Oracle
      // re-derives everything from the documents table (same
      // segmentation as x111/x132).
      import graft.streaming.Streams
      import graft.operators.TextOps
      val docs = footerInject(t(s, dir, "documents"))
        .localCheckpoint(true)
      val path = tmpDir("x138_ledger")
      graft.operators.Mutations.seedEmptyLedger(s, path,
        Streams.boilerplateLedgerSchema)
      Streams.boilerplateLedgerFold(
        docs.select(col("doc_id"), col("text")), 0L, path)
      val stale = 0L // frozen before the corpus grew (x132's branch b)
      val firedStale = Streams.boilerplateLedgerAdvisor(s, path, stale)
        .head().getAs[Boolean]("rethreshold_recommended")
      val derived = Streams.boilerplateThresholdFor(s, path, 0.10)
      val dAdv = Streams.boilerplateLedgerAdvisor(s, path, derived)
        .head()
      def strip(md: Long) = TextOps.boilerplateStripAgainst(docs,
        col("doc_id"), col("text"), "\n",
        s.read.parquet(path).filter(col("docfreq") > md)
          .select(col("h")))
        .agg(count(lit(1)).as("nd"),
          coalesce(sum(length(col("clean_text"))), lit(0L)).as("ch"))
        .head()
      val sStale = strip(stale)
      val sDerived = strip(derived)
      s.range(1).select(
        lit(stale).as("stale_max_docs"),
        lit(firedStale).as("fired_at_stale"),
        lit(derived).as("derived_max_docs"),
        lit(!dAdv.getAs[Boolean]("rethreshold_recommended"))
          .as("quiet_at_derived"),
        lit(dAdv.getAs[Long]("n_blacklisted"))
          .as("n_blacklisted_derived"),
        lit(dAdv.getAs[Long]("n_segments")).as("n_segments"),
        lit(sStale.getLong(1)).as("chars_kept_stale"),
        lit(sDerived.getLong(1)).as("chars_kept_derived"),
        lit(sDerived.getLong(0)).as("n_docs"))
    }),

    "st26_stream_sharded_promote" -> ((s, dir) => {
      // the sharded estate's streaming cadence (VERDICT r10 #6 —
      // Round18Spec's composition promoted to a CORRECTNESS row):
      // each micro-batch routes to shards by the ingest hash, folds
      // per-shard __bid ledgers, and every 2nd batch promotes EVERY
      // shard incrementally — each shard's cell-layout bundle trails
      // the stream by at most one cadence window. Pane pins: both
      // trailing bundles row-equal a full batch promote of their
      // assembled ledgers, a re-promote with no new batches is a
      // NO-OP (0 batches, 0 cells — the replay/crash-recovery seam),
      // merged PRUNED search holds recall vs the exact twin with
      // files == cells per shard.
      import graft.streaming.Streams
      val n = 2000L; val m = 8; val ksub = 16; val k = 5
      val (lake, state, nProm) = Streams
        .streamAnnIngestPromoteSharded(s, n, shards = 2, m, ksub,
          splitFiles = 4, promoteEvery = 2, tag = "st26")
      val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      // per-shard verification chains touch disjoint shard state —
      // concurrent per shard (graft.Par, guide §2.6); same per-shard
      // work, same witnessed values
      val shardRes = graft.Par.run(
        state.map { case (defP, v, ledgerP, bundleP) => () =>
          val outFull = tmpDir(s"st26_full_${v}_${bundleP.hashCode}")
          Similarity.promoteIngestLedger(s, defP, v, ledgerP, outFull)
          val streamed = Similarity.loadIndexCellLayout(s, bundleP, v)
            ._3.select(cols: _*).localCheckpoint(true)
          val full = Similarity.loadIndexCellLayout(s, outFull, v)
            ._3.select(cols: _*).localCheckpoint(true)
          val eq = rowSetEqual(streamed, full)
          val (nb2, cells2, _) = Similarity
            .promoteIngestLedgerIncremental(s, defP, v, ledgerP,
              bundleP)
          val noop = nb2 == 0L && cells2 == 0L
          val (cents, codebook, enc0) =
            Similarity.loadIndexCellLayout(s, bundleP, v)
          val live = Similarity.liveEncoded(enc0,
            Similarity.annTombstones(s, bundleP))
          val nl = cents.count().toInt
          val np = Similarity.nprobeFor(nl)
          val (cells, got) = Similarity.ivfpqSearchPruned(q, "vec_id",
            "embedding", live, cents, codebook, k, np, m,
            rerank = Similarity.rerankFor(n / 2, nl, np),
            rerankSource = Some(lake))
          val fEq = live
            .filter(col("cell").isInCollection(cells.toSeq))
            .select(input_file_name()).distinct().count() ==
            cells.length.toLong
          (eq, noop, fEq, got)
        })
      val equalAll = shardRes.forall(_._1)
      val noopAll = shardRes.forall(_._2)
      val filesEq = shardRes.forall(_._3)
      val perShard = shardRes.map(_._4)
      val merged = Similarity.ivfpqMergeTopK(perShard, k)
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(merged.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(2L).as("n_shards"),
          lit(nProm.toLong).as("n_promotes"),
          lit(equalAll).as("bundles_equal_full_promote"),
          lit(noopAll).as("repromote_noop"),
          lit(filesEq).as("files_eq_cells_all_shards"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x139_batched_pruned_ann" -> ((s, dir) => {
      // probe-locality BATCHING (VERDICT r11 missing #2 / wrong #3
      // made executable): the 200k rehearsal's honest limit was that
      // a broad batch saturates the probed-cell union — at nlist=64
      // this 48-query batch probes 60+ cells, so x123's partition
      // filter reads ~the whole encoded estate while witnessing
      // "pruned". ivfpqSearchPrunedBatched packs queries by probe
      // locality (sorted cell lists, greedy union budget) and runs
      // one file-pruned scan per sub-batch. The batch is the
      // production shape IN STRUCTURE: 4 queries from each of 12
      // clusters — same-cluster queries probe near-identical cells,
      // so locality packing lands ~2 clusters per sub-batch at
      // budget 16 instead of one query each. Pane pins: the
      // unbatched union saturation (the degeneracy, witnessed at
      // last), every sub-batch's union within budget, files read ==
      // cells per sub-batch (pruning restored), batched row-EQUAL
      // unbatched (packing changes what each scan reads, never what
      // any query scores), recall vs the exact twin. Same guarded
      // bundle as x123/x128 (read-only consumer).
      val n = 2000L; val nlist = 64; val nprobe = 8; val k = 5
      val m = 8; val budget = 16
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, 16)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-celllayout")
      if (!Similarity.indexExists(s, path, version)) {
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(lake,
          "vec_id", "embedding", nlist, m, 16,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndexCellLayout(path, version, c0, cb0, e0)
      }
      val (cents, codebook, enc0) =
        Similarity.loadIndexCellLayout(s, path, version)
      val encoded = Similarity.liveEncoded(enc0,
        Similarity.annTombstones(s, path)) // the x119 contract
      // 48 queries, 4 per cluster from 12 clusters (cluster = id
      // mod 64 by the lake recipe): broad enough to saturate the
      // single union, local enough that packing beats one-query
      // sub-batches
      val q = lake.filter(pmod(col("vec_id"), lit(64L)) < 12 &&
          col("vec_id") < 256).localCheckpoint(true)
      val rr = Similarity.rerankFor(n, nlist, nprobe)
      // the unbatched and batched scans are independent read-only
      // consumers of the same bundle — overlap them (graft.Par)
      val ((cellsU, unbatched), (subCells, batched)) =
        graft.Par.join2(
          {
            val (c, u) = Similarity.ivfpqSearchPruned(q,
              "vec_id", "embedding", encoded, cents, codebook, k,
              nprobe, m, rerank = rr, rerankSource = Some(lake))
            (c, u.localCheckpoint(true))
          },
          {
            val (sc, b) = Similarity.ivfpqSearchPrunedBatched(
              q, "vec_id", "embedding", encoded, cents, codebook, k,
              nprobe, m, rerank = rr, rerankSource = Some(lake),
              cellBudget = budget)
            (sc, b.localCheckpoint(true))
          })
      val (equal, filesEq) = graft.Par.join2(
        rowSetEqual(batched, unbatched),
        graft.Par.run(subCells.map { cells => () =>
          encoded.filter(col("cell").isInCollection(cells.toSeq))
            .select(input_file_name()).distinct().count() ==
            cells.length.toLong
        }).forall(identity))
      val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
        "embedding", k)
      exact.as("b").join(batched.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(48L).as("n_queries"),
          lit(nlist.toLong).as("n_cells_total"),
          lit(cellsU.length.toLong).as("n_cells_unbatched"),
          lit(math.rint(cellsU.length.toDouble / nlist * 10000)
            / 10000).as("union_frac_unbatched"),
          lit(subCells.length.toLong).as("n_subbatches"),
          lit(subCells.map(_.length).max.toLong)
            .as("max_subbatch_cells"),
          lit(subCells.forall(_.length <= budget))
            .as("all_within_budget"),
          // the locality witness: total file-opens across sub-batch
          // scans / the single union — near 1 = correlated batch,
          // the regime batching exists for (see the operator doc)
          lit(math.rint(subCells.map(_.length).sum.toDouble
            / cellsU.length * 10000) / 10000)
            .as("io_amplification"),
          lit(filesEq).as("files_eq_cells_all_subbatches"),
          lit(equal).as("batched_equals_unbatched"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x140_estate_reshard" -> ((s, dir) => {
      // the estate learns to GROW (VERDICT r11 missing #3): when the
      // live population outgrows shards x the cell clamp, rebuilding
      // wider in place is already clamped — the correct action is
      // ADDING shards, which changes the annShardKey routing hash
      // and so re-routes every id: a re-encode from the lake (the
      // dsirLedgerRebuild discipline on the ANN tier), executed by
      // the SAME closed loop as every other maintenance action.
      // Fixture: a 1-shard cell-layout estate of the 2k lake with 1%
      // standing deletes, registered at cellClamp=16 (the
      // deployment's per-index cell budget — the capacity knob that
      // makes the clamp arithmetic exercisable below 268M rows);
      // sized_shards_now=2 > 1 fires, opsLoop executes annReshard,
      // the after-poll reads quiet at 2 shards. Pane pins the loop
      // rows verbatim (x136 discipline) plus the re-shard's own
      // contracts: zero misrouted ids under the NEW hash, zero
      // forgotten ids resurfaced (tombstones carried, physically
      // folded), content == lake minus deletes, each shard row-equal
      // a fresh per-subset build (carry+compact == logical filter),
      // a fresh forget against the new estate passes
      // verifyRouting=true, and the merged pruned search holds
      // recall 1.0 vs the exact twin.
      import graft.operators.Advisors
      val m = 8; val ksub = 16; val k = 5; val n = 2000L
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val nl0 = Similarity.nlistFor(n)
      val v0 = Similarity.annIndexVersion(nl0, m, ksub)
      val p0 = tmpDir("x140_shard0")
      val (c0, cb0, enc0) = Similarity.ivfpqTrainEncode(lake,
        "vec_id", "embedding", nl0, m, ksub,
        coarseIters = 1, pqIters = 1)
      Similarity.persistIndexCellLayout(p0, v0, c0, cb0, enc0)
      val forgotten = lake
        .filter(pmod(col("vec_id"), lit(100L)) === 0L)
        .select(col("vec_id")).localCheckpoint(true) // 20 ids = 1%
      Similarity.annForget(p0, forgotten)
      val loop = Advisors.opsLoop(s, estates = Seq(
        Advisors.AnnEstateOps("estate", Seq(p0), Seq(v0), lake, m,
          ksub, (sh, nl) => tmpDir(s"x140_resharded_sh${sh}_nl$nl"),
          cellClamp = 16)))
      val est = loop.estates.head
      val shards = est.shardPaths.length
      // per-shard loads/counts and the fresh-build twins all target
      // DISJOINT shard state — run the independent branches
      // concurrently (graft.Par, guide §2.6); every count/equality
      // below is the same computation as the serial form
      val newEnc = graft.Par.run(
        est.shardPaths.zip(est.versions).map { case (p, v) => () =>
          val (_, _, e) = Similarity.loadIndexCellLayout(s, p, v)
          Similarity.liveEncoded(e, Similarity.annTombstones(s, p))
            .localCheckpoint(true)
        })
      val fTag = forgotten.withColumnRenamed("vec_id", "neighbor_id")
      val liveLake = lake.join(forgotten, Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      // carry+compact == fresh-build-then-logical-filter, per shard:
      // the fresh twin is an expensive lazy plan (train + encode), so
      // checkpoint it ONCE and compare in one symmetric-difference
      // action — the two-direction exceptAll form evaluated the whole
      // fresh pipeline twice
      val cols = Seq("cell", "neighbor_id", "sub", "code").map(col)
      def freshTwinEqual(sh: Int): Boolean = {
        val subset = lake.filter(
          Similarity.annShardKey(col("vec_id"), shards) === sh.toLong)
        val nl = Similarity.nlistFor(subset.count())
        val (c1, cb1, e1) = Similarity.ivfpqTrainEncode(subset,
          "vec_id", "embedding", nl, m, ksub,
          coarseIters = 1, pqIters = 1)
        val fresh = e1
          .join(fTag, Seq("neighbor_id"), "left_anti")
          .select(cols: _*).localCheckpoint(true)
        val got = newEnc(sh).select(cols: _*)
        rowSetEqual(got, fresh)
      }
      val witnessed = graft.Par.run[Any](
        newEnc.zipWithIndex.map { case (e, sh) => () =>
          e.select(col("neighbor_id")).distinct()
            .filter(Similarity.annShardKey(col("neighbor_id"), shards)
              =!= sh.toLong).count()
        } ++
        newEnc.map { e => () =>
          e.join(fTag, Seq("neighbor_id"), "left_semi").count()
        } ++
        Seq[() => Any](
          () => {
            val unionIds = newEnc.map(_.select(col("neighbor_id")))
              .reduce(_.unionAll(_)).distinct().localCheckpoint(true)
            unionIds.count() == liveLake.count() &&
              unionIds.join(liveLake.select(col("vec_id")
                .as("neighbor_id")), Seq("neighbor_id"), "left_anti")
                .count() == 0L
          }) ++
        (0 until shards).map(sh => () => freshTwinEqual(sh)))
      val misrouted = witnessed.take(shards)
        .map(_.asInstanceOf[Long]).sum
      val resurfaced = witnessed.slice(shards, 2 * shards)
        .map(_.asInstanceOf[Long]).sum
      val contentOk = witnessed(2 * shards).asInstanceOf[Boolean]
      val freshEqual = witnessed.drop(2 * shards + 1)
        .forall(_.asInstanceOf[Boolean])
      // the delete lifecycle against the NEW routing, mechanically
      // verified (annForgetSharded's verifyRouting reads each
      // shard's encoded set and fails on any orphan)
      val sample = liveLake
        .filter(pmod(col("vec_id"), lit(250L)) === 1L)
        .select(col("vec_id")).localCheckpoint(true)
      Similarity.annForgetSharded(est.shardPaths, sample,
        verifyRouting = true, versions = est.versions)
      val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
        .localCheckpoint(true)
      val perShard = graft.Par.run(
        est.shardPaths.zip(est.versions).map { case (p, v) => () =>
          val (cents, codebook, e0) =
            Similarity.loadIndexCellLayout(s, p, v)
          val live = Similarity.liveEncoded(e0,
            Similarity.annTombstones(s, p))
          val nl = cents.count().toInt
          val np = Similarity.nprobeFor(nl)
          Similarity.ivfpqSearchPruned(q, "vec_id", "embedding",
            live, cents, codebook, k, np, m,
            rerank = Similarity.rerankFor(n / shards, nl, np),
            rerankSource = Some(lake))._2
        })
      val merged = Similarity.ivfpqMergeTopK(perShard, k)
      val exact = Similarity.bruteTopKL2(q,
        liveLake.join(sample, Seq("vec_id"), "left_anti"),
        "vec_id", "embedding", k)
      val b = loop.before.head()
      val act = loop.actions.head()
      val af = loop.after.head()
      exact.as("b").join(merged.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .select(lit(b.getBoolean(3)).as("fired_before"),
          lit(b.getString(4)).as("reason_before"),
          lit(act.getBoolean(3)).as("executed"),
          lit(act.getString(4)).as("effect"),
          lit(!af.getBoolean(3)).as("quiet_after"),
          lit(af.getString(4)).as("reason_after"),
          lit(shards.toLong).as("n_shards_after"),
          lit(misrouted).as("n_misrouted"),
          lit(resurfaced).as("n_forgotten_resurfaced"),
          lit(contentOk).as("content_preserved"),
          lit(freshEqual).as("equals_fresh_build"),
          lit(true).as("forget_on_new_routing_ok"),
          col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x136b_ops_loop_standing" -> ((s, dir) => {
      // x136's AMORTIZED twin (VERDICT r11 missing #4): x136 prices
      // the loop on a by-design mutating estate (two trains + a
      // rebuild train per pass); a production scheduler's steady
      // state is the OPPOSITE — a healthy standing estate where the
      // poll reads mostly quiet and the occasional firing action is
      // cheap. Estate: the GUARDED x123 cell-layout bundle
      // (right-sized, compacted, no tombstones — rebuild and
      // compact both quiet; registered read-only, nothing fires on
      // it), the same bundle as a 1-shard ESTATE at the default
      // clamp (reshard quiet — the new estate tier's poll-only
      // cost, priced here), the light DSIR ledger (quiet), and the
      // x136 stale boilerplate ledger — the ONE firing action,
      // whose execution is a KB-grain histogram derive. The bench
      // contrast x136-vs-x136b prices the loop's own overhead
      // separately from its fixture's builds.
      import graft.operators.Advisors
      import graft.streaming.Streams
      val m = 8; val ksub = 16; val nlist = 64; val n = 2000L
      val lake = Similarity.hashBlobLake(s, n).localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, ksub)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-celllayout")
      if (!Similarity.indexExists(s, path, version)) {
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(lake,
          "vec_id", "embedding", nlist, m, ksub,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndexCellLayout(path, version, c0, cb0, e0)
      }
      val light = s.range(20).select(col("id").as("doc_id"),
        concat(lit("alpha beta w"), col("id")).as("text"),
        lit("en").as("lang"))
      val pLight = tmpDir("x136b_dsir_light")
      graft.operators.Mutations.seedEmptyLedger(s, pLight,
        Streams.dsirLedgerSchema)
      Streams.dsirLedgerFold(light, 0L, pLight, 4096)
      val pBp = tmpDir("x136b_bp")
      graft.operators.Mutations.seedEmptyLedger(s, pBp,
        Streams.boilerplateLedgerSchema)
      Streams.boilerplateLedgerFold(
        s.range(40).select(col("id").as("doc_id"),
          concat(lit("unique line "), col("id"), lit("\nfooter text"))
            .as("text")), 0L, pBp)
      val loop = Advisors.opsLoop(s,
        ann = Seq(Advisors.AnnOps("ann_standing", path, version,
          nlist, lake, m, ksub,
          nl => tmpDir(s"x136b_never_nl$nl"))),
        dsir = Seq(Advisors.DsirOps("dsir_light", pLight, Seq(light),
          nb => tmpDir(s"x136b_never_nb$nb"))),
        bp = Seq(Advisors.BoilerplateOps("bp_stale", pBp, 0L)),
        estates = Seq(Advisors.AnnEstateOps("estate_standing",
          Seq(path), Seq(version), lake, m, ksub,
          (sh, nl) => tmpDir(s"x136b_never_sh${sh}_nl$nl"))))
      loop.before.select(col("tier"), col("ledger"), col("action"),
          col("recommended").as("fired_before"),
          col("reason").as("reason_before"))
        .join(loop.actions, Seq("tier", "ledger", "action"))
        .join(loop.after.select(col("tier"), col("ledger"),
          col("action"),
          (!col("recommended")).as("quiet_after"),
          col("reason").as("reason_after")),
          Seq("tier", "ledger", "action"))
        .orderBy(col("tier"), col("ledger"), col("action"))
    }),

    "x141_filtered_batched_ann" -> ((s, dir) => {
      // x139 COMPOSED into the filtered router — the production-
      // complete form: the router's 1/sel-widened nprobe times a
      // production batch width is EXACTLY the regime that saturates
      // the probe union (the 200k rehearsal's honest limit hit
      // 2039/2048 cells on this very route), so x128's "pruned"
      // path reads ~the whole encoded estate on realistic batches.
      // With cellBudget set, the ANN branch runs the probe-locality
      // batched scans: same rows, same route, same preflight
      // discipline (measured on the batched plan), but every scan
      // opens <= budget cell directories. Pane: both routes taken,
      // the unbatched union saturation (frac ~1.0 at 48 queries x
      // widened nprobe 16 over 64 cells), the batched sub-batch
      // shape within budget, row equality between the two, zero
      // off-predicate rows, recall vs the exact FILTERED twin. Same
      // guarded bundle as x123/x128/x139 (read-only consumer).
      val n = 2000L; val nlist = 64; val k = 5; val m = 8
      // budget 20 > the widened nprobe 17, so same-cluster queries
      // (near-identical 17-cell probe sets) pack together instead
      // of one query per sub-batch
      val budget = 20
      val lake = Similarity.hashBlobLake(s, n)
        .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
        .localCheckpoint(true)
      val version = Similarity.annIndexVersion(nlist, m, 16)
      val path = annLedgerPath(version,
        s"${Similarity.hashBlobLakeKey(n)}-celllayout")
      if (!Similarity.indexExists(s, path, version)) {
        val (c0, cb0, e0) = Similarity.ivfpqTrainEncode(
          lake.drop("h4"), "vec_id", "embedding", nlist, m, 16,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndexCellLayout(path, version, c0, cb0, e0)
      }
      val (cents, codebook, enc0) =
        Similarity.loadIndexCellLayout(s, path, version)
      val encoded = Similarity.liveEncoded(enc0,
        Similarity.annTombstones(s, path)) // the x119 contract
      // the BROAD batch (x139's shape): 4 queries per cluster from
      // 12 clusters — with the 50% filter widening nprobe 8 -> 16,
      // the single union saturates
      val q = lake.filter(pmod(col("vec_id"), lit(64L)) < 12 &&
          col("vec_id") < 256).drop("h4").localCheckpoint(true)
      val pred = col("h4") < 2 // 50%, geometry-uncorrelated
      // the unbatched and batched routes are independent read-only
      // consumers of the same bundle — overlap their construction-
      // time preflights and checkpoints (graft.Par, guide §2.6)
      val ((r0, res0), (rb, resB)) = graft.Par.join2(
        {
          val r = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
            "embedding", pred, k, encoded, cents, codebook, nlist, m,
            bruteCutoff = 0L, pruneCells = true)
          (r, r.result.localCheckpoint(true))
        },
        {
          val r = Similarity.annTopKFilteredRouted(q, lake, "vec_id",
            "embedding", pred, k, encoded, cents, codebook, nlist, m,
            bruteCutoff = 0L, pruneCells = true, cellBudget = budget)
          (r, r.result.localCheckpoint(true))
        })
      val equal = rowSetEqual(resB, res0)
      val exact = Similarity.bruteTopKL2(q, lake.filter(pred),
        "vec_id", "embedding", k)
      val offPred = resB.join(
        lake.filter(!pred).select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_off_pred"))
      exact.as("b").join(resB.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(col("l.neighbor_id")).as("n_hit"))
        .join(offPred, lit(true), "left") // 1-row pane join idiom
        .select(lit(r0.route).as("route_unbatched"),
          lit(rb.route).as("route_batched"),
          lit(rb.nprobe.toLong).as("nprobe"),
          lit(rb.kPrime.toLong).as("k_prime"),
          lit(math.rint(r0.cellUnionFrac.getOrElse(0.0d) * 10000)
            / 10000).as("union_frac_unbatched"),
          lit(rb.subbatchCells.length.toLong).as("n_subbatches"),
          lit(rb.subbatchCells.map(_.length).max.toLong)
            .as("max_subbatch_cells"),
          lit(rb.subbatchCells.forall(_.length <= budget))
            .as("all_within_budget"),
          lit(math.rint(rb.subbatchCells.map(_.length).sum.toDouble
            / r0.probedCells.map(_.length).getOrElse(1) * 10000)
            / 10000).as("io_amplification"),
          lit(equal).as("batched_equals_unbatched"),
          col("n_off_pred"), col("n_exact"),
          round(col("n_hit").cast(DoubleType) / col("n_exact"), 4)
            .as("recall_filtered"),
          (col("n_hit").cast(DoubleType) / col("n_exact")
            >= lit(0.94d)).as("recall_ge_094"))
    }),

    "x88b_ivfpq_exact" -> ((s, dir) => {
      // the SAME IVFPQ machinery in its degenerate config — every cell
      // probed (nprobe = nlist) and ksub = |corpus| (every residual its
      // own codeword): integer residual arithmetic cancels the centroid
      // exactly, so assign/residual/encode/ADC are hash-checked against
      // the same DuckDB fixed-point brute oracle as x53b
      val emb = t(s, dir, "embeddings")
      Similarity.ivfpqTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, nlist = 4, nprobe = 4,
          m = 8, ksub = emb.count().toInt)
        .orderBy(col("query_id"), col("rank"))
    }),

    "x54_random_projection" -> ((s, dir) => {
      // Johnson–Lindenstrauss ±1 projection 64-d → 32-d — the cheap
      // dimension cut before any downstream similarity op (halves
      // every shuffle/broadcast byte). The contract asserts what JL
      // actually guarantees — distance preservation, not top-k order:
      // mean |cos_sketch − cos_full| over the query×corpus pairs ≤
      // 0.25 (measured 0.137–0.141 at sf0.01/0.001; theory ~1/√32).
      import graft.functions.VectorExprs
      val emb = t(s, dir, "embeddings")
      val proj = emb.select(col("vec_id"), col("embedding"),
        Similarity.randomProject(col("embedding"), 32).as("pv"))
      val qp = proj.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("pv").as("qp"))
      proj.join(broadcast(qp), col("qid") =!= col("vec_id"))
        .select(abs(
          VectorExprs.dot(col("qe"), col("embedding")) /
            (VectorExprs.norm(col("qe")) *
              VectorExprs.norm(col("embedding"))) -
          VectorExprs.dot(col("qp"), col("pv")) /
            (VectorExprs.norm(col("qp")) * VectorExprs.norm(col("pv"))))
          .as("e"))
        .agg(count(lit(1)).as("n_pairs"),
          (avg(col("e")) <= lit(0.25d)).as("cos_err_le_025"))
    }),

    "x55_bm25_search" -> ((s, dir) => {
      // BM25 ranked retrieval over the corpus for a 3-term probe query
      // — scores only the probe's postings (filter before aggregate),
      // top-k via TakeOrderedAndProject; rounded-then-ranked so tie
      // order is engine-identical
      TextOps.bm25Search(t(s, dir, "documents"), col("doc_id"),
        col("text"), Seq("hash", "vector", "spark"), k = 10)
    }),

    "x56_sorted_neighborhood" -> ((s, dir) => {
      // sorted-neighborhood candidate pairs (w=3) over part names,
      // verified by exact Levenshtein <= 4 — the sort-based third
      // blocking family next to LSH bands and postings joins
      Dedup.sortedNeighborhoodPairs(t(s, dir, "part"),
          col("p_partkey"), col("p_name"), w = 3, maxDist = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x57_winnowing_pairs" -> ((s, dir) => {
      // MOSS winnowing (SIGMOD'03): windowed-min k-gram fingerprints
      // (k=3, w=4, density ~2/(w+1)) + inverted-index postings join
      // with the x4b stop-fingerprint DF cutoff — the POSITIONAL
      // near-dup family next to MinHash (set) and SimHash (bitwise)
      TextOps.winnowingPairs(t(s, dir, "documents"), col("doc_id"),
          col("text"), k = 3, w = 4, minOverlap = 0.5, maxDocFreq = 100L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x58_leakage_safe_split" -> ((s, dir) => {
      // cluster-grain train/val/test split: every exact-dup cluster
      // inherits ONE split (the eval-contamination guard); the 1-row
      // audit aggregate pins max splits-per-cluster at 1 in the output
      val sp = Sampling.leakageSafeSplit(t(s, dir, "documents"),
        col("text"))
      val leak = sp.groupBy(col("cluster_fp"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(max(col("ns")).as("max_splits_per_cluster"))
      sp.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_fp")).as("n_clusters"))
        .crossJoin(leak) // 1-row scalar audit (the funnel idiom)
        .orderBy(col("split"))
    }),

    "x59_label_disagreement" -> ((s, dir) => {
      // kNN label-noise audit over the labeled embeddings: exact
      // fixed-point L2 top-5 at audit scale (cross-engine bit-exact;
      // ivfTopK/pqTopK are the stated candidate path at 100 TB),
      // majority-vote per vector, per-label disagreement rates
      val emb = t(s, dir, "embeddings")
      val nn = Similarity.bruteTopKL2(emb, emb, "vec_id", "embedding",
        k = 5)
      Similarity.labelDisagreement(nn, emb, "vec_id", "label")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("disagree"), 1L).otherwise(0L)).as("n_disagree"))
        .withColumn("disagree_rate",
          round(col("n_disagree").cast(DoubleType) / col("n_vecs"), 4))
        .orderBy(col("label"))
    }),

    "x79_ccnet_buckets" -> ((s, dir) => {
      // CCNet-style LM-score partitioning (Wenzek et al., LREC 2020):
      // docs scored by the corpus-trained unigram LM (x60's scorer),
      // split head/middle/tail by score terciles, per-bucket audit
      // stats — the classic keep-head/sample-middle/drop-tail corpus
      // cut. mean_logp is sum/count over the already-rounded scores
      // through DECIMAL — engine-order-free.
      val scored = TextOps.unigramLogProb(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      // ntile(3) over (avg_logp DESC, id) via the range-exchange global
      // numbering — struct(-score, id) ascending IS that sort order, the
      // same key encoding x67 uses; no data-grain global window remains,
      // and the doc total rides the metadata offsets window (keepTotal)
      Layout.globalRowNumber(scored,
          struct((-col("avg_logp")).as("negp"), col("id").as("id")),
          keepTotal = true)
        .withColumn("bucket",
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            Layout.ntileFromRowNum(col("row_num"), col("total"), 3)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          round(sum(col("avg_logp").cast("decimal(18,4)"))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_logp"))
        .orderBy(col("bucket"))
    }),

    "x60_unigram_logprob" -> ((s, dir) => {
      // KenLM-lite statistical quality: corpus-trained add-one unigram
      // LM, docs scored by mean token log-prob — vocab stays a
      // distributed hash join, never a driver table
      TextOps.unigramLogProb(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }),

    "x90_bigram_logprob" -> ((s, dir) => {
      // KenLM-lite order 2: bigram conditionals score word ORDER where
      // x60's unigram scores word choice — the second tier of the
      // statistical quality-filter stack. Bigrams come from array-
      // local adjacency (no doc-grain window shuffle)
      TextOps.bigramLogProb(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }),

    "x61_source_drift" -> ((s, dir) => {
      // per-source KL(source ‖ corpus) over the global top-50 tokens —
      // the mixture-drift monitor; top-k is TakeOrderedAndProject, the
      // KL state is (sources × 50) rows
      TextOps.sourceTokenDrift(t(s, dir, "documents"), col("source"),
          col("text"))
        .orderBy(col("source"))
    }),

    "x62_integrity_report" -> ((s, dir) => {
      // post-build star-schema validation: the reference's init.sql
      // PK/FK/NOT NULL/CHECK constraints reduced to one unioned
      // violation-count report (SURVEY §1.1); each check is its own
      // anti-join/aggregate subtree, parallelized by the planner
      val (li, ord) = (t(s, dir, "lineitem"), t(s, dir, "orders"))
      val (cust, nat) = (t(s, dir, "customer"), t(s, dir, "nation"))
      Quality.integrityReport(Seq(
        ("fk_lineitem_orders", "lineitem",
          Quality.fkOrphans(li, "l_orderkey", ord, "o_orderkey")),
        ("fk_orders_customer", "orders",
          Quality.fkOrphans(ord, "o_custkey", cust, "c_custkey")),
        ("fk_customer_nation", "customer",
          Quality.fkOrphans(cust, "c_nationkey", nat, "n_nationkey")),
        ("fk_supplier_nation", "supplier",
          Quality.fkOrphans(t(s, dir, "supplier"), "s_nationkey",
            nat, "n_nationkey")),
        ("pk_dup_orders", "orders",
          Quality.duplicateKeys(ord, Seq("o_orderkey"))),
        ("pk_dup_part", "part",
          Quality.duplicateKeys(t(s, dir, "part"), Seq("p_partkey"))),
        ("notnull_o_orderdate", "orders",
          ord.filter(col("o_orderdate").isNull)),
        ("check_price_cap_300k", "orders", // fires: data-dependent count
          ord.filter(!coalesce(col("o_totalprice") <= 300000.0d,
            lit(false)))),
        ("check_l_quantity_pos", "lineitem",
          li.filter(!coalesce(col("l_quantity") > 0.0d, lit(false))))))
        .orderBy(col("check_name"))
    }),

    "x63_threshold_sweep" -> ((s, dir) => {
      // dedup-threshold tuning table: ONE pass of exact-Jaccard
      // candidates at a low floor, bucketed into 0.05 score bands with
      // cumulative pair counts from the top — the operating threshold
      // is read off one tiny table instead of re-running the pair scan
      // per candidate threshold. The cumulative window runs over ~14
      // bucket rows (metadata, not data). A lower floor widens the
      // candidate pair space; at 100 TB run the sweep through
      // ngramJaccardPairsDfCut (x4b) so stop-shingles can't go
      // quadratic at the loose end.
      val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), threshold = 0.3)
      val w = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs
        .withColumn("bucket", floor(col("jaccard") * 20.0d) / 20.0d)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
        .withColumn("n_pairs_ge", sum(col("n_pairs")).over(w))
        .orderBy(col("bucket").desc)
    }),

    "x87_lsh_plan" -> ((s, dir) => {
      // LSH banding planned, not guessed (the lgkFor discipline for
      // MinHash): for each candidate dedup threshold, Dedup.bandsFor
      // picks the sharpest (bands, rows-per-band) split of the 32-hash
      // budget whose S-curve recall at the threshold still clears
      // 0.95 — recall-first because candidate generation + exact
      // verify makes false positives cheap and false negatives
      // unrecoverable. The emitted table is the audit: recall at the
      // threshold, collision probability 0.2 below it (the verify-load
      // proxy), and the recall_ok contract. The oracle REPLAYS the
      // whole selection in SQL over the divisor pairs of 32, so a
      // planner regression (not just a curve-math typo) breaks the row
      // hash. Pure planning table — 5 rows, no data scan; x2/er1 run
      // the (8,4) this planner reproduces at 0.8.
      val plans = Seq(0.5d, 0.6d, 0.7d, 0.8d, 0.9d).map { th =>
        val (b, r) = Dedup.bandsFor(th, k = 32, minRecall = 0.95)
        (th, b, r)
      }
      // recall_ok gates on the RAW recall expression (the same operand
      // bandsFor selects on), NOT the rounded display column: rounding
      // first would pass a raw recall in [0.94995, 0.95) that the
      // planner and the oracle both reject, breaking the row hash
      val rawRecall = lit(1.0d) -
        pow(lit(1.0d) - pow(col("threshold"), col("rows_per_band")),
          col("bands"))
      s.createDataFrame(plans)
        .toDF("threshold", "bands", "rows_per_band")
        .withColumn("recall_at_t", round(rawRecall, 4))
        .withColumn("p_below", round(lit(1.0d) -
          pow(lit(1.0d) - pow(col("threshold") - 0.2d,
            col("rows_per_band")), col("bands")), 4))
        .withColumn("recall_ok",
          rawRecall >= 0.95d || col("rows_per_band") === 1)
        .orderBy(col("threshold"))
    }),

    "x64_dedup_token_savings" -> ((s, dir) => {
      // the dedup report's headline number: token-weighted savings per
      // source if only the canonical (min-id) doc of each exact-dup
      // cluster is kept. One fingerprint window + one source-grain
      // aggregation — no join-back of text
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.ColFns.fingerprint(col("text")).as("fp"),
          graft.functions.ColFns.tokenCount(col("text")).as("n_toks"))
      val w = Window.partitionBy(col("fp"))
      val flagged = d.withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("removed", col("doc_id") =!= col("canonical_id"))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed_docs"),
          sum(col("n_toks")).as("total_tokens"),
          sum(when(col("removed"), col("n_toks")).otherwise(0L))
            .as("removed_tokens"))
        .withColumn("savings_pct",
          round(col("removed_tokens").cast(DoubleType) /
            col("total_tokens") * 100.0d, 2))
        .orderBy(col("source"))
    }),

    "x65_cross_source_leakage" -> ((s, dir) => {
      // which sources copy from each other: distinct 5-gram hash
      // postings, one self-join on the hash, |sources|²-bounded output
      // — the source-pairwise decontamination audit
      TextOps.crossSourceLeakage(t(s, dir, "documents"), col("source"),
          col("text"), n = 5)
        .orderBy(col("source_a"), col("source_b"))
    }),

    "x66_dedup_pr_eval" -> ((s, dir) => {
      // sketch-vs-truth evaluation: simhash banded near-dups (pred,
      // Hamming<=3) scored against exact 3-gram Jaccard >= 0.5 (truth)
      // — the precision/recall audit a pipeline runs before trusting a
      // sketch tier as its dedup gate; both sides full-outer join on
      // the pair key, one audit row out. On the driver corpus this
      // measures P=0.0017/R=0.12 — the quantified case for the x50
      // multi-tier design (simhash's bitwise metric is NOT a Jaccard
      // proxy at these operating points), which is precisely what the
      // audit exists to surface
      val d = t(s, dir, "documents")
      val pred = Dedup.simhashNearDups60(d, col("doc_id"), col("text"),
          maxHamming = 3)
        .select(col("id_a"), col("id_b")).withColumn("p", lit(1))
      val truth = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"),
          threshold = 0.5)
        .select(col("id_a"), col("id_b")).withColumn("tr", lit(1))
      pred.join(truth, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(coalesce(col("p"), lit(0))).cast("long").as("n_pred"),
          sum(coalesce(col("tr"), lit(0))).cast("long").as("n_truth"),
          sum(when(col("p") === 1 && col("tr") === 1, 1L).otherwise(0L))
            .as("tp"))
        .withColumn("precision",
          round(col("tp").cast(DoubleType) / col("n_pred"), 4))
        .withColumn("recall",
          round(col("tp").cast(DoubleType) / col("n_truth"), 4))
    }),

    "x67_balanced_shards" -> ((s, dir) => {
      // token-balanced export sharding: rank docs by size (desc, id
      // tiebreak) with the scale-correct global numbering (p20's range
      // exchange — no single-partition window), then round-robin the
      // rank across 8 shards — the LPT-style interleave that keeps
      // shard token totals within a doc of each other without any
      // sequential greedy loop
      val d = t(s, dir, "documents").select(col("doc_id"),
        graft.functions.ColFns.tokenCount(col("text")).as("n_toks"))
      Layout.globalRowNumber(d,
          struct((-col("n_toks")).as("negtok"), col("doc_id").as("id")))
        .withColumn("shard", col("row_num") % 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("shard_tokens"))
        .orderBy(col("shard"))
    }),

    "x68_kfold_split" -> ((s, dir) => {
      // leakage-safe 5-fold CV assignment: folds keyed on the dup-
      // cluster fingerprint (x58 generalized); audit column pins
      // max folds-per-cluster at 1
      val sp = Sampling.kFoldSplit(t(s, dir, "documents"), col("text"),
        k = 5)
      val leak = sp.groupBy(col("cluster_fp"))
        .agg(countDistinct(col("fold")).as("nf"))
        .agg(max(col("nf")).as("max_folds_per_cluster"))
      sp.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_fp")).as("n_clusters"))
        .crossJoin(leak) // 1-row scalar audit (the funnel idiom)
        .orderBy(col("fold"))
    }),

    "x69_k_anonymity" -> ((s, dir) => {
      // k-anonymity audit (privacy family, next to x16's PII scrub):
      // group sizes over the quasi-identifier tuple; rows in groups
      // smaller than k are re-identifiable. One hash aggregation over
      // the QI key + one tiny rollup of the group-size table
      val k = 5L
      val groups = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("sz"))
      groups.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_groups_below_k"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L))
          .as("n_rows_at_risk"),
        min(col("sz")).as("min_group_size"))
    }),

    "f17_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC normalization via the native codegen'd
      // NfcNormalizeExpr — the canonicalize-before-hashing step every
      // multilingual dedup pipeline needs (composed vs decomposed
      // accents hash to different shingles). The synthetic corpus is
      // ASCII (trivially NFC), so the query injects the cases that
      // exercise it — combining acute (e+U+0301), decomposed Hangul
      // jamo (U+1100 U+1161), ring (A+U+030A) — and the oracle
      // hash-checks against DuckDB's nfc_normalize: a full
      // value-equality gate on a native expression, not a contract row
      // decomposed escapes (never composed literals) so the expression
      // has real composition work on every row, matching the oracle's
      // chr()-built input: "Cafe"+U+0301, Hangul jamo pair, "A"+U+030A
      val suffix = " Cafe\u0301 \u1100\u1161 A\u030A"
      t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"),
          graft.functions.NfcNormalizeExpr.nfc(
            concat(col("text"), lit(suffix))).as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")))
        .orderBy(col("doc_id"))
    }),

    "x70_compression_ratio" -> ((s, dir) => {
      // DEFLATE compression-ratio repetitiveness signal
      // (DeflateRatioExpr): quality filters drop documents that
      // compress "too well" (boilerplate/generator loops); natural
      // prose lands ~0.4-1.0 on this corpus (measured min 0.398, max
      // 1.019, mean 0.554 at sf0.01). zlib output is engine-internal
      // → contract oracle (the x53 pattern): range bounds over the
      // corpus plus an ordering probe — a 30×-repeated sentence
      // (ratio ≈ 0.048) must compress at least 3× better than the
      // corpus mean
      import graft.functions.DeflateRatioExpr.deflateRatio
      val probe = deflateRatio(
        lit("the quick brown fox jumps over the lazy dog " * 30))
      t(s, dir, "documents")
        .select(deflateRatio(col("text")).as("ratio"))
        .agg(count(lit(1)).as("n_docs"),
          (min(col("ratio")) > lit(0.2d)).as("all_gt_02"),
          (max(col("ratio")) <= lit(1.3d)).as("all_le_13"),
          (probe < avg(col("ratio")) / lit(3.0d)).as("probe_lt_third_mean"))
    }),

    "x71_sq8_ann_topk" -> ((s, dir) => {
      // SQ8 int8-scan ANN (Similarity.sq8TopK): integer-dot shortlist
      // over 4×-compressed vectors, exact rerank of the top-20. Gate
      // is the x7/x15 recall contract vs exact brute force — int8
      // rounding error is ~1/254 per coordinate, so shortlist-20 on
      // this corpus holds recall ≥ 0.9 with real margin (measured 1.0
      // at sf0.01/0.001); the machinery itself is hash-checked
      // exactly by the x71b degenerate twin
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val sq = Similarity.sq8TopK(q, emb, "vec_id", "embedding",
        k = 5, shortlist = 20)
      val exact = Similarity.bruteTopK(q, emb, "vec_id", "embedding", 5)
      exact.as("b").join(sq.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .groupBy(col("b.query_id"))
        .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
          .as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= lit(0.9d)).as("recall_ge_09"))
    }),

    "x71b_sq8_exact" -> ((s, dir) => {
      // shortlist ≥ |corpus| degenerates sq8TopK to exact brute force
      // (every candidate survives the int8 shortlist and the rerank
      // is full-precision) — the x15b/x53b pattern: hash-checks the
      // quantize/shortlist/rerank machinery against the DuckDB
      // brute-force oracle independent of the recall contract
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.sq8TopK(q, emb, "vec_id", "embedding",
          k = 5, shortlist = Int.MaxValue)
        .orderBy(col("query_id"), col("rank"))
    }),

    "x72_temporal_split" -> ((s, dir) => {
      // Time-based train/eval split — the leakage-safe split for
      // anything with temporal structure (x58/x68 guard near-dup
      // leakage; this guards FUTURE leakage: eval must be strictly
      // later than training data). Cutoff is min + 80% of the time
      // span in integer microseconds — exact arithmetic both engines
      // reproduce bit-for-bit, unlike percentile semantics which
      // diverge across engines. Scalar bounds ride the 1-row
      // broadcast-crossJoin idiom (a15/x54 pattern); the split itself
      // is a stateless per-row comparison that rides the ingest scan
      // at any scale
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("ts"))
      val bounds = ev.agg(
        min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("split",
          when(col("ts_us") <= col("lo") +
            floor((col("hi") - col("lo")) * 0.8d).cast(LongType),
            lit("train")).otherwise(lit("eval")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy(col("split"))
    }),

    "x74_theta_overlap" -> ((s, dir) => {
      // sketch-tier contamination screen: per-source theta sketches of
      // 5-gram hashes (exactly x65's gram semantics), pairwise
      // |A∩B| via set-op estimates over the 20 serialized sketches —
      // KBs of state instead of x65's postings self-join. At 100 TB
      // the sketches ride the ingest scan (one agg shuffle on source),
      // pairs are |sources|², and history never rescans. Gated on the
      // exact x65 counts with the a4/m8 tolerance pattern.
      //
      // lgk is SIZED, not hardcoded (the round-4 sf1 rehearsal showed
      // hardcoded 14 silently breaking the 5% contract at 10×):
      // SketchFns.lgkFor turns the measured overlap·θ ≳ (σ/ε)²
      // envelope into the lgk that resolves overlaps down to 1600
      // grams at 5%/2σ. The preflight feeding it is a doc-grain TOKEN
      // count (Σ tokens−4 per source = total 5-grams, an upper bound
      // on DISTINCT grams — always safe, since a larger maxDistinct
      // only raises lgk): one cheap scan with no gram explode and no
      // distinct machinery — the first preflight draft paid a second
      // gram-explode + approx_count_distinct pass, measured +61% on
      // the whole query. The bound overshoots on dup-heavy corpora
      // (distinct ≪ total), costing at most sketch-memory headroom;
      // the precise distinct form is the standing x80 ledger, which a
      // production deployment reads instead of any rescan. The
      // preflight collect is a 1-row scalar probe (a15 idiom). Upper
      // bound ≥ distinct also means the oracle-scale run is always
      // exact-mode (k ≥ n), keeping the flag deterministic.
      import graft.functions.SketchFns
      val lgk = SketchFns.lgkFor(minOverlap = 1600,
        maxDistinct = thetaPreflightUpperBound(s, dir))
      thetaOverlapScreen(s, dir, lgk)
    }),

    "x74b_theta_overlap_ledger" -> ((s, dir) => {
      // the PRODUCTION preflight form x74's scaladoc names: size the
      // contamination-screen sketches from the STANDING x80
      // distinct-estimate ledger instead of the token-count upper
      // bound, eliminating the bound's overshoot on dup-heavy corpora
      // (distinct ≪ total grams). The ledger is per-source theta
      // DISTINCT-gram estimates persisted as parquet (m8's standing-
      // state discipline) and READ BACK to feed lgkFor — in
      // production the build rides the ingest aggregation once and
      // every later screen pays only this KB-scale read; building it
      // here keeps the query self-contained. The fed estimate is
      // padded ×1.05 (theta's own error bar, per lgkFor's scaladoc)
      // before sizing, so at oracle scale the sized sketch stays
      // exact-mode (k ≥ n) and the flag deterministic; Round12Spec
      // pins ledger-fed lgk ≤ upper-bound lgk with the contract
      // holding at both sizes.
      import graft.functions.SketchFns
      val ledgerPath = tmpDir("x74b_ledger")
      sourceDistinctLedger(s, dir).write.mode("overwrite")
        .parquet(ledgerPath)
      val maxEst = Option(s.read.parquet(ledgerPath)
          .agg(max(col("est_distinct"))).collect()(0).get(0))
        .map(_.asInstanceOf[Double]).getOrElse(1.0d)
      val lgk = SketchFns.lgkFor(minOverlap = 1600,
        maxDistinct = math.max(1L, math.ceil(maxEst * 1.05d).toLong))
      thetaOverlapScreen(s, dir, lgk)
    }),

    "x89_freq_items_ledger" -> ((s, dir) => {
      // heavy-hitter tier of the sketch family (theta = distinct,
      // KLL = distribution, this = WHICH items dominate): per-source
      // Misra-Gries token sketches (KBs riding the ingest agg) merge
      // into a corpus sketch; "what dominates" reads the ledger, never
      // re-scans text. Oracle strategy: frequent-items ESTIMATES after
      // a purge depend on merge order (not fixed under Spark's shuffle
      // races), but the lb ≤ true ≤ ub guarantee holds for ANY order —
      // so the gate probes the exactly-computed top-5 tokens against
      // the merged sketch's deterministic bounds (the FreqExprs
      // scaladoc spells out the discipline; the exact-regime hash
      // equivalence is spec-pinned in Round11Spec)
      import graft.functions.FreqFns
      val docs = t(s, dir, "documents")
      val toks = split(trim(regexp_replace(lower(col("text")),
        "\\s+", " ")), " ")
      val perSource = docs
        .select(col("source"), explode(toks).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("source"))
        .agg(FreqFns.freqAgg(col("tok"), 1024).as("sk"))
      // n_sources from the DOCS table (countDistinct — both engines
      // agree even for token-less or NULL sources; counting ledger
      // rows instead would silently diverge from the oracle on a
      // source whose docs are all whitespace)
      val nSrc = docs.agg(countDistinct(col("source")).as("n_sources"))
      val merged = perSource
        .agg(FreqFns.freqMergeAgg(col("sk"), 1024).as("sk"))
        .crossJoin(broadcast(nSrc)) // 1-row scalar idiom
      TextOps.freqBoundsContract(docs, merged).orderBy(col("token"))
    }),

    "x85_source_quantiles" -> ((s, dir) => {
      // per-source length-distribution quantiles from GROUPED KLL
      // state (one sketch column per source — m9's ledger discipline
      // at group grain): the mixture-planning input "how long are
      // this source's documents" without per-group sorts. Rank
      // contract bound 0.08: at 25 docs/source the discretization
      // floor alone is 1/25 both ways (±0.04); at corpus scale that
      // vanishes and KLL's ~0.9% (k=400) dominates — the bound covers
      // both regimes with margin.
      import graft.functions.SketchFns
      val v = t(s, dir, "documents")
        .select(col("source"), col("n_chars").cast(DoubleType).as("v"))
      val sk = v.groupBy(col("source"))
        .agg(SketchFns.kllAgg(col("v"), 400).as("sk"),
          count(lit(1)).as("n_docs"))
      val est = sk.select(col("source"), col("n_docs"),
        SketchFns.kllQuantile(col("sk"), lit(0.5d)).as("p50"),
        SketchFns.kllQuantile(col("sk"), lit(0.9d)).as("p90"))
      v.join(broadcast(est), Seq("source"))
        .groupBy(col("source"), col("n_docs"))
        .agg(
          (sum(when(col("v") <= col("p50"), 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1))).as("r50"),
          (sum(when(col("v") <= col("p90"), 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1))).as("r90"))
        .select(col("source"), col("n_docs"),
          (abs(col("r50") - 0.5d) <= 0.08d).as("p50_rank_ok"),
          (abs(col("r90") - 0.9d) <= 0.08d).as("p90_rank_ok"))
        .orderBy(col("source"))
    }),

    "x80_dedup_preflight" -> ((s, dir) => {
      // pre-flight dedup cost model: per source, what would gram-level
      // dedup save — total grams vs distinct grams as a duplication
      // factor. The theta estimate is the PLANNING number (one pass
      // riding the ingest scan, no distinct shuffle needed at scale);
      // the exact distinct here is the a4-pattern gate on it. x64
      // audits savings AFTER dedup ran; this prices them before
      // paying for it.
      import graft.functions.SketchFns
      val toks = split(trim(regexp_replace(lower(col("text")),
        "\\s+", " ")), " ")
      val grams = t(s, dir, "documents")
        .select(col("source"), toks.as("__t"))
        .filter(size(col("__t")) >= 5)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("__t")) - 4),
            i => ColFns.portableHash60(
              concat_ws(" ", slice(col("__t"), i, lit(5)))))).as("g"))
      grams.groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("g")).as("n_distinct"),
          SketchFns.thetaEstimate(SketchFns.thetaAgg(col("g"), 14))
            .as("est"))
        .select(col("source"), col("n_grams"), col("n_distinct"),
          round(col("n_grams").cast(DoubleType) /
            col("n_distinct").cast(DoubleType), 4).as("dup_factor"),
          Mutations.toleranceFlag(col("n_distinct"), col("est"), 0.05)
            .as("est_within_5pct"))
        .orderBy(col("source"))
    }),

    "x75_theta_novelty" -> ((s, dir) => {
      // novelty curve per ingest batch — "how much NEW content does
      // each crawl snapshot add" (the metric that decides when more
      // crawling stops paying for itself). Batches are doc_id mod 3;
      // per-batch theta sketches of gram hashes PERSIST as the ledger
      // state; novel(b) = |sk_b \ ∪(prior sketches)| via
      // graft_theta_union_agg + a-not-b — per-batch cost is one scan
      // of THAT batch, never a history rescan (m5/m8's ledger
      // discipline for set state). Exact dual: first-seen-batch =
      // min(batch) per gram, one agg. The per-batch sketches here
      // exceed exact mode at union time, so this query exercises real
      // estimation; 5% bound ≈ 6σ at lgk=14.
      import graft.functions.SketchFns
      val toks = split(trim(regexp_replace(lower(col("text")),
        "\\s+", " ")), " ")
      val grams = t(s, dir, "documents")
        .select((col("doc_id") % 3).as("batch"), toks.as("__t"))
        .filter(size(col("__t")) >= 5)
        .select(col("batch"),
          explode(transform(sequence(lit(1), size(col("__t")) - 4),
            i => ColFns.portableHash60(
              concat_ws(" ", slice(col("__t"), i, lit(5)))))).as("g"))
      val sk = grams.groupBy(col("batch"))
        .agg(SketchFns.thetaAgg(col("g"), 14).as("sk"))
      val prior = sk.as("b").join(sk.as("p"), col("p.batch") < col("b.batch"))
        .groupBy(col("b.batch").as("batch"))
        .agg(SketchFns.thetaUnionAgg(col("p.sk"), 14).as("prior_sk"))
      val est = sk.join(prior, Seq("batch"), "left")
        .select(col("batch"),
          when(col("prior_sk").isNull, SketchFns.thetaEstimate(col("sk")))
            .otherwise(SketchFns.thetaAnotBEstimate(col("sk"),
              col("prior_sk"))).as("est"))
      val exact = grams.groupBy(col("g")).agg(min(col("batch")).as("batch"))
        .groupBy(col("batch")).agg(count(lit(1)).as("n_novel"))
      est.join(exact, Seq("batch"))
        .select(col("batch"), col("n_novel"),
          Mutations.toleranceFlag(col("n_novel"), col("est"), 0.05)
            .as("est_within_5pct"))
        .orderBy(col("batch"))
    }),

    "f20_approx_distinct_rule" -> ((s, dir) => {
      // the injected optimizer rule (rung c): with
      // spark.graft.approxDistinct=true, COUNT(DISTINCT x) rewrites
      // to a theta estimate IN THE OPTIMIZER — same user code, one
      // conf flip. The flag is read at optimization time, so the
      // approximate branch materializes (a15-style scalar probe)
      // while the flag is on; `rule_fired` pins that the rewrite
      // actually happened by checking the executed plan, and the
      // estimate gates on the exact count (a4 pattern; exact-mode
      // theta at this cardinality).
      // The probe runs on a CLONED session (newSession: own conf +
      // optimizer, shared context) so the session-global flag flip
      // can never leak into a query optimized concurrently on `s` —
      // the flag is on only inside the clone, for the clone
      val key = graft.plans.ApproxDistinctRule.flagKey
      val (est, fired) = {
        val probe = s.newSession()
        graft.plans.ApproxDistinctRule.install(probe)
        probe.conf.set(key, "true")
        val df = t(probe, dir, "events")
          .agg(countDistinct(col("user_id")).as("est"))
        val v = df.collect()(0).getLong(0)
        (v, df.queryExecution.executedPlan.toString
          .contains("graft_theta_agg"))
      }
      val events = t(s, dir, "events")
      events.agg(countDistinct(col("user_id")).as("exact_distinct"))
        .select(col("exact_distinct"),
          Mutations.toleranceFlag(col("exact_distinct"), lit(est), 0.05)
            .as("est_within_5pct"),
          lit(fired).as("rule_fired"))
    }),

    "f19_jaro_winkler" -> ((s, dir) => {
      // native Jaro-Winkler (graft_jaro_winkler) scored over er1's SNM
      // neighbor pairs — the ER similarity Spark lacks (levenshtein is
      // a distance; MDM name matching wants prefix-weighted
      // similarity). Semantics pinned to DuckDB's
      // jaro_winkler_similarity (bit-exact on a 500-pair fuzz), so
      // this is a FULL hash oracle for the native expression
      val w = Window.partitionBy(col("blk")).orderBy(col("nm"), col("id"))
      t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("nm"),
          substring(col("p_name"), 1, 1).as("blk"))
        .withColumn("nm2", lead(col("nm"), 1).over(w))
        .filter(col("nm2").isNotNull)
        .select(col("id"),
          round(graft.functions.JaroWinklerExpr.jaroWinkler(
            col("nm"), col("nm2")), 4).as("jw"))
        .orderBy(col("id"))
    }),

    "x78_benford_audit" -> ((s, dir) => {
      // Benford first-digit audit: natural multi-scale amounts follow
      // P(d) = log10(1 + 1/d); strong deviation flags fabricated or
      // truncated numerics — the numeric-column cousin of x77's
      // token-distribution check. One aggregation over first digits;
      // the chi-square statistic is driver-free arithmetic on the
      // 9-row digit table. Expected probabilities are written as
      // log(10, …) in BOTH engines so the constants agree bit-for-bit
      val digits = t(s, dir, "orders")
        .select(substring(col("o_totalprice").cast("string"), 1, 1)
          .cast(IntegerType).as("d"))
        .filter(col("d").between(1, 9))
        .groupBy(col("d")).agg(count(lit(1)).as("observed"))
      val total = digits.agg(sum(col("observed")).as("n"))
      digits.crossJoin(broadcast(total)) // 1-row scalar idiom (a15/x72)
        .withColumn("expected_p",
          round(log(10.0d, lit(1.0d) + lit(1.0d) / col("d")), 6))
        .withColumn("observed_p",
          round(col("observed").cast(DoubleType) /
            col("n").cast(DoubleType), 6))
        .withColumn("abs_dev",
          round(abs(col("observed_p") - col("expected_p")), 6))
        .select(col("d"), col("observed"), col("expected_p"),
          col("observed_p"), col("abs_dev"))
        .orderBy(col("d"))
    }),

    "x77_zipf_fit" -> ((s, dir) => {
      // Zipf exponent of the token distribution: natural text fits
      // ln(freq) ≈ c − s·ln(rank) with s ≈ 1; hard deviation flags
      // templated/synthetic/boilerplate corpora — the corpus-LEVEL
      // health check next to per-doc quality (x9) and drift (x60).
      // OLS over the top-200 tokens in log-log space; regression term
      // sums ride DECIMAL (a22's moment discipline) with ln terms
      // rounded to 12 decimals first, so both engines add identical
      // values in any order. The window ranks ≤200 rows (explicitly
      // tiny after the distributed TakeOrdered — not a global window
      // over the vocab). On the driver corpus this measures −0.18
      // over a 31-token vocabulary — i.e. the check CORRECTLY flags
      // the synthetic generator's text as non-Zipfian, which is
      // precisely the signal it exists to produce.
      val toks = t(s, dir, "documents").select(
        explode(regexp_extract_all(lower(col("text")),
          lit("\\S+"), lit(0))).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(200)
      val w = Window.orderBy(col("cnt").desc, col("tok").asc)
      val d = (c: Column) => c.cast("decimal(28,12)")
      val sums = top.withColumn("rank", row_number().over(w))
        .withColumn("xr", round(log(col("rank").cast(DoubleType)), 12))
        .withColumn("yr", round(log(col("cnt").cast(DoubleType)), 12))
        .agg(count(lit(1)).as("n"),
          sum(d(col("xr"))).cast(DoubleType).as("sx"),
          sum(d(col("yr"))).cast(DoubleType).as("sy"),
          sum(d(round(col("xr") * col("xr"), 12))).cast(DoubleType)
            .as("sxx"),
          sum(d(round(col("xr") * col("yr"), 12))).cast(DoubleType)
            .as("sxy"))
      sums.select(col("n").as("n_ranked"),
        round((col("n").cast(DoubleType) * col("sxy") -
            col("sx") * col("sy")) /
          (col("n").cast(DoubleType) * col("sxx") -
            col("sx") * col("sx")), 6).as("zipf_slope"))
    }),

    "x21_profile" -> ((s, dir) => {
      // one-pass column profiling (nulls / exact distinct / lex min-max)
      Quality.profile(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
        .orderBy(col("column"))
    }),

    "x82_ann_tuning_curve" -> ((s, dir) => {
      // IVF operating-point sweep: recall@5 vs brute for nprobe ∈
      // {1,2,4,8,16} from ONE trained+assigned index — the tuning
      // curve that prices the recall/cost trade before a deployment
      // picks its point (x15 fixes one point; this sweeps the knob).
      // Contracts, not values: recall is non-decreasing in nprobe
      // (probing more cells only grows each query's candidate set)
      // and nprobe = nlist is provably exact (x15b's argument), so
      // the curve must end at 1.0.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val cents = Similarity.ivfTrain(emb, "vec_id", "embedding",
        nlist = 16).localCheckpoint(true)
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        cents).localCheckpoint(true)
      val brute = Similarity.bruteTopK(q, emb, "vec_id", "embedding",
        k = 5).localCheckpoint(true)
      val points = Seq(1, 2, 4, 8, 16).map { np =>
        val r = Similarity.ivfSearchAssigned(q, "vec_id", "embedding",
          assigned, cents, k = 5, nprobe = np)
        brute.as("b").join(r.as("l"),
            col("b.query_id") === col("l.query_id") &&
              col("b.neighbor_id") === col("l.neighbor_id"), "left")
          .agg((count(col("l.neighbor_id")).cast(DoubleType) /
            count(lit(1))).as("recall"))
          .select(lit(np).as("nprobe"), col("recall"))
      }.reduce(_ unionByName _)
      val w = Window.orderBy(col("nprobe")) // 5 rows — explicitly tiny
      points
        .withColumn("prev", lag(col("recall"), 1).over(w))
        .select(col("nprobe"),
          ((col("prev").isNull || col("recall") >= col("prev")) &&
            (col("nprobe") =!= 16 || col("recall") === 1.0d)).as("ok"))
        .orderBy(col("nprobe"))
    }),

    "x83_embed_norm_screen" -> ((s, dir) => {
      // embedding sanity screen: vector-norm distribution + per-vector
      // z-score flags — the cheap pre-index gate that catches broken
      // encoders (all-zero vectors, exploding norms, truncated dims)
      // before they poison an ANN index or a cosine threshold. Pure
      // column arithmetic; moments ride DECIMAL (a22 discipline) so
      // mean/std agree across engines
      val d = (c: Column) => c.cast("decimal(28,8)")
      val e = t(s, dir, "embeddings").select(col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, v) => acc + v.cast(DoubleType) * v.cast(DoubleType))), 6)
          .as("nrm"),
        size(col("embedding")).as("dim"))
      val stats = e.agg(count(lit(1)).as("n"),
        sum(d(col("nrm"))).cast(DoubleType).as("s1"),
        sum(d(round(col("nrm") * col("nrm"), 8))).cast(DoubleType)
          .as("s2"),
        countDistinct(col("dim")).as("n_dims"))
      e.crossJoin(broadcast(stats)) // 1-row scalar idiom
        .withColumn("mean", col("s1") / col("n"))
        // greatest(...,0): on the degenerate all-equal-norm corpus FP
        // rounding can push s2/n - mean² a hair negative, and sqrt of
        // that is NaN — which the std===0 guard below would MISS (Spark
        // orders NaN above every double, so std > 0 holds). Clamp;
        // the DuckDB oracle mirrors the clamp
        .withColumn("std", sqrt(greatest(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n")), lit(0.0d))))
        .select(col("vec_id"), col("nrm"),
          // unit-normalized corpora (this one) have std = 0 — the
          // degenerate-but-healthy case; z pins to 0 rather than
          // dividing by zero, and nothing is an outlier
          when(col("std") === 0.0d, lit(0.0d))
            .otherwise(round((col("nrm") - col("mean")) / col("std"), 4))
            .as("z"),
          (col("std") > 0.0d &&
            abs(col("nrm") - col("mean")) > lit(3.0d) * col("std"))
            .as("is_outlier"),
          (col("n_dims") === 1).as("dims_consistent"))
        .orderBy(col("vec_id"))
    }),

    "x19_embed_quantize" -> ((s, dir) => {
      // int8 embedding quantization: per-vector scale + max dequant
      // error; the quantized ints themselves are oracle-checked via
      // their sum (bit-exact: floor-based half-up rounding both sides)
      val emb = t(s, dir, "embeddings")
      val q = emb.withColumn("quant",
        Similarity.quantizeInt8(col("embedding")))
      q.select(col("vec_id"),
          round(col("quant.scale"), 4).as("scale"),
          aggregate(col("quant.q"), lit(0L),
            (acc, v) => acc + v.cast(LongType)).as("q_sum"),
          (Similarity.dequantError(col("embedding"), col("quant")) <=
            lit(0.005d)).as("err_ok"))
        .orderBy(col("vec_id"))
    }),

    // ---- LLM-pipeline: text analysis (x8..x11) -------------------------
    "x8_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "x86_quality_curriculum" -> ((s, dir) => {
      // curriculum phasing by quality: docs ranked by x9's quality
      // score, token budget split into thirds along that order — the
      // train-on-best-first schedule (phase 1 = highest-quality third
      // of TOKENS, not docs). The cumulative token sum rides the
      // range-partitioned count-and-offset prefix (Layout.
      // globalPrefixSum) — one range exchange plus ≤32 metadata
      // offset rows, never a single-partition window over doc rows;
      // the grand token total rides the same metadata window
      // (keepTotal) instead of re-running qualityFeatures for a
      // scalar. Score ties break by doc_id so both engines phase
      // identically.
      val q = TextOps.qualityFeatures(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      Layout.globalPrefixSum(q, col("n_tokens"),
          struct((-col("quality_score")).as("negq"), col("id").as("id")),
          keepTotal = true)
        .withColumn("phase",
          when(col("cum") * 3 <= col("total"), 1)
            .when(col("cum") * 3 <= col("total") * 2, 2)
            .otherwise(3))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("quality_score")).as("min_score"),
          max(col("quality_score")).as("max_score"))
        .orderBy(col("phase"))
    }),

    "x91_gopher_rules" -> ((s, dir) => {
      // the published Gopher heuristic bundle (Rae et al. 2021 App. A)
      // as one doc-grain flag table — the concrete rule set most
      // corpus pipelines start from, full hash oracle per rule
      TextOps.gopherRules(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }),

    "x91b_gopher_audit" -> ((s, dir) => {
      // the per-rule pass-rate pane for the Gopher bundle — one row
      // per rule with (n_pass, pass_frac), run on the PUBLISHED probe
      // list on purpose: a constant-false gate (round 5's r7 on this
      // corpus: 0%) is then visible in query output instead of
      // discoverable only by joining x91's doc-grain flags yourself.
      // This is the audit a pipeline operator reads BEFORE trusting
      // the conjunction gate; one doc-grain aggregation, 8 output rows.
      val flags = TextOps.gopherRules(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      val rules = Seq("r1_wordcount", "r2_wordlen", "r3_symbols",
        "r4_bullets", "r5_ellipsis", "r6_alpha", "r7_stopwords", "pass")
      flags.select(explode(array(rules.map(r =>
          struct(lit(r).as("rule"),
            col(r).cast(IntegerType).as("hit"))): _*)).as("e"))
        .select(col("e.rule").as("rule"), col("e.hit").as("hit"))
        .groupBy(col("rule"))
        .agg(count(lit(1)).as("n_docs"), sum(col("hit")).as("n_pass"))
        .withColumn("pass_frac", round(
          col("n_pass").cast(DoubleType) / col("n_docs"), 4))
        .orderBy(col("rule"))
    }),

    "x95_hybrid_rrf" -> ((s, dir) => {
      // Hybrid retrieval: sparse (per-query-doc BM25 "more like
      // this", TextOps.bm25MoreLikeThis) ⊕ dense (exact cosine
      // top-k) fused by reciprocal-rank fusion — the standard RAG
      // retrieval combiner, needing no cross-branch score
      // calibration because it fuses RANKS (engine-exact ints).
      // Each branch arrives k-bounded (top-20/query), so fusion
      // touches ≤ 40 rows/query at any corpus size; at 100 TB the
      // dense branch swaps bruteTopK for annTopKAutoSized (x93b) and the
      // sparse branch's postings join is the x55 shape — this query
      // pins the fusion algebra against both.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val sparse = TextOps.bm25MoreLikeThis(docs, col("doc_id"),
          col("text"), col("doc_id") < 5, k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity.bruteTopK(emb.filter(col("vec_id") < 5),
          emb, "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      Similarity.rrfFuse(Seq("sparse" -> sparse, "dense" -> dense),
          c = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "x96_bitext_margin" -> ((s, dir) => {
      // Margin-based bitext mining (Artetxe-Schwenk / CCMatrix): en
      // docs vs non-en docs in embedding space; each en doc's best
      // cross-lingual neighbor is scored by the ratio margin
      // (discounting hub vectors plain cosine over-matches) and
      // accepted only if MUTUAL best + margin > 1.05 — the
      // parallel-corpus candidate generator an MT/multilingual
      // training pipeline runs over a crawl. One scored pair
      // relation (broadcast en side) feeds both rank directions;
      // margins read only k-bounded rows (Similarity scaladoc for
      // the 100 TB ANN-fed form).
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val v = docs.select(col("doc_id").as("id"), col("lang"))
        .join(emb.select(col("vec_id").as("id"), col("embedding")),
          Seq("id"))
      Similarity.bitextMarginMining(
          v.filter(col("lang") === "en"),
          v.filter(col("lang") =!= "en"),
          "id", "embedding", k = 4, threshold = 1.05)
        .orderBy(col("a_id"))
    }),

    "x97_quality_classifier" -> ((s, dir) => {
      // In-engine TRAINED quality classifier (the FineWeb-Edu /
      // fastText-classifier tier): full-batch GD logistic regression
      // over the same hashed uni+bigram feature space DSIR uses
      // (one tokenizer+hash definition for the whole selection
      // stack), Learn.qualityIters iterations, en-seed labels — all as DataFrame
      // algebra (Learn.logisticTrain): per-iteration cost is two
      // hash aggregations; the model is a 4096-row broadcast
      // relation, never a driver vector. The pane audits per-source
      // score mass and predicted-quality counts; the semantic check
      // is n_pred_quality_en ≈ n_pred_quality (the classifier
      // learned the seed signal). Oracle replays all three unrolled
      // iterations in SQL — weights and scores match bit-for-bit
      // under the decimal-sum discipline.
      val docs = t(s, dir, "documents")
      val (feat, _, bias, w) = Learn.qualityClassifier(docs)
      classifierPane(s, dir, Learn.logisticScore(
        docs.select(col("doc_id").as("id")), feat, w, bias))
    }),

    "x97b_ledger_score" -> ((s, dir) => {
      // x97's STANDING-MODEL form (the x74→x74b ledger pattern
      // applied to Learn): the trained (weights, bias) persist as
      // VERSIONED parquet state and this consumer only READS it —
      // feature build + one broadcast score join, no 12-epoch GD
      // retrain (x97/x98/e2e_select each pay that train when run
      // self-contained; a production pipeline trains once offline
      // and every scorer reads the ledger, exactly like x74b reads
      // the x80 sketch ledger instead of re-scanning the corpus).
      // The model is a pure function of (corpus, operating point)
      // under the fixed-point discipline, so ledger-fed scores are
      // BIT-IDENTICAL to a fresh retrain's (Round14Spec pins it) and
      // the pane shares x97's oracle verbatim. The exists-guard +
      // version-keyed path (Learn.qualityModelVersion()) is the S10
      // idempotence discipline: a recipe change moves the path, so
      // stale weights are unreachable, and loadModel re-checks the
      // version on every read.
      val (w, bias) = standingQualityModel(s, dir)
      val docs = t(s, dir, "documents")
      val feat = Learn.features(docs, col("doc_id"), col("text"))
      classifierPane(s, dir, Learn.logisticScore(
        docs.select(col("doc_id").as("id")), feat, w, bias))
    }),

    "x98b_ledger_audit" -> ((s, dir) => {
      // x98's calibration audit fed from the SAME standing ledger as
      // x97b (one train serves every consumer — the whole point of
      // the standing-model form): per score-decile predicted mass vs
      // observed label rate, scores read from frozen state. Shares
      // x98's oracle verbatim (ledger-fed == retrained, bit-for-bit).
      val (w, bias) = standingQualityModel(s, dir)
      val docs = t(s, dir, "documents")
      val feat = Learn.features(docs, col("doc_id"), col("text"))
      Learn.logisticScore(docs.select(col("doc_id").as("id")), feat,
          w, bias)
        .join(docs.select(col("doc_id").as("id"), col("lang")),
          Seq("id"))
        .withColumn("bucket",
          least(floor(col("score") * 10).cast("int"), lit(9)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("score").cast(DecimalType(28, 6)))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_score"),
          round(sum(when(col("lang") === "en", 1.0d).otherwise(0.0d))
            / count(lit(1)), 4).as("frac_en"))
        .withColumn("gap",
          round(abs(col("mean_score") - col("frac_en")), 4))
        .orderBy(col("bucket"))
    }),

    "e2e_select_corpus" -> ((s, dir) => {
      // ROUND-6 CAPSTONE: the LEARNED selection tier drives a corpus
      // build end-to-end — classifier gate (x97's trained model, not
      // a hand heuristic) → exact-dedup canonical cut → token-
      // balanced shard interleave (x67's LPT pattern on the range-
      // exchange numbering) — the same production tail the heuristic
      // (e2e_webcorpus) and importance-weighted (x94) tiers feed,
      // proving the three selection families compose interchangeably.
      // The gate is score > 0.5 on the preconditioned-GD model
      // (188/500 docs pass at sf0.01 — non-vacuous by construction,
      // and EntrySmokeSpec's e2e_* guard asserts it). Oracle = x97's
      // generated training chain + the build tail.
      val docs = t(s, dir, "documents")
      val (feat, _, bias, w) = Learn.qualityClassifier(docs)
      val gated = Learn.logisticScore(
          docs.select(col("doc_id").as("id")), feat, w, bias)
        .filter(col("score") > 0.5d)
      val canon = docs
        .select(col("doc_id"), ColFns.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("id"))
        .select(col("id"))
      val toks = docs.select(col("doc_id").as("id"),
        ColFns.tokenCount(col("text")).as("n_toks"))
      val kept = gated.join(canon, Seq("id")).join(toks, Seq("id"))
      Layout.globalRowNumber(kept,
          struct((-col("n_toks")).as("nt"), col("id").as("i")))
        .withColumn("shard", col("row_num") % 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          round(sum(col("score").cast(DecimalType(18, 4)))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_score"))
        .orderBy(col("shard"))
    }),

    "e2e_select_corpus_b" -> ((s, dir) => {
      // the capstone on the STANDING model (x97→x97b's amortization
      // applied where it matters most — e2e_select retrained the
      // 12-epoch GD inline every run even after the ledger existed,
      // VERDICT-7 missing #3): classifier gate reads
      // standingQualityModel (version-keyed VersionedState, S10
      // exists-guarded), so the capstone pays feature build + one
      // broadcast score join + the build tail — no training passes.
      // Ledger-fed == retrained bit-for-bit under the fixed-point
      // discipline (Round14Spec pins the twin pair), so the oracle is
      // e2e_select_corpus's VERBATIM; the bench delta is the measured
      // amortization (x97b: 3.6× at sf0.1, 5.8× at sf1 — training's
      // per-iteration corpus passes grow with scale, the KB ledger
      // read does not).
      val docs = t(s, dir, "documents")
      val (w, bias) = standingQualityModel(s, dir)
      val feat = Learn.features(docs, col("doc_id"), col("text"))
      val gated = Learn.logisticScore(
          docs.select(col("doc_id").as("id")), feat, w, bias)
        .filter(col("score") > 0.5d)
      val canon = docs
        .select(col("doc_id"), ColFns.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("id"))
        .select(col("id"))
      val toks = docs.select(col("doc_id").as("id"),
        ColFns.tokenCount(col("text")).as("n_toks"))
      val kept = gated.join(canon, Seq("id")).join(toks, Seq("id"))
      Layout.globalRowNumber(kept,
          struct((-col("n_toks")).as("nt"), col("id").as("i")))
        .withColumn("shard", col("row_num") % 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          round(sum(col("score").cast(DecimalType(18, 4)))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_score"))
        .orderBy(col("shard"))
    }),

    "x100_tokenid_export" -> ((s, dir) => {
      // terminal export step: corpus tokens → vocabulary ids
      // (TextOps.vocabEncode) with the per-doc order-sensitive
      // checksum pane as the export's verifiable audit — what a
      // pretraining pipeline writes as binary shards, reduced to a
      // hashable integrity surface. v = 24 BECAUSE the synthetic
      // corpus has only 31 word types at every scale (measured): a
      // v >= 31 never exercises the OOV path — the x26 vacuity
      // lesson — while v = 24 leaves a live 7-type OOV tail so both
      // branches of the encoder are oracle-checked
      TextOps.vocabEncode(t(s, dir, "documents"), col("doc_id"),
          col("text"), v = 24)
        .orderBy(col("id"))
    }),

    "x115_vocab_roundtrip" -> ((s, dir) => {
      // export INTEGRITY (the missing half of x100): decode the
      // exported id stream back through the inverse vocab and hash
      // the reassembled text — the verifier a pipeline runs on its
      // binary shards before a trainer consumes them. Same v = 24
      // operating point as x100 (OOV tail live — the x26 vacuity
      // lesson), one encoding definition shared via vocabTokenStream
      // (x100's pane is computed from the same stream). The
      // roundtrip contract: docs with 0 OOV decode EXACTLY to the
      // normalized source token stream; OOV docs decode to <unk>
      // sinks (the information the sink id destroyed — which is why
      // roundtrip_ok gates on n_oov, and why decoded_md5 is ALSO
      // pinned so the <unk> reassembly itself is hash-checked, not
      // just the boolean). Reassembly array_sorts (pos, tok) structs
      // — collect_list order is not stable across retries, the sort
      // is what makes decode deterministic on any cluster.
      val docs = t(s, dir, "documents")
      val (vocab, stream) = TextOps.vocabTokenStream(docs,
        col("doc_id"), col("text"), v = 24)
      val dec = TextOps.vocabDecode(stream, vocab)
      val norm = docs.select(col("doc_id").as("id"),
        concat_ws(" ", regexp_extract_all(lower(col("text")),
          lit("\\S+"), lit(0))).as("norm"))
      val oov = stream.groupBy(col("id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tid") === 24L, 1L).otherwise(0L)).as("n_oov"))
      norm.join(dec, Seq("id"), "left").join(oov, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          md5(coalesce(col("decoded"), lit(""))).as("decoded_md5"),
          (coalesce(col("n_oov"), lit(0L)) > 0L ||
            coalesce(col("decoded"), lit("")) === col("norm"))
            .as("roundtrip_ok"))
        .orderBy(col("id"))
    }),

    "x101_bpe_train" -> ((s, dir) => {
      // In-engine BPE tokenizer TRAINING (Sennrich et al. 2016) —
      // the model-side artifact the whole selection stack feeds.
      // Industrial two-phase shape: ONE corpus-scale pass builds the
      // word-frequency table (the only 100 TB stage); 12 merge
      // rounds then run on the word-TYPE table (31 rows here,
      // millions on a web corpus), each one flatMap+agg + 1-row
      // argmax + broadcast replace — never a driver-side vocab. The
      // pane is the merge table + per-round corpus token count (the
      // compression trajectory a tokenizer build publishes). merges
      // = 12 sized to the corpus (31 word types sustain ~100+
      // merges; bpeTrain fails fast if oversized — the lgkFor
      // discipline). Oracle replays the unrolled recurrence; the
      // double-space symbol encoding makes plain replace() equal
      // BPE greedy semantics in BOTH engines (Tokenize.scala).
      Tokenize.bpeTrain(
          Tokenize.wordFreq(t(s, dir, "documents"), col("text")),
          merges = 12)
        .orderBy(col("rank"))
    }),

    "x102_pca_power" -> ((s, dir) => {
      // top-PC power iteration over the embedding corpus as
      // DataFrame algebra (Learn.powerIterationMicro): the
      // dominant-direction machinery of embedding post-processing
      // ("All-but-the-Top", Mu & Viswanath 2018) with the same scale
      // shape as x97's trainer — 2 hash aggs per iteration, model
      // state a 64-row broadcast relation. 8 pinned iterations; on
      // this near-isotropic synthetic corpus (RC ≈ 1.3, evr ≈ 1/64
      // — measured, see x93) the eigengap is tiny, so the CONTRACT
      // is the replayed computation + the variance pane, not
      // convergence — the honest claim, and exactly what the
      // unrolled oracle checks bit-for-bit. Fixed-point discipline
      // throughout (Learn.q6): iterative re-cut linear algebra is
      // where the round(…,6) recipe structurally breaks (measured —
      // Σ/n quotients land on exact .5 tails), so every cut here is
      // a floor() on IEEE-identical doubles instead.
      val nRows = t(s, dir, "embeddings").count()
      val emb = embLong(s, dir)
      val c = Learn.centeredMicro(emb)
      val v = Learn.powerIterationMicro(c, dims = 64, iters = 8,
        nRows = nRows)
      v.crossJoin(broadcast(Learn.varianceAlongMicro(c, v, nRows)))
        .select(col("d"),
          (col("v").cast(DoubleType) / lit(1000000.0d)).as("loading"),
          col("pc_var"), col("total_var"), col("evr"))
        .orderBy(col("d"))
    }),

    "x103_embed_abtt" -> ((s, dir) => {
      // "All-but-the-Top" APPLIED (the x93→x93b consumer pattern):
      // remove the x102 dominant direction from every embedding
      // (Learn.removeTopPC) and account for the variance per
      // dimension — before, after, and the delta the removal took
      // out. The pane shows WHICH dims the dominant direction lived
      // in; Round13Spec pins the global Pythagoras accounting
      // (Σafter ≈ Σbefore − pc_var up to floor quantization). Same
      // fixed-point discipline and unrolled-oracle chain as x102.
      val nRows = t(s, dir, "embeddings").count()
      val emb = embLong(s, dir)
      val c = Learn.centeredMicro(emb)
      val v = Learn.powerIterationMicro(c, dims = 64, iters = 8,
        nRows = nRows)
      val e = Learn.removeTopPC(c, v)
      Learn.perDimVarianceMicro(c, "xc", nRows)
        .join(Learn.perDimVarianceMicro(e, "e", nRows), Seq("d"))
        .select(col("d"), col("var_xc").as("before_var"),
          col("var_e").as("after_var"),
          (col("var_xc") - col("var_e")).as("delta"))
        .orderBy(col("d"))
    }),

    "x104_bpe_encode" -> ((s, dir) => {
      // the ENCODE step closing x101's tokenizer loop: the trained
      // merge table folds into ONE k-deep replace() expression over
      // the word-TYPE table (Tokenize.bpeSubwordCounts), and the
      // corpus is encoded by a broadcast dictionary join — the p17
      // dictionary-encode shape: per-type work once, corpus-grain
      // work is a join, never a per-document merge loop. Pane:
      // per-source subword compression (n_words, n_subwords,
      // subwords/word) — the fertility audit a tokenizer build
      // publishes. Oracle: x101's generated chain + a re-folded
      // encode tail sharing the same recurrence.
      val docs = t(s, dir, "documents")
      val wf = Tokenize.wordFreq(docs, col("text"))
      val dict = Tokenize.bpeSubwordCounts(wf,
        Tokenize.bpeTrain(wf, merges = 12))
      docs.select(col("source"), explode(
          regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
          .as("word"))
        .join(broadcast(dict.select(col("word"), col("n_sub"))),
          Seq("word"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).as("n_subwords"),
          (floor(sum(col("n_sub")).cast(DoubleType) / count(lit(1))
            * lit(10000.0d)) / lit(10000.0d)).as("subwords_per_word"))
        .orderBy(col("source"))
    }),

    "x104b_ledger_encode" -> ((s, dir) => {
      // x104's STANDING-TOKENIZER form (the x97b discipline on the
      // tokenizer tier): the merge table is version-keyed parquet
      // state read back from the ledger — encode pays the dictionary
      // fold + broadcast join only, never the merge-round training.
      // This is the actual production shape: a tokenizer is trained
      // once and FROZEN (changing it invalidates every token count
      // downstream), so every encode job everywhere reads standing
      // state; x106's drift audit is the monitor that says when a
      // deliberate retrain is due. Merge tables are deterministic
      // under the argmax tie-break, so ledger-fed == retrained
      // bit-for-bit (Round14Spec) and the pane shares x104's oracle
      // verbatim.
      val docs = t(s, dir, "documents")
      val wf = Tokenize.wordFreq(docs, col("text"))
      val dict = Tokenize.bpeSubwordCounts(wf, standingBpeMerges(s, dir))
      docs.select(col("source"), explode(
          regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
          .as("word"))
        .join(broadcast(dict.select(col("word"), col("n_sub"))),
          Seq("word"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).as("n_subwords"),
          (floor(sum(col("n_sub")).cast(DoubleType) / count(lit(1))
            * lit(10000.0d)) / lit(10000.0d)).as("subwords_per_word"))
        .orderBy(col("source"))
    }),

    "x106_tokenizer_drift" -> ((s, dir) => {
      // TOKENIZER DRIFT audit — the production failure mode of a
      // standing tokenizer: it was trained once (here: on the 'en'
      // slice) and the corpus drifts under it. Fertility
      // (subwords/word) per language vs the training slice's own,
      // ratio floor-cut at 4 decimals, drift flagged above 1.05.
      // The synthetic languages share one vocabulary (measured:
      // natural-lang ratios 1.00-1.01 at every scale), so a natural
      // corpus can never fire the gate here — the x26 canary
      // discipline applies: a rot13-rotated copy of the en slice
      // rides as control pseudo-lang 'zz_rot13', provably outside
      // the trained merges (measured ratio 1.248 at all three
      // scales), so BOTH branches
      // of the gate are exercised at every scale (the x91-r7
      // constant-false lesson). Unseen word types still encode
      // (merges apply to any char sequence) — no OOV cliff. Oracle:
      // x101's chain trained WHERE lang='en' + a re-folded
      // augmented-corpus encode tail.
      val docs = t(s, dir, "documents")
      val rotTo = "nopqrstuvwxyzabcdefghijklm"
      val corp = docs.select(col("lang"), col("text"))
        .unionByName(docs.filter(col("lang") === "en")
          .select(lit("zz_rot13").as("lang"),
            translate(lower(col("text")),
              "abcdefghijklmnopqrstuvwxyz", rotTo).as("text")))
      val merges = Tokenize.bpeTrain(
        Tokenize.wordFreq(docs.filter(col("lang") === "en"),
          col("text")), merges = 12)
      val dict = Tokenize.bpeSubwordCounts(
          Tokenize.wordFreq(corp, col("text")), merges)
        .localCheckpoint()
      val pane = corp.select(col("lang"), explode(
          regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)))
          .as("word"))
        .join(broadcast(dict.select(col("word"), col("n_sub"))),
          Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sub")).as("n_subwords"),
          (floor(sum(col("n_sub")).cast(DoubleType) / count(lit(1))
            * lit(10000.0d)) / lit(10000.0d)).as("fertility"))
        .localCheckpoint()
      val base = pane.filter(col("lang") === "en")
        .select(col("fertility").as("f_en"))
      pane.crossJoin(broadcast(base)) // 1-row scalar idiom
        .withColumn("ratio_vs_train",
          floor(col("fertility") / col("f_en") * lit(10000.0d))
            / lit(10000.0d))
        .withColumn("drift", col("ratio_vs_train") > lit(1.05d))
        .drop("f_en")
        .orderBy(col("lang"))
    }),

    "e2e_embed_pipeline" -> ((s, dir) => {
      // ROUND-6b CAPSTONE: the PCA tier drives an embedding-corpus
      // build end-to-end — center → remove the dominant direction
      // (All-but-the-Top, the x102/x103 machinery) → residual-norm
      // screen (the x83 norm-screen theme on the CORRECTED vectors:
      // keep norms inside [0.5, 1.5]× the mean) → 4-shard manifest
      // with per-shard counts and mean residual norm. ONE lazy plan
      // from centering to manifest; every cut fixed-point, so the
      // whole pipeline is hash-oracled exactly. The natural corpus
      // never violates the band (measured: 100% kept at every
      // scale), so the screen's reject branch gets a LIVE canary —
      // 10 low-id vectors re-enter ×3-scaled under offset ids and
      // are provably screened out (norm ratio ~2.9 > 1.5); the
      // hash-pinned shard counts equal the NATURAL corpus size, and
      // Round13Spec asserts exactly that (x106 discipline).
      val nRows = t(s, dir, "embeddings").count() + 10L
      val base = embLong(s, dir)
      val emb = base.unionByName(base.filter(col("id") < 10)
        .select((col("id") + 10000000L).as("id"), col("d"),
          (col("x") * lit(3.0d)).as("x")))
      val c = Learn.centeredMicro(emb)
      val v = Learn.powerIterationMicro(c, dims = 64, iters = 8,
        nRows = nRows)
      val e = Learn.removeTopPC(c, v)
      // residual norm per vector in integer micro-units: exact Σe²,
      // IEEE sqrt, floor — and the screen is then PURE INTEGER
      // comparison (2·nrm ∈ [mean, 3·mean]), no decimal-cast tie
      // surface anywhere
      val norms = e.groupBy(col("id"))
        .agg(floor(sqrt(sum((col("e") * col("e"))
          .cast(DecimalType(38, 0))).cast(DoubleType))).as("nrmi"))
        .localCheckpoint()
      val mean = norms.agg(floor(sum(col("nrmi")
          .cast(DecimalType(38, 0))).cast(DoubleType)
        / lit(nRows.toDouble)).as("mi"))
      val kept = norms.crossJoin(broadcast(mean)) // 1-row scalar
        .filter(col("nrmi") * 2 >= col("mi") &&
          col("nrmi") * 2 <= col("mi") * 3)
      kept.withColumn("shard", pmod(col("id"), lit(4)).cast("int"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_vecs"),
          (floor(sum(col("nrmi").cast(DecimalType(38, 0)))
            .cast(DoubleType) / count(lit(1)))
            / lit(1000000.0d)).as("mean_resid_norm"))
        .orderBy(col("shard"))
    }),

    "x109_salt_advisor" -> ((s, dir) => {
      // EXECUTABLE salt-sizing rule (Relational.saltAdvisor): the
      // x24 skew audit turned into the number j9's salted join
      // needs — rec_salt = ceil(max_key_rows · P / total) at P = 32
      // (the session parallelism). events.event_type is naturally
      // skewed (few types over 100k rows), so the recommendation is
      // genuinely > 1 here — the advisor's salt branch is live on
      // natural data, and Round13Spec pins both branches plus the
      // rec-salted join's route-invariance.
      Relational.saltAdvisor(t(s, dir, "events"), "event_type",
        partitions = 32)
    }),

    "x108_partition_advisor" -> ((s, dir) => {
      // EXECUTABLE partition-sizing rule (Layout.partitionAdvisor —
      // the lgkFor/bandsFor discipline applied to the shuffle
      // itself): schema-driven byte estimate per table →
      // recommended spark.sql.shuffle.partitions (128 MB in-memory
      // target) and write file count (512 MB target) — the two
      // numbers every 100 TB job must set and usually guesses. At
      // these test scales every table recommends 1 (honest: they
      // fit one partition); the ceil arithmetic itself is
      // spec-pinned on crafted sizes, and the byte estimates are
      // hash-oracled exactly per table.
      Seq("documents", "embeddings", "lineitem", "orders")
        .map(n => Layout.partitionAdvisor(t(s, dir, n), n))
        .reduce(_.unionByName(_))
        .orderBy(col("tbl"))
    }),

    "x108b_advised_write" -> ((s, dir) => {
      // the advisor DRIVING a write (x109→saltedJoin's "advisor
      // output is the action's input" discipline applied to x108,
      // which until this round only printed its recommendation):
      // documents sized at a 64 KB file target — byte-grain so the
      // recommendation is >1 at every test scale (3/3/25 files at
      // sf0.001/0.01/0.1; production passes 512 MB through the same
      // code) — then repartition(rec_write_files) + parquet write,
      // and the pane RE-READS the written directory to publish the
      // realized file count next to the recommendation. The oracle
      // computes rec from the same byte arithmetic and asserts
      // realized == rec, so "the write followed the advice" is
      // hash-checked, not claimed; rows_intact pins the roundtrip.
      val docs = t(s, dir, "documents")
      val out = tmpDir("x108b_out")
      val (pane, _) = Layout.writeAdvised(docs, "documents", out,
        fileBytes = 65536L)
      val back = s.read.parquet(out)
        .withColumn("__f", input_file_name()) // project before agg:
      // the nondeterministic fn can't sit inside an aggregate arg
      val realized = back.agg(
        countDistinct(col("__f")).as("realized_files"),
        count(lit(1)).as("n_rows_back"))
      pane.join(realized, lit(true), "left") // 1-row pane join idiom
        .select(col("tbl"), col("n_rows"), col("est_total_mb"),
          col("rec_write_files"), col("realized_files"),
          (col("realized_files") === col("rec_write_files"))
            .as("followed"),
          (col("n_rows_back") === col("n_rows")).as("rows_intact"))
    }),

    "x110_domain_reweight" -> ((s, dir) => {
      // DoReMi one-step domain reweighting (Learn.domainReweight):
      // mixture weights MEASURED from per-domain bigram-LM loss where
      // x37's mixturePlan takes them as given config. The natural
      // lang domains sit within ~0.01 nats of the corpus mean on this
      // shared-vocabulary corpus, so a zz_sorted canary domain
      // (sorted-token copies of every 17th doc — word order destroyed
      // deterministically) keeps BOTH update branches live at every
      // scale: sorted runs of repeated tokens make the canary the
      // EASY domain (mean_nll ~2.98 vs ~3.41 at sf0.01), it clamps
      // to excess 0 and is downweighted, while every natural domain
      // carries positive excess and earns exp(η·excess) boost — the
      // x106 gate-liveness discipline, spec-asserted in Round13Spec.
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val canary = base.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          lit("zz_sorted").as("lang"),
          array_join(array_sort(regexp_extract_all(lower(col("text")),
            lit("\\S+"), lit(0))), " ").as("text"))
      Learn.domainReweight(base.unionByName(canary), col("lang"),
          col("doc_id"), col("text"), eta = 5.0, lambda = 0.2,
          budgetTokens = 1000000L)
        .orderBy(col("domain"))
    }),

    "x111_boilerplate_strip" -> ((s, dir) => {
      // CCNet paragraph-hash boilerplate removal (TextOps
      // .boilerplateStrip, Wenzek et al. 2020 §4.1): strip segments
      // recurring across > maxDocs distinct documents. The synthetic
      // corpus has no newline structure, so the query injects one
      // deterministic footer line per doc (doc_id % 3 picks one of
      // three web-furniture strings) — the x26/x106 canary-liveness
      // discipline: each footer recurs in ~n/3 docs and MUST be
      // stripped at every scale, while natural bodies (docfreq 1-2,
      // exact-dup docs included) MUST survive maxDocs = 10, so both
      // branches are provably live (Round13Spec asserts it). Pane
      // hashes the cleaned text (md5 — the f1 parity) so the output
      // stays narrow; clean_md5 equaling md5(original text) for
      // every non-dup doc is the round-trip proof.
      TextOps.boilerplateStrip(footerInject(t(s, dir, "documents")),
          col("doc_id"), col("text"), sep = "\n", maxDocs = 10)
        .select(col("id"), md5(col("clean_text")).as("clean_md5"),
          col("n_segs"), col("n_removed"))
        .orderBy(col("id"))
    }),

    "x114_pii_scrub" -> ((s, dir) => {
      // PII redaction (TextOps.piiScrub) — the pass every published
      // training-data pipeline runs before release (Dolma/FineWeb
      // redact exactly this email/IP/phone/long-digit family):
      // chained regexp_replace expressions, per-row and codegen'd,
      // so redaction rides the corpus scan — no UDF, no extra pass,
      // no shuffle; at 100 TB this is a map-only stage. The synthetic
      // corpus contains no natural PII at any scale, so a
      // deterministic canary (piiInject, the x26/x111 footerInject
      // discipline) plants all four categories on doc_id % 7 == 0,
      // a partial pair on % 7 == 3, and leaves the rest clean —
      // every pattern and the no-hit branch are live at every scale,
      // and the oracle replays the same injection. Counts are
      // PROGRESSIVE (each category counts on the text the previous
      // one already redacted) so an email's digits can never
      // double-count as a phone. Pane: per-source redaction mass +
      // the docs-touched count + scrubbed-character checksum.
      val aug = piiInject(t(s, dir, "documents"))
      // source rides piiScrub's keep-through — ONE projection, one
      // scan, no corpus self-join to recover the grouping column
      TextOps.piiScrub(aug, col("doc_id"), col("text"), col("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_emails")).as("emails"),
          sum(col("n_ips")).as("ips"),
          sum(col("n_phones")).as("phones"),
          sum(col("n_longnums")).as("longnums"),
          sum(when(col("n_emails") + col("n_ips") + col("n_phones")
            + col("n_longnums") > 0, 1L).otherwise(0L))
            .as("n_docs_redacted"),
          sum(length(col("clean_text"))).as("clean_chars"))
        .orderBy(col("source"))
    }),

    "st22_stream_boilerplate" -> ((s, dir) => {
      // x111's STREAMING TWIN: segment docfreq counts are additive
      // per-batch distinct counts (a doc never spans batches), so
      // the batchId-guarded ledger equals the batch countDistinct
      // EXACTLY for any stream split — the derived blacklist is
      // identical and st22 shares x111's oracle verbatim (the
      // st18/st20/st21 invariance discipline, text-cleaning tier).
      // Production shape: crawl snapshots fold in one pass; the
      // web-furniture blacklist is KBs of standing state any ingest
      // job strips against with no corpus rescan for the decision.
      graft.streaming.Streams.streamBoilerplateStrip(s, dir,
          footerInject)
        .select(col("id"), md5(col("clean_text")).as("clean_md5"),
          col("n_segs"), col("n_removed"))
        .orderBy(col("id"))
    }),

    "st21_stream_bpe" -> ((s, dir) => {
      // x101's STREAMING TWIN: the word-frequency ledger is BPE
      // training's sufficient statistic and counts are additive
      // exact integers, so the batchId-guarded ledger equals the
      // batch word-freq table EXACTLY for any stream split — the
      // retrained merge table is identical and st21 shares x101's
      // oracle verbatim (st18/st20 invariance discipline, tokenizer
      // tier). Production shape: crawl snapshots fold in one pass;
      // retraining touches only word TYPES, never the corpus.
      graft.streaming.Streams.streamBpeTrain(s, dir)
        .orderBy(col("rank"))
    }),

    "x107_pca_deflate" -> ((s, dir) => {
      // TOP-K PCA BY DEFLATION — the published All-but-the-Top
      // recipe removes the top k directions, not one: extract v1
      // (x102's iteration), deflate (remove its projection,
      // Learn.removeTopPC), and iterate AGAIN on the residual for
      // v2. The pane carries both loadings, the exact integer
      // orthogonality dot v1·v2 (deflation's correctness invariant —
      // Round13Spec asserts it ~0), and each direction's variance.
      // Cost = 2× x102 plus one residual pass; the corpus is still
      // never shuffled on the dim key. Oracle: x102's chain + a
      // residual CTE + a second unrolled 8-iteration chain.
      val nRows = t(s, dir, "embeddings").count()
      val emb = embLong(s, dir)
      val c = Learn.centeredMicro(emb)
      val v1 = Learn.powerIterationMicro(c, dims = 64, iters = 8,
        nRows = nRows)
      val resid = Learn.removeTopPC(c, v1)
        .select(col("id"), col("d"), col("e").as("xc"))
        .localCheckpoint()
      val v2 = Learn.powerIterationMicro(resid, dims = 64, iters = 8,
        nRows = nRows)
      val dot = v1.select(col("d"), col("v").as("v1"))
        .join(v2.select(col("d"), col("v").as("v2")), Seq("d"))
        .agg((floor(sum((col("v1") * col("v2"))
            .cast(DecimalType(38, 0))).cast(DoubleType)
          / lit(1.0e12d) * lit(1000000.0d)) / lit(1000000.0d))
          .as("dot_v1_v2"))
      val var1 = Learn.varianceAlongMicro(c, v1, nRows)
        .select(col("pc_var").as("pc1_var"))
      val var2 = Learn.varianceAlongMicro(resid, v2, nRows)
        .select(col("pc_var").as("pc2_var"))
      v1.select(col("d"), (col("v").cast(DoubleType) /
          lit(1000000.0d)).as("pc1"))
        .join(v2.select(col("d"), (col("v").cast(DoubleType) /
          lit(1000000.0d)).as("pc2")), Seq("d"))
        .crossJoin(broadcast(dot))
        .crossJoin(broadcast(var1))
        .crossJoin(broadcast(var2))
        .orderBy(col("d"))
    }),

    "x105_gram_pca" -> ((s, dir) => {
      // the GRAM-SPACE dual of x102 (the other way to run PCA at
      // scale): when D² state fits (embeddings, D=64), ONE corpus
      // pass builds the co-moment matrix (map-side partial agg — the
      // exchange moves D²-row partials, never n·D² rows) and every
      // power iteration afterwards touches only the 4096-row gram —
      // iterations are free, the corpus is read once. x102's
      // data-pass form is for large D where D² is infeasible; this
      // pair spans the design space and the scaladoc says which to
      // pick when. Same fixed-point discipline; its own generated
      // oracle (gram recurrence ≠ data-pass recurrence numerically —
      // per-row s-cuts differ — so the two queries pin their own
      // chains). st20 shares this oracle verbatim.
      val nRows = t(s, dir, "embeddings").count()
      val emb = embLong(s, dir)
      val gram = Learn.gramMicro(Learn.centeredMicro(emb))
      val w = Learn.gramPowerIteration(gram, dims = 64, iters = 8,
        nRows = nRows)
      w.crossJoin(broadcast(Learn.gramVariancePane(gram, w, nRows)))
        .select(col("d"),
          (col("w").cast(DoubleType) / lit(1000000.0d)).as("loading"),
          col("pc_var"), col("total_var"), col("evr"))
        .orderBy(col("d"))
    }),

    "st20_stream_pca" -> ((s, dir) => {
      // x105's STREAMING TWIN: PCA's sufficient statistic (Σx, Σxxᵀ,
      // n) is additive exact integers in the fixed-point discipline,
      // so the moment ledger after ANY batching equals the batch
      // moments EXACTLY — st20 shares x105's oracle verbatim, and
      // the invariance claim is integer equality, not just model
      // equivalence (the st18 pattern, upgraded). The PC is
      // extracted from the ledger alone (moment-identity gram +
      // gram-space iterations) — no corpus rescan; Round13Spec pins
      // 2-batch-vs-1-batch ledger equality and redelivery
      // idempotence.
      graft.streaming.Streams.streamGramPca(s, dir)
    }),

    "j21_join_auto" -> ((s, dir) => {
      // measured join-strategy ROUTER (Relational.joinAuto — the
      // x93b router pattern applied to joins): dim-side preflight
      // picks broadcast / bloom-prefiltered shuffle / plain shuffle.
      // At this scale customer routes to broadcast;
      // PlanShapeSpec pins BroadcastHashJoin here AND pins the
      // bloom route's prefilter when thresholds force it — the
      // result is route-invariant (what makes one SQL oracle cover
      // every route). Pane: per-segment order mass over the joined
      // relation.
      val (joined, route) = Relational.joinAuto(
        t(s, dir, "orders"), t(s, dir, "customer")
          .withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("route", lit(route))
        .orderBy(col("c_mktsegment"))
    }),

    "x98_calibration_audit" -> ((s, dir) => {
      // reliability pane for the trained classifier: per score-decile
      // bucket, predicted mass (mean_score) vs observed label rate
      // (frac_en) and their gap — the calibration check an ML-ops
      // pipeline runs before trusting scores as probabilities (a
      // well-calibrated model has gap ≈ 0 per bucket). Same train as
      // x97 (self-contained, the x74b discipline); the oracle reuses
      // x97's generated CTE chain with a calibration tail.
      val docs = t(s, dir, "documents")
      val (feat, _, bias, w) = Learn.qualityClassifier(docs)
      Learn.logisticScore(docs.select(col("doc_id").as("id")), feat,
          w, bias)
        .join(docs.select(col("doc_id").as("id"), col("lang")),
          Seq("id"))
        .withColumn("bucket",
          least(floor(col("score") * 10).cast("int"), lit(9)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("score").cast(DecimalType(28, 6)))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_score"),
          round(sum(when(col("lang") === "en", 1.0d).otherwise(0.0d))
            / count(lit(1)), 4).as("frac_en"))
        .withColumn("gap",
          round(abs(col("mean_score") - col("frac_en")), 4))
        .orderBy(col("bucket"))
    }),

    "x99_hard_negatives" -> ((s, dir) => {
      // DPR-style contrastive pair mining (Karpukhin et al. 2020's
      // hard-negative recipe): for each query doc, the POSITIVE is
      // its dense (embedding) rank-1 neighbor; the HARD NEGATIVE is
      // its highest-BM25 lexical candidate that is NOT in the dense
      // top-10 — lexically close but semantically far, the pairs
      // that actually teach an embedder. Pure composition of the
      // round's two retrieval branches; every stage k-bounded.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteTopK(emb.filter(col("vec_id") < 20),
        emb, "vec_id", "embedding", k = 10)
      val sparse = TextOps.bm25MoreLikeThis(docs, col("doc_id"),
        col("text"), col("doc_id") < 20, k = 10)
      val pos = dense.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("pos_id"),
          col("cos_sim").as("pos_sim"))
      val negCand = sparse.join(
        dense.select(col("query_id"),
          col("neighbor_id").as("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("rank").asc)
      val neg = negCand.withColumn("rn", row_number().over(wq))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("doc_id").as("hardneg_id"),
          col("bm25").as("hardneg_bm25"),
          col("rank").as("hardneg_sparse_rank"))
      pos.join(neg, Seq("query_id"), "left")
        .orderBy(col("query_id"))
    }),

    "st19_stream_score" -> ((s, dir) => {
      // x97's STREAMING twin, and the OTHER production restart
      // pattern: the trained model is FROZEN standing state (weights
      // + bias parquet), the corpus streams in, and each micro-batch
      // scores against the frozen model into a ledger PARTITIONED BY
      // batchId with dynamic partition overwrite — a redelivered
      // batch rewrites its own partition byte-identically and cannot
      // touch any other batch's (st17/st18 use the guard-column
      // sibling; st19 pins the partition-overwrite one). Per-doc
      // feature normalization makes scores batching-invariant, so
      // the pane shares x97's oracle verbatim.
      classifierPane(s, dir,
        graft.streaming.Streams.streamClassifierScore(s, dir))
    }),

    "x94_dsir_selection" -> ((s, dir) => {
      // DSIR data selection end-to-end (TextOps.dsirWeights): the
      // en-labeled docs stand in for the curated target seed set,
      // every doc scores by hashed-ngram importance log-ratio, and
      // the top QUARTER by weight is kept via the range-exchange
      // global numbering (no data-grain global window — p13's
      // discipline). The pane is the selection audit per source:
      // how much survived and how en-skewed the survivors are (the
      // semantic check that the importance model learned the target:
      // n_selected_en/n_selected should sit far above the corpus's
      // base en rate).
      val docs = t(s, dir, "documents")
      dsirPane(s, dir, TextOps.dsirWeights(docs, col("doc_id"),
        col("text"), col("lang") === "en", nBuckets = 4096))
    }),

    "st18_stream_dsir" -> ((s, dir) => {
      // x94's STREAMING twin: the DSIR model trains as the corpus
      // streams in (bucket counts fold into a batchId-idempotent
      // ledger — Streams.streamDsirWeights), then the same selection
      // pane runs against the LEDGER model. Shares x94's oracle
      // verbatim — the additive-sufficient-statistic batching-
      // invariance proof (final ledger model == batch model for any
      // stream split).
      dsirPane(s, dir, graft.streaming.Streams.streamDsirWeights(s, dir))
    }),

    "x9_quality_score" -> ((s, dir) => {
      TextOps.qualityFeatures(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"))
    }),

    "x10_token_counts" -> ((s, dir) => {
      TextOps.tokenCounts(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"))
    }),

    "x11_fingerprints" -> ((s, dir) => {
      TextOps.fingerprints(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"))
    }),

    "x16_pii_scrub" -> ((s, dir) => {
      // PII masking over documents with deterministic injected PII (the
      // corpus itself carries none, so the injection makes the op visible)
      val d = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          lit(" reach user"), col("doc_id").cast(StringType),
          lit("@example.com or 555-867-5309 from 10.0.0."),
          (col("doc_id") % 256).cast(StringType)))
      TextOps.scrubPii(d, col("doc_id"), col("text2"))
        .orderBy(col("id"))
    }),

    "x17_chunk_tokens" -> ((s, dir) => {
      TextOps.chunkTokens(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"), col("chunk_no"))
    }),

    "x18_tfidf_topk" -> ((s, dir) => {
      TextOps.tfidfTopTerms(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"), col("rank"))
    }),

    // ---- LLM-pipeline: multimodal plumbing (x12) -----------------------
    "x12_multimodal_decode" -> ((s, dir) => {
      // the mapPartitions batch decode (per-partition codec init;
      // real ImageIO header probe for actual image payloads) — the
      // synthetic utf-8 payloads here take the md5-derived fallback
      // the DuckDB oracle recomputes
      val media = Multimodal.asMedia(t(s, dir, "events"),
        "event_id", "props", "image")
      Multimodal.decode(s, media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes").cast("long"),
          col("feat_hash"), col("width").cast("long"),
          col("height").cast("long"))
        .orderBy(col("media_id"))
    }),

    "x13_media_resize" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "events"),
        "event_id", "props", "image")
      Multimodal.resizeMeta(Multimodal.decode(s, media).toDF())
        .select(col("media_id"), col("width").cast("long"),
          col("height").cast("long"), col("out_w").cast("long"),
          col("out_h").cast("long"), col("scale"))
        .orderBy(col("media_id"))
    }),

    "x14_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"),
        "doc_id", "text", "video")
      Multimodal.frameSample(media, every = 64)
        .orderBy(col("media_id"), col("frame_no"))
    }),

    "x43_decontaminate_strip" -> ((s, dir) => {
      // surgical decontamination: strip every token covered by a
      // benchmark 8-gram instead of dropping the doc (x26 flags, this
      // repairs); same held-out split as x26
      val docs = t(s, dir, "documents")
      TextOps.decontaminateStrip(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          col("doc_id"), col("text"), n = 8)
        .orderBy(col("id"))
    }),

    "x26_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: train docs sharing any word 8-gram
      // with the held-out set (doc_id % 100 == 0 stands in for the
      // benchmark); inverted-index join, benchmark side broadcast.
      // The synthetic corpus carries NO organic 8-gram overlap (round
      // 6's vacuity sweep: this query matched the oracle on zero rows
      // at every scale), so a deterministic canary 8-gram is injected
      // into half the benchmark docs and 10% of train docs — x16's
      // PII-injection discipline: make the operator's firing path
      // visible, not just its empty path
      val canary =
        " graft benchmark canary sequence alpha beta gamma delta"
      val docs = t(s, dir, "documents")
        .withColumn("text2",
          when(col("doc_id") % 200 === 0 || col("doc_id") % 10 === 3,
            concat(col("text"), lit(canary))).otherwise(col("text")))
      TextOps.contaminationFlags(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          col("doc_id"), col("text2"), n = 8)
        .orderBy(col("train_id"))
    }),

    "x27_pack_sequences" -> ((s, dir) => {
      // sequence packing: greedy cumulative-fill token bins per shard
      // (the concat-and-chunk batching prep for training windows)
      TextOps.packSequences(t(s, dir, "documents"), col("doc_id"),
          col("text"), capacity = 512, shards = 8)
        .orderBy(col("shard"), col("bin"))
    }),

    "x24_key_skew" -> ((s, dir) => {
      // shuffle-planning diagnostic: heaviest keys + row share → decides
      // plain shuffle vs AQE skew-join vs explicit salting (j9)
      Quality.keySkew(t(s, dir, "events"), "event_type", topN = 5)
        .orderBy(col("rank"))
    }),

    "x25_repetition_ratio" -> ((s, dir) => {
      // Gopher-style repetition signals: top-word / duplicate-word /
      // top-bigram fractions per doc (TextOps.repetitionStats) — the
      // repetitious-content filter after exact dedup
      TextOps.repetitionStats(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("id"))
    }),

    "x29_url_canonical" -> ((s, dir) => {
      // crawl-URL canonicalization + dedup: lowercase scheme/host, drop
      // fragment + tracking params + trailing slash, then group by the
      // canonical form keeping the smallest doc id. URLs synthesized
      // deterministically from doc fields (messy case/params/fragments).
      val u = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM/p/"),
          (col("doc_id") % 37).cast(StringType),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&ref="), col("lang"),
          lit("&id="), (col("doc_id") % 200).cast(StringType),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
      u.groupBy(TextOps.canonicalUrl(col("url")).as("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_doc"))
        .orderBy(col("canonical_url"))
    }),

    "x32_incremental_admit" -> ((s, dir) => {
      // production dedup shape: a new batch classified against the
      // standing deduplicated corpus (exact tiers by hash join, near
      // tiers by LSH bucket join + exact-Jaccard verify) — per-ingest
      // admission instead of an all-pairs recompute
      val docs = t(s, dir, "documents")
      Dedup.admitIncremental(
          docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0),
          col("doc_id"), col("text"))
        .orderBy(col("id"))
    }),

    "e2e_incremental_ingest" -> ((s, dir) => {
      // the production ingest loop end-to-end: classify the new day's
      // batch against the standing corpus (x32's admission), then the
      // ingest audit — per-status counts + corpus size before/after
      // (v2 = v1 + admitted). ONE lazy plan; the corpus never shuffles
      // (batch broadcast both tiers).
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val counts = Dedup.admitIncremental(corpus, batch,
          col("doc_id"), col("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
      counts
        .crossJoin(broadcast(corpus.agg(count(lit(1)).as("corpus_v1"))))
        .withColumn("corpus_v2", col("corpus_v1") +
          sum(when(col("status") === "admitted", col("n_docs"))
            .otherwise(0L)).over(Window.partitionBy()))
        .orderBy(col("status"))
    }),

    "x33_export_manifest" -> ((s, dir) => {
      // training-data export: deterministic shards written as
      // partitioned JSONL, then the manifest (docs + token counts per
      // shard) computed by RE-READING the export — the audit record
      // covers what actually landed on disk, not what was intended
      val out = tmpDir("x33_export")
      t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(8L)).as("shard"),
          to_json(struct(col("doc_id"), col("text"), col("lang")))
            .as("value"))
        .repartition(col("shard"))
        .write.partitionBy("shard").mode("overwrite").text(out)
      s.read.text(out)
        .select(col("shard").cast("long").as("shard"),
          get_json_object(col("value"), "$.text").as("text"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(ColFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy(col("shard"))
    }),

    "e2e_webcorpus" -> ((s, dir) => {
      // FineWeb-style web-corpus construction as ONE declarative plan,
      // composing the round-5 tiers end-to-end: Gopher heuristics
      // (x91) gate documents, exact dedup keeps each fingerprint's
      // canonical doc, the bigram LM (x90) ranks what survives and the
      // better-ordered HALF is kept via the range-exchange global
      // numbering (rank cut, no data-grain global window), and the
      // survivors interleave into token-balanced shards (x67's LPT
      // pattern). Output is the per-shard audit pane. Every stage is
      // lazy — Catalyst fuses the whole pipeline; the only
      // materializations are the two numbering checkpoints.
      //
      // The r7 gate runs on PER-LANGUAGE corpus-calibrated probes
      // (top-8 tokens by frequency within each lang partition,
      // TextOps.corpusProbesBy — Zipf: a corpus's most frequent
      // tokens ARE its function words), not the published English
      // list: round 5 shipped this query with the hardcoded list and
      // the whole pipeline ran on ZERO rows at every scale (the
      // synthetic vocabulary contains only "the"), hash-matching the
      // oracle on emptiness. Calibration is per-language because
      // that's the only form that survives a multilingual corpus —
      // the 10-rotation sf1 rehearsal lake measures GLOBAL top-8
      // probes passing 0 of 50k docs while per-language probes pass
      // 99% (corpusProbesBy scaladoc; FineWeb's pipelines are
      // per-language for the same reason). With the calibrated gate
      // ~57% of the driver corpus survives the bundle (bounded by r1
      // wordcount); EntrySmokeSpec's vacuity guard now asserts every
      // e2e_* query returns rows so this class of silent-empty can't
      // recur.
      val docs = t(s, dir, "documents")
      val probeRows = TextOps.corpusProbesBy(docs, col("lang"),
        col("text"))
      val pass = TextOps.gopherRules(
          docs.join(broadcast(probeRows),
            docs("lang") === probeRows("grp")), // |langs| rows
          col("doc_id"), col("text"), col("probes"))
        .filter(col("pass")).select(col("id"))
      val canon = docs
        .select(col("doc_id"), ColFns.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("id"))
        .select(col("id"))
      val scored = TextOps.bigramLogProb(docs, col("doc_id"), col("text"))
      val kept = scored.join(pass, "id").join(canon, "id")
      val cut = Layout.globalRowNumber(kept,
          struct((-col("avg_logp2")).as("nlp"), col("id").as("i")),
          keepTotal = true)
        .filter(col("row_num") * 2 < col("total"))
        .drop("row_num", "total")
      val toks = docs.select(col("doc_id").as("id"),
        ColFns.tokenCount(col("text")).as("n_toks"))
      Layout.globalRowNumber(cut.join(toks, "id"),
          struct((-col("n_toks")).as("nt"), col("id").as("i2")))
        .withColumn("shard", col("row_num") % 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          round(sum(col("avg_logp2").cast("decimal(18,4)"))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_logp2"))
        .orderBy(col("shard"))
    }),

    "e2e_llm_corpus" -> ((s, dir) => {
      // the LLM-corpus pipeline end-to-end, composed from the library:
      // quality filter (x34 rules) → exact-dedup canonical cut (x1) →
      // temperature rebalance by source (p16) → corpus manifest. Each
      // stage is the operator the standalone query gates; the pipeline
      // is their composition — one lazy plan, no intermediate
      // materialization.
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityFeatures(docs, col("doc_id"), col("text"))
        .select(col("id"), col("n_tokens"), col("stopword_ratio"))
      val r = TextOps.repetitionStats(docs, col("doc_id"), col("text"))
        .select(col("id"), col("top_word_frac"))
      val kept = docs.select(col("doc_id").as("id"), col("source"),
          col("text"))
        .join(q, Seq("id")).join(r, Seq("id"))
        .filter(col("n_tokens") >= 10 && col("n_tokens") <= 5000 &&
          col("stopword_ratio") >= 0.05d && col("top_word_frac") <= 0.2d)
      val canonical = kept
        .withColumn("h", ColFns.fingerprint(col("text")))
        .withColumn("keep_id", min(col("id")).over(
          Window.partitionBy(col("h"))))
        .filter(col("id") === col("keep_id"))
      val sampled = Sampling.temperatureSample(canonical,
        col("source"), col("id"))
      // the x115 verifier GATING the export tail (VERDICT r8 #5): a
      // pipeline certifies its shards before a trainer consumes them,
      // so the roundtrip check runs INSIDE the capstone over the
      // sampled corpus — encode through the v=24 vocab, decode back
      // through the inverse vocab, and assert every 0-OOV doc
      // reassembles to its normalized source stream (OOV docs are
      // exempt: the sink id destroyed that information by design).
      // all_roundtrip_ok joins the manifest per source; n_zero_oov is
      // the x26 canary that the exact branch is LIVE, not vacuously
      // true. One vocab definition shared with the sampled export.
      val sampledCp = sampled.localCheckpoint()
      val (vocab, stream) = TextOps.vocabTokenStream(sampledCp,
        col("id"), col("text"), v = 24)
      val dec = TextOps.vocabDecode(stream, vocab)
      val oov = stream.groupBy(col("id"))
        .agg(sum(when(col("tid") === 24L, 1L).otherwise(0L))
          .as("n_oov"))
      val norm = sampledCp.select(col("id"), col("source"),
        ColFns.tokenCount(col("text")).cast("long").as("n_tok"),
        concat_ws(" ", regexp_extract_all(lower(col("text")),
          lit("\\S+"), lit(0))).as("norm"))
      norm.join(dec, Seq("id"), "left").join(oov, Seq("id"), "left")
        .withColumn("zero_oov", coalesce(col("n_oov"), lit(0L)) === 0L)
        .withColumn("rt_ok", !col("zero_oov") ||
          coalesce(col("decoded"), lit("")) === col("norm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("zero_oov"), 1L).otherwise(0L)).as("n_zero_oov"),
          min(col("rt_ok")).as("all_roundtrip_ok"))
        .orderBy(col("source"))
    }),

    "x35_video_frame_neardups" -> ((s, dir) => {
      // media near-dup via shared content fingerprints: frame-sample
      // each "video" (x14 plumbing), then exact Jaccard over the frame
      // fingerprint SETS (Dedup.setJaccardPairs — the generalized
      // inverted-index join; no cross product)
      val media = Multimodal.asMedia(t(s, dir, "documents"),
        "doc_id", "text", "video")
      val frames = Multimodal.frameSample(media, every = 64)
      Dedup.setJaccardPairs(frames, col("media_id"), col("frame_md5"),
          threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "x36_span_dup_coverage" -> ((s, dir) => {
      // substring-level exact-dedup signal (deduplicate-text-datasets
      // shape): every 8-word window hashed, spans repeated across ≥2
      // docs marked, per-doc duplicated-span coverage; the RefinedWeb
      // "mostly repeated spans" drop rule is a filter on dup_frac
      Dedup.spanDuplication(t(s, dir, "documents"), col("doc_id"),
          col("text"), w = 8, minDocs = 2)
        .withColumn("verdict",
          when(col("dup_frac") > 0.5d, "drop_span_dup").otherwise("keep"))
        .orderBy(col("id"))
    }),

    "x42_bpe_pair_counts" -> ((s, dir) => {
      // BPE trainer-prep: frequency-weighted adjacent character-pair
      // counts over the word table — the statistic every merge round
      // of tokenizer training maximizes (TextOps.bpeMerges runs the
      // full greedy loop; spec-pinned)
      TextOps.bpePairCounts(
          TextOps.bpeInit(t(s, dir, "documents"), col("text")))
        .filter(col("pair_count") >= 100)
        .orderBy(col("lhs"), col("rhs"))
    }),

    "x50_dedup_audit" -> ((s, dir) => {
      // the corpus dedup dashboard: one row per signal tier — exact
      // content dups, simhash near-dup members, span-duplication
      // flags, intra-doc repetition — each the aggregate of an
      // already-oracled operator; the single pane a data-quality
      // review reads before a release
      val docs = t(s, dir, "documents")
      def row(sig: String, df: DataFrame) =
        df.select(lit(sig).as("signal"), col("n").cast("long").as("n_docs"))
      val exact = docs.agg((count(lit(1)) - countDistinct(
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))))
        .as("n"))
      val near = Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
          maxHamming = 3)
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .agg(countDistinct(col("id")).as("n"))
      val span = Dedup.spanDuplication(docs, col("doc_id"), col("text"),
          w = 8, minDocs = 2)
        .filter(col("dup_frac") > 0.5d).agg(count(lit(1)).as("n"))
      val intra = TextOps.intraDocDedup(docs, col("doc_id"), col("text"),
          w = 8)
        .filter(col("n_dup_blocks") > 0).agg(count(lit(1)).as("n"))
      row("exact_dup_docs", exact)
        .unionByName(row("near_dup_members", near))
        .unionByName(row("span_flagged_docs", span))
        .unionByName(row("intradoc_affected", intra))
        .orderBy(col("signal"))
    }),

    "x49_intradoc_dedup" -> ((s, dir) => {
      // within-doc repeated-block removal (CCNet-style): drop every
      // 8-token block that already appeared earlier in the same doc —
      // pure per-row array expressions, scan-speed, no shuffle
      TextOps.intraDocDedup(t(s, dir, "documents"), col("doc_id"),
          col("text"), w = 8)
        .orderBy(col("id"))
    }),

    "x48_quality_weighted_sample" -> ((s, dir) => {
      // quality-weighted selection (DCLM-style reweighting): each doc
      // accepts with probability = its composite quality score, via
      // the md5-uniform membership rule — deterministic and
      // auditable, unlike rand()-based sampling. Per-source report:
      // kept counts + fixed-point mean quality of all vs kept (the
      // uplift the reweighting buys).
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityFeatures(docs, col("doc_id"), col("text"))
        .select(col("id"), col("quality_score"))
      val u = conv(substring(md5(col("id").cast("string")), 1, 4), 16, 10)
        .cast("int")
      val qfx = floor(col("quality_score") * 1e4d + 0.5d).cast("long")
      docs.select(col("doc_id").as("id"), col("source"))
        .join(q, Seq("id"))
        .withColumn("kept", u < floor(col("quality_score") * 65536.0d))
        .withColumn("qfx", qfx)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          round(sum(col("qfx")).cast(DoubleType) /
            (count(lit(1)) * 1e4d), 4).as("avg_q_all"),
          round(sum(when(col("kept"), col("qfx")).otherwise(0L))
            .cast(DoubleType) /
            (sum(when(col("kept"), 1L).otherwise(0L)) * 1e4d), 4)
            .as("avg_q_kept"))
        .orderBy(col("source"))
    }),

    "x47_lang_confusion" -> ((s, dir) => {
      // metadata-vs-content governance check: declared `lang` column
      // against the content-derived id (x8's heuristic) as a
      // confusion matrix — the audit a multilingual corpus release
      // publishes
      t(s, dir, "documents")
        .groupBy(col("lang").as("declared"),
          TextOps.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("declared"), col("predicted"))
    }),

    "x38_collocations" -> ((s, dir) => {
      // corpus collocation mining: adjacent-pair lift (the ratio form
      // of PMI — exact rational arithmetic, engine-portable where log
      // ulps are not); the phrase-detection pass before tokenizer
      // training
      TextOps.collocations(t(s, dir, "documents"), col("doc_id"),
          col("text"), minCount = 20L)
        .orderBy(col("bigram"))
    }),

    "x39_oov_rate" -> ((s, dir) => {
      // tokenizer-coverage signal: per-doc out-of-vocabulary rate
      // against the corpus's own deterministic top-30 vocabulary
      TextOps.oovRate(t(s, dir, "documents"), col("doc_id"),
          col("text"), vocabSize = 30)
        .orderBy(col("id"))
    }),

    "x34_quality_filter" -> ((s, dir) => {
      // the C4/Gopher-style keep/drop decision, composed from the
      // pipeline's own signals: token count bounds, stopword floor,
      // top-word repetition cap — one scan, per-row reasons, plus the
      // survivor rate per source (what a cleaning run reports)
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityFeatures(docs, col("doc_id"), col("text"))
      val r = TextOps.repetitionStats(docs, col("doc_id"), col("text"))
      q.join(r.select(col("id"), col("top_word_frac")), Seq("id"))
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .withColumn("verdict",
          when(col("n_tokens") < 10, "too_short")
            .when(col("n_tokens") > 5000, "too_long")
            .when(col("stopword_ratio") < 0.05d, "low_stopword")
            .when(col("top_word_frac") > 0.2d, "repetitious")
            .otherwise("keep"))
        .groupBy(col("source"), col("verdict"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("verdict"))
    }),

    "x30_char_entropy" -> ((s, dir) => {
      // character-entropy perplexity proxy (TextOps.charEntropy):
      // gibberish / encoded-blob detection signal
      TextOps.charEntropy(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("id"))
    }),

    "x31_feature_hash" -> ((s, dir) => {
      // hashing-trick featurization: token → md5-portable bucket,
      // per-doc counts — no vocabulary build, no broadcast
      TextOps.featureHash(t(s, dir, "documents"),
          col("doc_id"), col("text"), buckets = 64)
        .orderBy(col("id"), col("bucket"))
    }),

    "a13_retention_cohorts" -> ((s, dir) => {
      // cohort retention matrix: users bucket by first-activity week,
      // distinct active users per (cohort week, activity week) — two
      // user-grain aggregations + one rollup; the classic product-
      // analytics rollup
      val e = t(s, dir, "events").select(col("user_id"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("wk"))
        .distinct()
      val cohort = e.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_wk"), col("wk"))
    }),

    "a12_funnel" -> ((s, dir) => {
      // ordered-step funnel: first view → first click after it → first
      // purchase after that, per user. Each step joins the user-grain
      // frontier (≪ events; AQE broadcasts when it fits) back to one
      // event-type slice of the fact — the filters push into the scan,
      // so each pass reads only its step's rows.
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as(("us")))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("us") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("us")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      s1.select(count(lit(1)).as("n_view"))
        .crossJoin(s2.select(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.select(count(lit(1)).as("n_full_funnel")))
    }),

    "r5_array_agg" -> ((s, dir) => {
      // nested-output construction: per-customer sorted order-key array
      // (collect_list is order-nondeterministic under shuffle — the
      // deterministic form is collect + sort_array) plus array stats.
      // The array itself is emitted as a canonical comma-joined string:
      // top-level array columns are unsortable by generic row-sorting
      // harnesses (and by many BI sinks), so nested shapes stay internal
      // and the output surface is scalar — see OracleCoverageSpec's
      // no-top-level-array invariant.
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ks"))
        .select(col("o_custkey"),
          array_join(col("ks"), ",").as("order_keys"),
          size(col("ks")).as("n_orders"),
          element_at(col("ks"), 1).as("first_key"))
        .orderBy(col("o_custkey"))
    }),

    "f16_sql_native_fns" -> ((s, dir) => {
      // the SQL-ONLY user's view of the native expressions
      // (plans/GraftExtensions): simhash fingerprints + minhash-banded
      // near-dup degree, written entirely in spark.sql against the
      // registered functions — same operators the DataFrame API uses
      graft.plans.GraftExtensions.registerAll(s)
      Tables.createViews(s, dir)
      s.sql("""
        WITH toks AS (
          SELECT doc_id,
                 split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ')
                   AS tk,
                 array_distinct(regexp_extract_all(lower(text), '\\S+', 0))
                   AS dtoks
          FROM documents),
        sh AS (
          SELECT doc_id,
                 coalesce(graft_simhash60(dtoks), 1152921504606846975L)
                   AS simhash,
                 array_distinct(transform(
                   sequence(0, greatest(size(tk) - 3, 0)),
                   i -> concat_ws(' ', slice(tk, i + 1, 3)))) AS sset
          FROM toks),
        b AS (
          SELECT doc_id, sset, band, key
          FROM sh LATERAL VIEW posexplode(graft_minhash_bands(sset))
               t AS band, key),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM b a JOIN b b2
            ON a.band = b2.band AND a.key = b2.key
               AND a.doc_id < b2.doc_id
          WHERE CAST(size(array_intersect(a.sset, b2.sset)) AS DOUBLE) /
                CAST(size(array_union(a.sset, b2.sset)) AS DOUBLE) >= 0.8),
        deg AS (
          SELECT id, COUNT(*) AS n FROM (
            SELECT id_a AS id FROM pairs
            UNION ALL SELECT id_b FROM pairs) u
          GROUP BY id)
        SELECT s0.doc_id AS id, s0.simhash,
               coalesce(d.n, 0L) AS n_neardups
        FROM sh s0 LEFT JOIN deg d ON s0.doc_id = d.id
        ORDER BY id""")
    }),

    // ---- graph (beyond parity) -----------------------------------------
    "g1_pagerank" -> ((s, dir) => {
      // fixed-iteration PageRank in integer micro-units
      // (Graph.pagerankMicro): every step is integral arithmetic, so
      // the result is bit-exact across engines and summation orders —
      // the dropped division remainders are part of the spec. Link
      // graph derived deterministically from events (user → bucket).
      val e = t(s, dir, "events").select(col("user_id").as("src"),
        (col("event_id") % 150).as("dst"))
      Graph.pagerankMicro(e, iters = 5).orderBy(col("node"))
    }),

    "g2_triangle_count" -> ((s, dir) => {
      // triangle count via the ordered wedge join (Graph.triangleCount)
      // over the same derived link graph as g1
      val e = t(s, dir, "events").select(col("user_id").as("src"),
        (col("event_id") % 150).as("dst"))
      Graph.triangleCount(e)
    }),

    "g3_cooccurrence" -> ((s, dir) => {
      // item co-occurrence graph (recsys / item-embedding prep): pairs
      // of items sharing users + user-set Jaccard, hot users capped
      // BEFORE the quadratic per-user join (Graph.cooccurrence)
      Graph.cooccurrence(t(s, dir, "events"),
          col("user_id"), col("event_id") % 200,
          maxUserItems = 500, minSupport = 2L)
        .orderBy(col("item_a"), col("item_b"))
    }),

    "j17_nearest_join" -> ((s, dir) => {
      // nearest as-of: each click attached to the user's closest
      // purchase in EITHER direction — both window frames in one
      // shuffle (AsofJoin.nearest); ties prefer backward, equal-time
      // states resolve by event id, so output is deterministic
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("user_id"),
          col("ts").as("p_ts"))
      AsofJoin.nearest(clicks, "user_id", "ts",
          purchases, "user_id", "p_ts",
          payload = Seq("p_event_id"), tiebreak = "p_event_id")
        .select(col("event_id"), col("user_id"),
          col("p_event_id").as("nearest_purchase_id"), col("delta_us"))
        .orderBy(col("event_id"))
    }),

    "er1_entity_resolution" -> ((s, dir) => {
      // end-to-end entity resolution: SNM blocked candidates verified
      // by edit distance (the x56 tier) → connected components
      // (transitive closure of the match relation) → survivorship
      // election per entity cluster (longest name, then lexicographic,
      // then min id) — blocking, clustering, and election composed
      // into the master-data pipeline
      val part = t(s, dir, "part")
      val pairs = Dedup.sortedNeighborhoodPairs(part, col("p_partkey"),
        col("p_name"), w = 3, maxDist = 4)
      // sorted-neighborhood match graphs are CHAINS (adjacent names
      // link transitively), the adversarial-diameter case min-label
      // propagation converges slowly on — exactly what the
      // large-star/small-star variant (x51) exists for
      val comps = Dedup.connectedComponentsStar(
        pairs.select(col("id_a"), col("id_b")))
      val named = comps.join(
        part.select(col("p_partkey").as("id"), col("p_name")), Seq("id"))
      val w = Window.partitionBy(col("component"))
        .orderBy(length(col("p_name")).desc, col("p_name").asc,
          col("id").asc)
      named.withColumn("rk", row_number().over(w))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("p_name"))).as("survivor_name"),
          max(when(col("rk") === 1, col("id"))).as("survivor_id"))
        .orderBy(col("component"))
    }),

    "m7_cdc_apply" -> ((s, dir) => {
      // CDC op-log replay: I ops for every order, U (+10.00, exact
      // decimal) for keys %4, D for keys %7; last-writer-wins per key
      // by sequence — one keyed window over the log (Mutations.cdcApply)
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"))
      val ins = o.select(col("o_orderkey").as("k"), lit("I").as("op"),
        lit(1L).as("seq"), col("o_totalprice").as("price"))
      val upd = o.filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          lit(2L).as("seq"),
          // decimal + decimal literal: a bare 10.00 double would
          // coerce the whole sum to DoubleType and double-round,
          // diverging from the oracle's exact decimal addition by an
          // ulp near binade boundaries
          (col("o_totalprice").cast("decimal(18,2)") +
            lit(BigDecimal("10.00")).cast("decimal(18,2)"))
            .cast(DoubleType).as("price"))
      val del = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(3L).as("seq"), lit(0.0d).as("price"))
      Mutations.cdcApply(ins.unionAll(upd).unionAll(del),
          Seq("k"), "op", Seq(col("seq")))
        .select(col("k"), col("op"), col("price"))
        .orderBy(col("k"))
    }),

    "m8_sketch_rollup" -> ((s, dir) => {
      // mergeable-sketch incremental maintenance: per-slice HLL
      // sketches of distinct users (the state a standing rollup
      // PERSISTS — DataSketches HLL, Spark's hll_sketch_agg) merged
      // with hll_union_agg instead of rescanning history; the
      // distinct-count dual of m5's additive sums, where plain counts
      // don't merge but sketches do. Gated on the exact distinct with
      // the a4 tolerance-contract pattern (within 5%; HLL lgk=12 is
      // near-exact at this cardinality)
      val ev = t(s, dir, "events")
        .withColumn("slice", dayofmonth(col("ts")) % 2)
      val perSlice = ev.groupBy(col("event_type"), col("slice"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val merged = perSlice.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_distinct"),
          Mutations.toleranceFlag(col("exact_distinct"), col("est"),
            0.05).as("est_within_5pct"))
        .orderBy(col("event_type"))
    }),

    "m9_kll_ledger" -> ((s, dir) => {
      // m8's quantile dual: per-day KLL sketches of order totalprice
      // (the state a standing latency/price/length-distribution ledger
      // PERSISTS — graft_kll_agg), merged on demand with
      // graft_kll_merge_agg into any date range instead of re-sorting
      // history. percentile_approx answers once and discards its
      // state; this keeps it mergeable (KLL merge bounds are proven,
      // unlike GK merges). Contract is on RANK, where KLL's guarantee
      // actually lives: the exact rank of each estimated quantile
      // value must be within 0.02 of q (k=400 ⇒ ~0.9% rank error at
      // 99% conf — deliberate margin, the a4 pattern).
      import graft.functions.SketchFns
      val o = t(s, dir, "orders")
        .select(col("o_orderdate"),
          col("o_totalprice").cast(DoubleType).as("v"))
      val daily = o.groupBy(col("o_orderdate"))
        .agg(SketchFns.kllAgg(col("v"), 400).as("sk"))
      val merged = daily.agg(
        SketchFns.kllMergeAgg(col("sk"), 400).as("sk"),
        count(lit(1)).as("n_slices"))
      val est = merged.select(col("n_slices"),
        explode(array(Seq(0.5d, 0.9d, 0.99d).map(q =>
          struct(lit(q).as("q"),
            SketchFns.kllQuantile(col("sk"), lit(q)).as("est_v"))): _*))
          .as("r"))
        .select(col("n_slices"), col("r.q").as("q"), col("r.est_v"))
      o.crossJoin(broadcast(est))
        .groupBy(col("q"), col("n_slices"))
        .agg((sum(when(col("v") <= col("est_v"), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1))).as("rank"))
        .select(col("q"), col("n_slices"),
          (abs(col("rank") - col("q")) <= lit(0.02d)).as("rank_err_ok"))
        .orderBy(col("q"))
    }),

    "g4_label_propagation" -> ((s, dir) => {
      // deterministic synchronous label-propagation communities
      // (mode-of-neighbors, ties ascending) over the same derived
      // link graph as g1 — 3 fixed rounds, engine-replayable
      val e = t(s, dir, "events").select(col("user_id").as("src"),
        (col("event_id") % 150).as("dst"))
      Graph.labelPropagation(e, iters = 3).orderBy(col("node"))
    }),

    "j15_scd2_pointintime" -> ((s, dir) => {
      // the consumption side of m4's SCD2 dim: each fact row joins the
      // dim VERSION whose validity interval covers its event date
      // (key equality + date range) — ISO date strings compare
      // lexicographically, so validity is a plain string range; the
      // join shuffles on the key alone and versions-per-key is tiny
      val c = t(s, dir, "customer")
      val dim = c.select(col("c_custkey"), col("c_mktsegment"),
        lit("2024-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      val updates = c.filter(col("c_custkey") % 3 === 0).select(
        when(col("c_custkey") % 50 === 0, col("c_custkey") + 100000)
          .otherwise(col("c_custkey")).as("c_custkey"),
        when(col("c_custkey") % 6 === 0,
          concat(col("c_mktsegment"), lit("_V2")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      val scd2 = Mutations.scd2Merge(dim, updates, Seq("c_custkey"),
        Seq("c_mktsegment"), "2024-06-01")
      val facts = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        date_format(date_add(lit("2024-01-01").cast("date"),
          (col("o_orderkey") % 365).cast("int")), "yyyy-MM-dd").as("d"))
      facts.join(scd2,
          facts("o_custkey") === scd2("c_custkey") &&
            col("d") >= col("valid_from") &&
            (col("valid_to").isNull || col("d") < col("valid_to")))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    "j16_geo_nearest" -> ((s, dir) => {
      // nearest-attraction geo join (the reference domain is mapped
      // places): every customer point scans a BROADCAST attraction dim
      // (brute nearest is the right plan while the dim fits an
      // executor — the scale path is the grid-cell bucket join in
      // operators/GeoJoin, exercised as j16b below on the same data
      // and oracle). Coordinates derive deterministically from keys;
      // win by (distance, id) so ties resolve identically in any
      // engine.
      val att = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("att_id"),
          (lit(21.9d) + (col("p_partkey") * 37 % 300).cast("double") / 100.0d)
            .as("alat"),
          (lit(120.0d) + (col("p_partkey") * 53 % 200).cast("double") / 100.0d)
            .as("alng"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"),
          (lit(21.9d) + (col("c_custkey") * 41 % 300).cast("double") / 100.0d)
            .as("clat"),
          (lit(120.0d) + (col("c_custkey") * 59 % 200).cast("double") / 100.0d)
            .as("clng"))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("dist"), col("att_id"))
      cust.crossJoin(broadcast(att))
        .withColumn("dist", ColFns.haversineKm(col("clat"), col("clng"),
          col("alat"), col("alng")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("att_id").as("nearest_att"),
          round(col("dist"), 3).as("dist_km"))
        .orderBy(col("c_custkey"))
    }),

    "j16b_geo_nearest_grid" -> ((s, dir) => {
      // the SCALE path for j16: grid-cell blocked nearest-neighbor
      // join (operators/GeoJoin) — right side registers in 3×3
      // neighbor cells, left probes its own cell, exact-distance
      // re-verify with a brute fallback for points beyond the
      // provable radius. Same inputs and oracle as j16, so the
      // blocked plan is pinned to the brute result.
      val att = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("att_id"),
          (lit(21.9d) + (col("p_partkey") * 37 % 300).cast("double") / 100.0d)
            .as("alat"),
          (lit(120.0d) + (col("p_partkey") * 53 % 200).cast("double") / 100.0d)
            .as("alng"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"),
          (lit(21.9d) + (col("c_custkey") * 41 % 300).cast("double") / 100.0d)
            .as("clat"),
          (lit(120.0d) + (col("c_custkey") * 59 % 200).cast("double") / 100.0d)
            .as("clng"))
      graft.operators.GeoJoin.nearest(
          cust, "c_custkey", "clat", "clng",
          att, "att_id", "alat", "alng",
          cellDeg = 0.5, maxAbsLatDeg = 25.0)
        .select(col("c_custkey"), col("nearest_id").as("nearest_att"),
          round(col("dist_km"), 3).as("dist_km"))
        .orderBy(col("c_custkey"))
    }),

    // ---- reference pipeline chains (§3.2) ------------------------------
    "ref1_tripadvisor_chain" -> ((s, dir) => {
      // the 9-step TripAdvisor src→ods chain (ReferenceOds) over a
      // zh-headed raw frame synthesized deterministically from `part`:
      // dup names dedup keep-first, 無評分 ratings coerce-drop, "many"
      // review counts coerce-drop, null 類型 drop, " • " normalize,
      // md5 surrogate key — the whole chain under one oracle
      val p = t(s, dir, "part")
      val raw = p.select(
        col("p_partkey").as("_rid"),
        concat(lit("介紹 "), col("p_name")).as("景點介紹"),
        concat(lit("https://img.example/"),
          col("p_partkey").cast(StringType)).as("景點照"),
        col("p_name").as("景點名"),
        when(col("p_partkey") % 17 === 0, lit("無評分"))
          .otherwise(format_string("%.1f 分 (共 5 分)",
            (col("p_partkey") % 45 + 5) / lit(10.0d))).as("評分"),
        when(col("p_partkey") % 13 === 0, lit("many"))
          .otherwise(floor(col("p_retailprice")).cast(StringType))
          .as("評論數"),
        when(col("p_partkey") % 19 === 0, lit(null).cast(StringType))
          .otherwise(regexp_replace(col("p_type"), " ", " • "))
          .as("類型"))
      graft.pipelines.ReferenceOds.tripadvisorInfo(raw)
        .orderBy(col("attraction_name"), col("rating"))
    }),

    "ref2_gmaps_chain" -> ((s, dir) => {
      // the gmaps nested-places chain (SURVEY §3.1) under the hash gate:
      // a 40-field-shape nested frame (popular_times 7-day struct of
      // hour-entry arrays, detailed_address/coordinates structs) is
      // synthesized deterministically from `part`, then run through
      // odsPlaces (filename→place_id, drop, rename) → dimPlaces (city/
      // region regexp split) → popularMatrix (unnest 7 day arrays →
      // explode hour structs → 7×24 pivot, missing hours → 0). The
      // oracle rebuilds the same nested data relationally in DuckDB.
      val p = t(s, dir, "part").filter(col("p_partkey") <= 50)
      val k = col("p_partkey")
      val days = Seq("Monday", "Tuesday", "Wednesday", "Thursday",
        "Friday", "Saturday", "Sunday")
      def dayEntries(di: Int) = transform(
        filter(sequence(lit(0), lit(23)), h => (k + di + h) % 3 =!= 0),
        h => struct(
          h.cast(LongType).as("hour_of_day"),
          concat(h.cast(StringType), lit(":00")).as("time_label"),
          ((k * 31 + di * 24 + h) % 101).cast(LongType)
            .as("popularity_percentage"),
          lit("busy").as("popularity_description")))
      val raw = p.select(
        lit("raw-junk").as("place_id"),            // overwritten by ods
        col("p_name").as("name"),
        col("p_size").cast(LongType).as("reviews"),
        (k % 45).cast(DoubleType)./(lit(10.0d)).as("rating"),
        concat(lit("https://maps.example/"), k.cast(StringType)).as("link"),
        lit("OPERATIONAL").as("status"),           // dropped by ods
        concat(lit("+886-"), k.cast(StringType)).as("phone"), // dropped
        col("p_type").as("address"),
        col("p_brand").as("main_category"),
        struct(lit("TW").as("country_code"),
          concat(lit("高雄市"), substring(col("p_name"), 1, 3)).as("state"))
          .as("detailed_address"),
        struct((lit(21.0d) + k.cast(DoubleType) / lit(100.0d)).as("latitude"),
          (lit(120.0d) + (k % 77).cast(DoubleType) / lit(100.0d))
            .as("longitude")).as("coordinates"),
        struct(days.zipWithIndex.map { case (d, di) =>
          dayEntries(di).as(d) }: _*).as("popular_times"),
        concat(lit("/staging/places/p"), k.cast(StringType), lit(".jsonl"))
          .as("__file"))
      val ods = graft.pipelines.Gmaps.odsPlaces(raw, col("__file"))
      val dim = graft.pipelines.Gmaps.dimPlaces(ods)
      graft.pipelines.Gmaps.popularMatrix(ods)
        .join(dim.select(col("place_id"), col("city"), col("region")),
          Seq("place_id"))
        .orderBy(col("place_id"), col("day"))
    }),

    // ---- end-to-end medallion pipeline (§3.1) --------------------------
    "e2e_medallion_mart" -> ((s, dir) => {
      // src → ods → dim/fact → mart chain with a dependency-ordered
      // runner and per-layer parquet materialization; returns the mart
      graft.pipelines.Medallion.run(s, dir, tmpDir("medallion_lake"))
        .orderBy(col("segment"), col("year"), col("quarter"))
    }),

    // ---- streaming (§2.11) ---------------------------------------------
    "st1_stream_hourly" -> ((s, dir) => {
      graft.streaming.Streams.hourlyEventRollup(s, dir)
        .orderBy(col("bucket"), col("event_type"))
    }),

    "st2_stream_sliding" -> ((s, dir) => {
      graft.streaming.Streams.slidingEventCounts(s, dir)
        .orderBy(col("bucket"), col("event_type"))
    }),

    "st3_stream_dedup_users" -> ((s, dir) => {
      graft.streaming.Streams.streamDistinctUsers(s, dir)
        .orderBy(col("user_id"))
    }),

    "st5_stream_static_join" -> ((s, dir) => {
      graft.streaming.Streams.streamStaticEnrich(s, dir)
        .orderBy(col("day"), col("c_mktsegment"))
    }),

    "st6_stream_upsert" -> ((s, dir) => {
      graft.streaming.Streams.streamUpsertUsers(s, dir)
        .orderBy(col("user_id"))
    }),

    "st7_stream_stream_join" -> ((s, dir) => {
      // stream ⋈ stream with event-time range (view→click conversion)
      graft.streaming.Streams.streamStreamJoin(s, dir)
        .orderBy(col("user_id"))
    }),

    "st10_stream_left_join" -> ((s, dir) => {
      // left-OUTER stream-stream join: unmatched views emit with null
      // click only after the watermark proves no future match can
      // arrive — the emission rule itself is the oracle spec
      graft.streaming.Streams.streamStreamLeftJoin(s, dir)
        .orderBy(col("user_id"))
    }),

    "st4_stream_sessionize" -> ((s, dir) => {
      // custom keyed-state streaming operator (flatMapGroupsWithState);
      // same session semantics as batch t2 → same oracle
      graft.streaming.Streams.streamSessionize(s, dir)
        .orderBy(col("user_id"), col("session_id"))
    }),

    "st8_stream_late_drop" -> ((s, dir) => {
      // watermark semantics made observable: 2 forced micro-batches,
      // batch 2 mostly late → dropped from closed windows; append mode
      // emits exactly the windows the final watermark closed. The
      // oracle is the same spec in plain SQL.
      graft.streaming.Streams.streamLateDataDrop(s, dir)
        .orderBy(col("bucket"), col("event_type"))
    }),

    "st11_stream_incremental_rollup" -> ((s, dir) => {
      // streaming m5: each micro-batch folds into a materialized
      // additive rollup (foreachBatch + upsertAggregate); final state
      // is batching-invariant, which is the oracle
      graft.streaming.Streams.streamIncrementalRollup(s, dir)
        .orderBy(col("event_type"))
    }),

    "st12_stream_quality_monitor" -> ((s, dir) => {
      // streaming x62: each micro-batch appends its integrityReport
      // counts to a ledger; additive counts make the summed ledger
      // equal the batch report however the stream was batched
      graft.streaming.Streams.streamQualityMonitor(s, dir)
        .orderBy(col("check_name"))
    }),

    "st13_stream_sketch_rollup" -> ((s, dir) => {
      // streaming m8: each micro-batch's HLL folds into the standing
      // sketch ledger via hll_union_agg — batching-invariant by sketch
      // algebra, gated on the exact distinct (5% contract)
      graft.streaming.Streams.streamSketchRollup(s, dir)
        .orderBy(col("event_type"))
    }),

    "st16_stream_topk" -> ((s, dir) => {
      // w11's bounded-heap top-k folding into a parquet LEDGER of
      // ≤ k rows per group (st11/st15 foreachBatch-upsert discipline
      // — update-grain state, no complete-mode re-emission, no
      // driver-side buffer); top-k re-aggregation is associative so
      // the ledger is batching-invariant and shares w3/w11's oracle
      graft.streaming.Streams.streamTopK(s, dir)
        .orderBy(col("o_custkey"), col("rank"))
    }),

    "st17_stream_freq_ledger" -> ((s, dir) => {
      // streaming x89: micro-batch heavy-hitter sketches fold into the
      // per-source ledger; Misra-Gries bounds hold under ANY batching
      // and merge order, so the post-ledger contract is x89's
      graft.streaming.Streams.streamFreqLedger(s, dir)
        .orderBy(col("token"))
    }),

    "st15_stream_kll_ledger" -> ((s, dir) => {
      // streaming m9: micro-batch KLL sketches fold into the per-day
      // quantile ledger; KLL merge associativity makes the state
      // batching-invariant, so the rank contract (and oracle) is m9's
      graft.streaming.Streams.streamKllLedger(s, dir)
        .orderBy(col("q"))
    }),

    "st14_stream_theta_novelty" -> ((s, dir) => {
      // streaming x75: per-batch theta sketches fold into a standing
      // keyed ledger; the novelty curve is computed from ledger state
      // alone. Per-key sketch union is micro-batch-invariant, so this
      // shares x75's exact oracle (the st13↔m8 relationship, for set
      // algebra instead of distinct counts)
      graft.streaming.Streams.streamThetaNovelty(s, dir)
        .orderBy(col("batch"))
    }),

    "st9_stream_neardup_admit" -> ((s, dir) => {
      // online near-dup admission: docs stream in, each admitted or
      // dropped against the simhash band cohorts of everything that
      // arrived before it (flatMapGroupsWithState keyed on the band
      // bucket). Single-batch AvailableNow = the batch "collides with
      // any smaller-id doc" spec, which is the oracle.
      graft.streaming.Streams.streamNearDupAdmit(s, dir)
        .orderBy(col("doc_id"))
    }),
  )

  /** Unrolled-CTE DuckDB oracle for [[Graph.pagerankMicro]]: `iters`
    * chained iteration CTEs, each the literal integer-arithmetic spec
    * (`//` = Spark's `div`), so both engines compute identical longs. */
  private def pagerankOracleSql(iters: Int): String = {
    def prev(k: Int) = if (k == 1) "r0" else s"it${k - 1}"
    val header = """
      WITH edges AS (SELECT DISTINCT user_id AS src, event_id % 150 AS dst
                     FROM events),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (SELECT node, (SELECT 1000000000000 // n FROM nn) AS rank
             FROM nodes)"""
    val its = (1 to iters).map { k =>
      s""",
      it$k AS (
        SELECT n.node,
               (SELECT 150000000000 // n FROM nn)
               + (85 * (COALESCE(c.in_contrib, 0) +
                  (SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT)
                   FROM ${prev(k)} r LEFT JOIN deg d ON r.node = d.src
                   WHERE d.src IS NULL) // (SELECT n FROM nn))) // 100
                 AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
                 CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS in_contrib
          FROM edges e JOIN ${prev(k)} r ON e.src = r.node
               JOIN deg d ON e.src = d.src
          GROUP BY e.dst) c ON n.node = c.node)"""
    }.mkString
    header + its + s"\n      SELECT node, rank FROM it$iters ORDER BY node"
  }

  /** Shared r^t table for w10 (r = 0.9, t = 1..ewmaMaxT): computed ONCE
    * on the driver and embedded as literals in BOTH the Spark plan and
    * the generated oracle SQL, so no engine's libm pow (which differ in
    * the final ulp) enters the arithmetic. Double.toString round-trips
    * exactly, so both engines parse the identical doubles. 512 covers
    * per-user series far beyond bench scale; longer series should
    * re-index t per chunk anyway (the power underflows). */
  private val ewmaMaxT = 512
  private lazy val ewmaPowers: Seq[(Int, Double)] =
    (1 to ewmaMaxT).map(t => t -> math.pow(0.9d, t))

  private def ewmaOracleSql: String = {
    val rows = ewmaPowers
      .map { case (t, p) => s"($t, ${java.lang.Double.toString(p)})" }
      .mkString(", ")
    s"""
      WITH pw(t, p) AS (VALUES $rows),
      e AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
        FROM events WHERE event_type = 'purchase'),
      s AS (
        SELECT e.user_id, e.event_id, pw.p,
               CAST(SUM(CAST(e.value / pw.p AS DECIMAL(38,12)))
                 OVER (PARTITION BY e.user_id
                 ORDER BY e.t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS DOUBLE) AS s
        FROM e JOIN pw ON pw.t = e.t)
      SELECT user_id, event_id,
             CAST(round(CAST(0.1 * p * s AS DECIMAL(20,8)), 4) AS DOUBLE)
               AS ewma
      FROM s ORDER BY user_id, event_id"""
  }

  private def labelPropOracleSql(iters: Int): String = {
    def prev(k: Int) = if (k == 1) "l0" else s"lp${k - 1}"
    val header = """
      WITH e0 AS (SELECT DISTINCT user_id AS src, event_id % 150 AS dst
                  FROM events),
      sym AS (SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0)
              WHERE src <> dst),
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      l0 AS (SELECT node, node AS label FROM nodes)"""
    val its = (1 to iters).map { k =>
      s""",
      lp$k AS (
        SELECT p.node, COALESCE(m.new_label, p.label) AS label
        FROM ${prev(k)} p LEFT JOIN (
          SELECT dst AS node, label AS new_label FROM (
            SELECT s.dst, r.label, COUNT(*) AS cnt,
                   row_number() OVER (PARTITION BY s.dst
                     ORDER BY COUNT(*) DESC, r.label ASC) AS rk
            FROM sym s JOIN ${prev(k)} r ON s.src = r.node
            GROUP BY s.dst, r.label)
          WHERE rk = 1) m ON p.node = m.node)"""
    }.mkString
    header + its +
      s"\n      SELECT node, label AS community FROM lp$iters ORDER BY node"
  }

  // =======================================================================
  /** Shared fixed-point brute-force L2 oracle for every exact-
    * degenerate ANN twin (x53b, x88b) and the auto-router on this
    * corpus (x93b, where the RC gate measures not-prunable and the
    * route IS the exact scan). */
  /** The standing-index contract as constants (x113 + st23): the
    * persisted version must be the full quantizer recipe, the encoded
    * state must hold all 2000 vectors at m=8 codes each (the ~100×
    * compression the ledger persists instead of raw vectors), and the
    * ledger-fed search must hold recall 1.0 against the exact twin —
    * any drift in persistence, versioning, stream assembly, or search
    * quality hash-mismatches. */
  /** x119/st24 shared DELETE-contract oracle (the twin discipline:
    * the streaming fold must reproduce the batch append exactly). */
  private val annForgetOracle: String = """
      SELECT 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(16 AS BIGINT) AS n_forgotten,
             TRUE AS forgotten_were_results,
             CAST(0 AS BIGINT) AS n_post_results_forgotten,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_survivors,
             TRUE AS recall_ge_094"""

  private val annIndexOracle: String = """
      SELECT 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(2000 AS BIGINT) AS n_vectors,
             CAST(16000 AS BIGINT) AS n_encoded,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094,
             -- geometry-drift guard: 2000 vectors size to
             -- nlistFor(2000) = 32 < 2 x the trained 64 -> no rebuild
             CAST(32 AS BIGINT) AS sized_nlist_now,
             FALSE AS rebuild_recommended"""

  private val fixedPointBruteOracle: String = """
      WITH qv AS (
        SELECT vec_id,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      d AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])))
                 AS BIGINT) AS approx_d2
        FROM (SELECT * FROM qv WHERE vec_id < 10) q
        JOIN qv c ON q.vec_id <> c.vec_id)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, approx_d2
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank FROM d)
      WHERE rank <= 5 ORDER BY query_id, rank"""

  /** x97's oracle, GENERATED: the Learn.logisticTrain iteration is
    * deterministic DataFrame algebra, so its DuckDB replay is the
    * same recurrence unrolled — one (z, p, g, w) CTE quartet per GD
    * step, emitted by this builder so oracle and engine can only
    * diverge in the recurrence definition, never in a hand-copied
    * step. Feature/hash CTEs replicate TextOps.dsirFeatures (the
    * shared tokenizer); bias/preconditioner/rounding mirror
    * Learn.scala line for line. */
  /** x101's GENERATED oracle: the unrolled BPE merge recurrence
    * (Tokenize.bpeTrain) as a DuckDB CTE chain — engine and oracle
    * share one recurrence definition, every multiply-referenced CTE
    * MATERIALIZED (the x97 discipline). The double-space symbol
    * encoding makes plain replace() equal BPE greedy application in
    * both engines (see Tokenize.scala scaladoc for the proof
    * sketch). */
  private def x101Chain(merges: Int, wfWhere: String = ""): String = {
    val steps = (1 to merges).map { r =>
      s"""pc$r AS MATERIALIZED (
        SELECT pair, SUM(freq) AS cnt FROM (
          SELECT UNNEST(list_transform(range(1, len(arr)),
                   i -> arr[i] || ' ' || arr[i + 1])) AS pair, freq
          FROM (SELECT string_split(trim(syms), '  ') AS arr, freq
                FROM s${r - 1}) WHERE len(arr) >= 2)
        GROUP BY pair),
      best$r AS MATERIALIZED (
        SELECT pair, cnt FROM pc$r
        ORDER BY cnt DESC, pair ASC LIMIT 1),
      s$r AS MATERIALIZED (
        SELECT replace(s.syms,
                 ' ' || replace(b.pair, ' ', '  ') || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS syms,
               s.freq
        FROM s${r - 1} s CROSS JOIN best$r b),
      ct$r AS (
        SELECT CAST(SUM(freq * len(string_split(trim(syms), '  ')))
                 AS BIGINT) AS corpus_tokens
        FROM s$r)"""
    }.mkString(",\n      ")
    s"""
      WITH wf AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq FROM (
          SELECT UNNEST(regexp_extract_all(lower(text), '\\S+')) AS word
          FROM documents $wfWhere)
        GROUP BY word),
      s0 AS MATERIALIZED (
        SELECT ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g'))
                 || ' ' AS syms, freq
        FROM wf),
      $steps"""
  }

  /** x101's tail: the merge table + per-round compression curve. */
  private def x101MergeTail(merges: Int): String = {
    val rows = (1 to merges).map { r =>
      s"""SELECT $r AS rank, pair,
             replace(pair, ' ', '') AS merged,
             CAST(cnt AS BIGINT) AS cnt, corpus_tokens
           FROM best$r CROSS JOIN ct$r"""
    }.mkString("\n      UNION ALL ")
    s"""
      SELECT * FROM (
      $rows)
      ORDER BY rank"""
  }

  /** x104's tail: re-fold the chosen merges over the word-TYPE table
    * (the same rank-order replace() recurrence Spark's
    * bpeSubwordCounts folds as one column expression), then encode
    * the corpus by dictionary join and audit per-source subword
    * compression. */
  private def x104EncodeTail(merges: Int): String = {
    val echain = (1 to merges).map { r =>
      s"""e$r AS MATERIALIZED (
        SELECT word, replace(e.syms,
                 ' ' || replace(b.pair, ' ', '  ') || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS syms
        FROM e${r - 1} e CROSS JOIN best$r b)"""
    }.mkString(",\n      ")
    s"""
      , e0 AS MATERIALIZED (
        SELECT word, ' ' || rtrim(regexp_replace(word, '(.)',
                 '\\1  ', 'g')) || ' ' AS syms
        FROM wf),
      $echain,
      dict AS MATERIALIZED (
        SELECT word, len(string_split(trim(syms), '  ')) AS n_sub
        FROM e$merges),
      wtoks AS (
        SELECT source,
               UNNEST(regexp_extract_all(lower(text), '\\S+')) AS word
        FROM documents)
      SELECT source, COUNT(*) AS n_words,
             CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
             floor(CAST(SUM(n_sub) AS DOUBLE) / COUNT(*) * 10000.0)
               / 10000.0 AS subwords_per_word
      FROM wtoks JOIN dict USING (word)
      GROUP BY source ORDER BY source"""
  }

  /** x106's tail: re-fold the en-trained merges over the ALL-corpus
    * word-type table, encode every language, and compare per-lang
    * fertility against the training slice's own — the
    * tokenizer-drift audit. `th` is the drift threshold on the
    * floor-cut fertility ratio (pinned from measurement at the call
    * site). */
  private def x106DriftTail(merges: Int, th: String): String = {
    val achain = (1 to merges).map { r =>
      s"""a$r AS MATERIALIZED (
        SELECT word, replace(e.syms,
                 ' ' || replace(b.pair, ' ', '  ') || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS syms
        FROM a${r - 1} e CROSS JOIN best$r b)"""
    }.mkString(",\n      ")
    s"""
      , corp AS (
        SELECT lang, text FROM documents
        UNION ALL
        SELECT 'zz_rot13' AS lang,
               translate(lower(text), 'abcdefghijklmnopqrstuvwxyz',
                 'nopqrstuvwxyzabcdefghijklm') AS text
        FROM documents WHERE lang = 'en'),
      wfall AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq FROM (
          SELECT UNNEST(regexp_extract_all(lower(text), '\\S+')) AS word
          FROM corp)
        GROUP BY word),
      a0 AS MATERIALIZED (
        SELECT word, ' ' || rtrim(regexp_replace(word, '(.)',
                 '\\1  ', 'g')) || ' ' AS syms
        FROM wfall),
      $achain,
      dict AS MATERIALIZED (
        SELECT word, len(string_split(trim(syms), '  ')) AS n_sub
        FROM a$merges),
      ltoks AS (
        SELECT lang,
               UNNEST(regexp_extract_all(lower(text), '\\S+')) AS word
        FROM corp),
      pane AS MATERIALIZED (
        SELECT lang, COUNT(*) AS n_words,
               CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
               floor(CAST(SUM(n_sub) AS DOUBLE) / COUNT(*) * 10000.0)
                 / 10000.0 AS fertility
        FROM ltoks JOIN dict USING (word) GROUP BY lang),
      base AS (SELECT fertility AS f_en FROM pane WHERE lang = 'en')
      SELECT lang, n_words, n_subwords, fertility,
             floor(fertility / (SELECT f_en FROM base) * 10000.0)
               / 10000.0 AS ratio_vs_train,
             floor(fertility / (SELECT f_en FROM base) * 10000.0)
               / 10000.0 > $th AS drift
      FROM pane ORDER BY lang"""
  }

  /** x102's GENERATED oracle: the unrolled power-iteration recurrence
    * (Learn.powerIterationMicro + varianceAlongMicro) in the
    * FIXED-POINT discipline — every value an exact BIGINT in 1e-6
    * micro-units, every cut a floor() on IEEE-identical doubles,
    * every sum exact integer — so engine and oracle agree
    * bit-for-bit with no rounding-tie analysis (see Learn.q6
    * scaladoc for why round(…,6) cannot be used mid-chain here). */
  /** The shared centering prefix of the x102/x103/x105/st20/e2e
    * oracles: emb → nrows → xi (floor micro) → floored means →
    * exact-integer xc. `extraEmb` unions extra long-form rows into
    * the corpus (the e2e canary); `nrowsSql` must count the
    * augmented corpus. */
  private def xcChainWith(extraEmb: String, nrowsSql: String): String = s"""
      WITH emb AS (
        SELECT vec_id AS id,
               UNNEST(CAST(embedding AS DOUBLE[])) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings $extraEmb),
      nrows AS ($nrowsSql),
      xi AS MATERIALIZED (
        SELECT id, d, CAST(floor(x * 1000000.0) AS BIGINT) AS xi
        FROM emb),
      means AS MATERIALIZED (
        SELECT d, CAST(floor(CAST(SUM(xi) AS DOUBLE) / COUNT(*))
                 AS BIGINT) AS mi
        FROM xi GROUP BY d),
      xc AS MATERIALIZED (
        SELECT id, x.d, xi - mi AS xc
        FROM xi x JOIN means m USING (d))"""

  private val xcChain: String = xcChainWith("",
    "SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings")

  /** The e2e canary slice: 10 low-id vectors re-enter ×3-scaled
    * under offset ids — guaranteed outside the norm band, so the
    * screen's reject branch is live at every scale (x106
    * discipline). */
  private val e2eCanaryChain: String = xcChainWith(
    """UNION ALL
        SELECT vec_id + 10000000 AS id,
               UNNEST(list_transform(CAST(embedding AS DOUBLE[]),
                 v -> v * 3.0)) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings WHERE vec_id < 10""",
    "SELECT CAST(COUNT(*) + 10 AS DOUBLE) AS n FROM embeddings")

  private def x102Chain(iters: Int, dims: Int,
                        prefix: String = xcChain): String = {
    val v0 = math.floor(1000000.0 / math.sqrt(dims.toDouble)).toLong
    val steps = (1 to iters).map { t =>
      s"""sp$t AS MATERIALIZED (
        SELECT id, CAST(floor(CAST(SUM(xc * v) AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS s
        FROM xc JOIN v${t - 1} USING (d) GROUP BY id),
      u$t AS MATERIALIZED (
        SELECT d, CAST(floor(CAST(SUM(xc * s) AS DOUBLE)
                 / (SELECT n FROM nrows) / 1000000.0) AS BIGINT) AS u
        FROM xc JOIN sp$t USING (id) GROUP BY d),
      nm$t AS MATERIALIZED (
        SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm
        FROM u$t),
      v$t AS MATERIALIZED (
        SELECT d, CAST(floor(CAST(u AS DOUBLE) / nrm
                 * 1000000.0) AS BIGINT) AS v
        FROM u$t CROSS JOIN nm$t)"""
    }.mkString(",\n      ")
    prefix + s"""
      , v0 AS MATERIALIZED (
        SELECT DISTINCT d, CAST($v0 AS BIGINT) AS v FROM xc),
      $steps"""
  }

  /** x107's GENERATED oracle: x102's chain (v1), the deflation
    * residual, and a SECOND unrolled iteration chain over the
    * residual (v2), plus the exact-integer orthogonality dot and
    * both variance panes — mirroring the deflation recipe operation
    * for operation. */
  private def x107Oracle(iters: Int, dims: Int): String = {
    val v0 = math.floor(1000000.0 / math.sqrt(dims.toDouble)).toLong
    val rsteps = (1 to iters).map { t =>
      s"""rsp$t AS MATERIALIZED (
        SELECT id, CAST(floor(CAST(SUM(xc * v) AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS s
        FROM rxc JOIN rv${t - 1} USING (d) GROUP BY id),
      ru$t AS MATERIALIZED (
        SELECT d, CAST(floor(CAST(SUM(xc * s) AS DOUBLE)
                 / (SELECT n FROM nrows) / 1000000.0) AS BIGINT) AS u
        FROM rxc JOIN rsp$t USING (id) GROUP BY d),
      rnm$t AS MATERIALIZED (
        SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm FROM ru$t),
      rv$t AS MATERIALIZED (
        SELECT d, CAST(floor(CAST(u AS DOUBLE) / nrm
                 * 1000000.0) AS BIGINT) AS v
        FROM ru$t CROSS JOIN rnm$t)"""
    }.mkString(",\n      ")
    x102Chain(iters, dims) + s"""
      , proj AS MATERIALIZED (
        SELECT id, CAST(floor(CAST(SUM(xc * v) AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS s
        FROM xc JOIN v$iters USING (d) GROUP BY id),
      rxc AS MATERIALIZED (
        SELECT x.id, x.d,
               x.xc - CAST(floor(CAST(p.s * v.v AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS xc
        FROM xc x JOIN proj p USING (id)
        JOIN v$iters v ON x.d = v.d),
      rv0 AS MATERIALIZED (
        SELECT DISTINCT d, CAST($v0 AS BIGINT) AS v FROM rxc),
      $rsteps,
      dotp AS (
        SELECT floor(CAST(SUM(a.v * b.v) AS DOUBLE)
                 / 1000000000000.0 * 1000000.0)
               / 1000000.0 AS dot_v1_v2
        FROM v$iters a JOIN rv$iters b USING (d)),
      pv1 AS (
        SELECT floor(CAST(SUM(s * s) AS DOUBLE) / 1000000000000.0
                 / (SELECT n FROM nrows) * 1000000.0)
               / 1000000.0 AS pc1_var
        FROM proj),
      sfin2 AS MATERIALIZED (
        SELECT id, CAST(floor(CAST(SUM(xc * v) AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS s
        FROM rxc JOIN rv$iters USING (d) GROUP BY id),
      pv2 AS (
        SELECT floor(CAST(SUM(s * s) AS DOUBLE) / 1000000000000.0
                 / (SELECT n FROM nrows) * 1000000.0)
               / 1000000.0 AS pc2_var
        FROM sfin2)
      SELECT d, CAST(a.v AS DOUBLE) / 1000000.0 AS pc1,
             CAST(b.v AS DOUBLE) / 1000000.0 AS pc2,
             dot_v1_v2, pc1_var, pc2_var
      FROM v$iters a JOIN rv$iters b USING (d)
      CROSS JOIN dotp CROSS JOIN pv1 CROSS JOIN pv2
      ORDER BY d"""
  }

  /** x105/st20's GENERATED oracle: centered gram via exact integer
    * sums, then `iters` unrolled gram-space power-iteration steps
    * (HUGEINT products — gram·w exceeds 64 bits) and the variance
    * pane, mirroring Learn.gramMicro/gramPowerIteration/
    * gramVariancePane operation for operation. st20 shares this
    * oracle verbatim: the moment ledger reconstructs THIS gram
    * exactly (integer identity), which is the batching-invariance
    * proof. */
  private def x105Oracle(iters: Int, dims: Int): String = {
    val v0 = math.floor(1000000.0 / math.sqrt(dims.toDouble)).toLong
    val steps = (1 to iters).map { t =>
      s"""wu$t AS MATERIALIZED (
        SELECT g0.d1 AS d, CAST(floor(CAST(SUM(CAST(g0.g AS HUGEINT)
                 * wv.w) AS DOUBLE) / (SELECT n FROM nrows)
                 / 1000000000000.0) AS BIGINT) AS u
        FROM gram g0 JOIN w${t - 1} wv ON g0.d2 = wv.d
        GROUP BY g0.d1),
      wn$t AS MATERIALIZED (
        SELECT sqrt(CAST(SUM(u * u) AS DOUBLE)) AS nrm FROM wu$t),
      w$t AS MATERIALIZED (
        SELECT d, CAST(floor(CAST(u AS DOUBLE) / nrm
                 * 1000000.0) AS BIGINT) AS w
        FROM wu$t CROSS JOIN wn$t)"""
    }.mkString(",\n      ")
    xcChain + s"""
      , gram AS MATERIALIZED (
        SELECT a.d AS d1, b.d AS d2, SUM(a.xc * b.xc) AS g
        FROM xc a JOIN xc b USING (id) GROUP BY 1, 2),
      w0 AS MATERIALIZED (
        SELECT DISTINCT d1 AS d, CAST($v0 AS BIGINT) AS w FROM gram),
      $steps,
      plam AS (
        SELECT floor(CAST(SUM(CAST(g0.g AS HUGEINT) * w1.w * w2.w)
                 AS DOUBLE) / (SELECT n FROM nrows)
                 / 1000000000000.0 / 1000000000000.0 * 1000000.0)
               / 1000000.0 AS pc_var
        FROM gram g0 JOIN w$iters w1 ON g0.d1 = w1.d
        JOIN w$iters w2 ON g0.d2 = w2.d),
      ptot AS (
        SELECT floor(CAST(SUM(g) AS DOUBLE) / (SELECT n FROM nrows)
                 / 1000000000000.0 * 1000000.0)
               / 1000000.0 AS total_var
        FROM gram WHERE d1 = d2)
      SELECT d, CAST(w AS DOUBLE) / 1000000.0 AS loading,
             pc_var, total_var,
             floor(pc_var / total_var * 1000000.0)
               / 1000000.0 AS evr
      FROM w$iters CROSS JOIN plam CROSS JOIN ptot
      ORDER BY d"""
  }

  private def x102Oracle(iters: Int, dims: Int): String =
    x102Chain(iters, dims) + s"""
      , sfin AS MATERIALIZED (
        SELECT id, CAST(floor(CAST(SUM(xc * v) AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS s
        FROM xc JOIN v$iters USING (d) GROUP BY id),
      lam AS (
        SELECT floor(CAST(SUM(s * s) AS DOUBLE) / 1000000000000.0
                 / (SELECT n FROM nrows) * 1000000.0)
               / 1000000.0 AS pc_var
        FROM sfin),
      tot AS (
        SELECT floor(CAST(SUM(xc * xc) AS DOUBLE) / 1000000000000.0
                 / (SELECT n FROM nrows) * 1000000.0)
               / 1000000.0 AS total_var
        FROM xc)
      SELECT d, CAST(v AS DOUBLE) / 1000000.0 AS loading,
             pc_var, total_var,
             floor(pc_var / total_var * 1000000.0)
               / 1000000.0 AS evr
      FROM v$iters CROSS JOIN lam CROSS JOIN tot
      ORDER BY d"""

  /** The deflation-residual CTE pair shared by the x103 and
    * e2e_embed_pipeline oracles. */
  private def residPrefix(iters: Int): String = s"""
      , proj AS MATERIALIZED (
        SELECT id, CAST(floor(CAST(SUM(xc * v) AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS s
        FROM xc JOIN v$iters USING (d) GROUP BY id),
      resid AS MATERIALIZED (
        SELECT x.id, x.d,
               x.xc - CAST(floor(CAST(p.s * v.v AS DOUBLE)
                 / 1000000.0) AS BIGINT) AS e
        FROM xc x JOIN proj p USING (id)
        JOIN v$iters v ON x.d = v.d)"""

  /** e2e_embed_pipeline's tail: integer-micro residual norms, the
    * pure-integer norm screen, and the 4-shard manifest. */
  private def e2eEmbedTail: String = """
      , nrms AS MATERIALIZED (
        SELECT id, CAST(floor(sqrt(CAST(SUM(e * e) AS DOUBLE)))
                 AS BIGINT) AS nrmi
        FROM resid GROUP BY id),
      mn AS (
        SELECT CAST(floor(CAST(SUM(nrmi) AS DOUBLE)
                 / (SELECT n FROM nrows)) AS BIGINT) AS mi
        FROM nrms),
      kept AS (
        SELECT id, nrmi FROM nrms CROSS JOIN mn
        WHERE nrmi * 2 >= mi AND nrmi * 2 <= mi * 3)
      SELECT CAST(id % 4 AS INT) AS shard, COUNT(*) AS n_vecs,
             floor(CAST(SUM(nrmi) AS DOUBLE) / COUNT(*))
               / 1000000.0 AS mean_resid_norm
      FROM kept GROUP BY 1 ORDER BY shard"""

  /** x103's tail over the same chain: the All-but-the-Top residual
    * e = xc − floor(s·v/1e6) and the per-dim variance accounting
    * pane (Learn.removeTopPC + perDimVarianceMicro, mirrored). */
  private def x103Oracle(iters: Int, dims: Int): String =
    x102Chain(iters, dims) + residPrefix(iters) + s"""
      , bv AS (
        SELECT d, floor(CAST(SUM(xc * xc) AS DOUBLE)
                 / 1000000000000.0 / (SELECT n FROM nrows)
                 * 1000000.0) / 1000000.0 AS before_var
        FROM xc GROUP BY d),
      av AS (
        SELECT d, floor(CAST(SUM(e * e) AS DOUBLE)
                 / 1000000000000.0 / (SELECT n FROM nrows)
                 * 1000000.0) / 1000000.0 AS after_var
        FROM resid GROUP BY d)
      SELECT d, before_var, after_var,
             before_var - after_var AS delta
      FROM bv JOIN av USING (d)
      ORDER BY d"""

  private lazy val x105OracleStr: String = x105Oracle(iters = 8,
    dims = 64)

  /** Shared x111/st22 oracle: CCNet boilerplate strip over the
    * footer-injected corpus (mirrors [[footerInject]]); the blacklist
    * groups by the trimmed segment STRING where the engine groups by
    * xxhash64 — identical partitions absent a 64-bit collision. */
  private lazy val x111OracleStr: String = """
      WITH d AS (
        SELECT doc_id, text || chr(10) ||
               CASE doc_id % 3
                 WHEN 0 THEN 'subscribe to our newsletter'
                 WHEN 1 THEN 'all rights reserved'
                 ELSE 'cookie policy applies' END AS t
        FROM documents),
      segs AS (
        SELECT doc_id, UNNEST(parts) AS seg,
               generate_subscripts(parts, 1) AS pos
        FROM (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d)),
      bl AS (
        SELECT trim(seg) AS ts FROM segs
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 10),
      kept AS (
        SELECT s.doc_id, s.seg, s.pos FROM segs s
        LEFT JOIN bl ON trim(s.seg) = bl.ts WHERE bl.ts IS NULL),
      reb AS (
        SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS ct,
               COUNT(*) AS nk
        FROM kept GROUP BY doc_id),
      tot AS (SELECT doc_id, COUNT(*) AS ns FROM segs GROUP BY doc_id)
      SELECT t.doc_id AS id, md5(COALESCE(r.ct, '')) AS clean_md5,
             t.ns AS n_segs, t.ns - COALESCE(r.nk, 0) AS n_removed
      FROM tot t LEFT JOIN reb r USING (doc_id)
      ORDER BY id"""

  // iters/lr come from the SAME vals the engine trains with
  // (Learn.qualityClassifier) — the operating point cannot diverge
  private lazy val x97OracleStr: String = x97Oracle(
    iters = Learn.qualityIters, lr = Learn.qualityLr.toString,
    x97PaneTail)

  private lazy val x98OracleStr: String = x97Oracle(
    iters = Learn.qualityIters, lr = Learn.qualityLr.toString,
    x98CalibrationTail)

  private def x97Oracle(iters: Int, lr: String, tail: String): String = {
    def gw(i: Int, pJoin: String, wPrev: Option[String]) = {
      val g = s"""g$i AS MATERIALIZED (SELECT tr.b, SUM(CAST(round((p.p - tr.y)
                 * tr.v, 12) AS DECIMAL(38,12))) AS grad
             FROM tr $pJoin GROUP BY tr.b)"""
      val w = wPrev match {
        case None => s"""w$i AS MATERIALIZED (SELECT g.b, round(0.0 - $lr
                 * COALESCE(CAST(g.grad AS DOUBLE)
                   / CAST(fm.fm AS DOUBLE), 0.0), 6) AS w
             FROM g$i g LEFT JOIN fm ON g.b = fm.b)"""
        case Some(wp) => s"""w$i AS MATERIALIZED (SELECT COALESCE(g.b, w.b) AS b,
                 round(COALESCE(w.w, 0.0) - $lr
                   * COALESCE(CAST(g.grad AS DOUBLE)
                     / CAST(fm.fm AS DOUBLE), 0.0), 6) AS w
             FROM g$i g FULL OUTER JOIN $wp w ON g.b = w.b
             LEFT JOIN fm ON COALESCE(g.b, w.b) = fm.b)"""
      }
      s"$g,\n      $w"
    }
    val steps = (1 to iters).map { i =>
      if (i == 1) gw(1, "CROSS JOIN p1c p", None)
      else {
        val zp = s"""z$i AS MATERIALIZED (SELECT tr.id, SUM(CAST(round(tr.v
                 * COALESCE(w.w, 0.0), 12) AS DECIMAL(38,12))) AS zd
             FROM tr LEFT JOIN w${i - 1} w USING (b) GROUP BY tr.id),
      p$i AS MATERIALIZED (SELECT id, round(1.0 / (1.0 + exp(-(bs.bias
                 + CAST(zd AS DOUBLE)))), 6) AS p
             FROM z$i CROSS JOIN bias bs),
      """
        zp + gw(i, s"JOIN p$i p USING (id)", Some(s"w${i - 1}"))
      }
    }.mkString(",\n      ")
    s"""
      WITH d AS (
        SELECT doc_id AS id, source, lang,
               regexp_extract_all(lower(text), '\\S+') AS t
        FROM documents),
      uni AS (SELECT id, UNNEST(t) AS f FROM d),
      bi AS (
        SELECT id, UNNEST(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i + 1])) AS f
        FROM d WHERE len(t) >= 2),
      rawfeat AS MATERIALIZED (
        SELECT id, b, COUNT(*) AS cnt FROM (
          SELECT id, CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT)
                   % 4096 AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi))
        GROUP BY id, b),
      dl AS (SELECT id, SUM(cnt) AS dl FROM rawfeat GROUP BY id),
      feat AS MATERIALIZED (
        SELECT r.id, r.b, round(r.cnt / l.dl, 6) AS v
        FROM rawfeat r JOIN dl l USING (id)),
      lab AS MATERIALIZED (
        SELECT doc_id AS id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
      bias AS MATERIALIZED (
        SELECT round(ln(AVG(y) / (1.0 - AVG(y))), 6) AS bias
        FROM lab),
      p1c AS MATERIALIZED (
        SELECT round(1.0 / (1.0 + exp(-bias)), 6) AS p
        FROM bias),
      tr AS MATERIALIZED (
        SELECT f.id, f.b, f.v, l.y
        FROM feat f JOIN lab l USING (id)),
      fm AS MATERIALIZED (
        SELECT b, SUM(CAST(v AS DECIMAL(38,12))) AS fm
        FROM tr GROUP BY b),
      $steps,
      zs AS (SELECT feat.id, SUM(CAST(round(feat.v
                 * COALESCE(w.w, 0.0), 12) AS DECIMAL(38,12))) AS zd
             FROM feat LEFT JOIN w$iters w USING (b) GROUP BY feat.id),
      ps AS (SELECT id, round(1.0 / (1.0 + exp(-(bs.bias
                 + CAST(zd AS DOUBLE)))), 6) AS p
             FROM zs CROSS JOIN bias bs),
      sc AS (SELECT m.id, m.source, m.lang,
                    COALESCE(ps.p, (SELECT p FROM p1c)) AS score
             FROM (SELECT doc_id AS id, source, lang FROM documents) m
             LEFT JOIN ps USING (id))
      $tail"""
  }

  /** x97's per-source audit pane over the scored relation `sc`. */
  private val x97PaneTail: String = """
      SELECT source, COUNT(*) AS n_docs,
             round(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*), 4) AS mean_score,
             CAST(SUM(CASE WHEN score > 0.5 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pred_quality,
             CAST(SUM(CASE WHEN score > 0.5 AND lang = 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_quality_en
      FROM sc GROUP BY source ORDER BY source"""

  /** e2e_select_corpus's build tail: gate → canonical dedup →
    * token-balanced shards over the same trained/scored chain. */
  private val e2eSelectTail: String = """
      , canon AS (SELECT MIN(doc_id) AS id FROM (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                   AS fp
          FROM documents) GROUP BY fp),
      tk AS (SELECT doc_id AS id,
                    len(regexp_extract_all(text, '\S+')) AS n_toks
             FROM documents),
      kept AS (SELECT sc.id, sc.score, tk.n_toks
               FROM sc JOIN canon USING (id) JOIN tk USING (id)
               WHERE sc.score > 0.5),
      shx AS (SELECT *, row_number() OVER (ORDER BY n_toks DESC,
                       id ASC) AS rn
              FROM kept)
      SELECT (rn - 1) % 4 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*), 4) AS mean_score
      FROM shx GROUP BY 1 ORDER BY shard"""

  /** x98's calibration tail over the same trained/scored chain. */
  private val x98CalibrationTail: String = """
      SELECT bucket, COUNT(*) AS n_docs,
             round(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*), 4) AS mean_score,
             round(SUM(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
               / COUNT(*), 4) AS frac_en,
             round(abs(round(CAST(SUM(CAST(score AS DECIMAL(28,6)))
                   AS DOUBLE) / COUNT(*), 4)
               - round(SUM(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)
                   / COUNT(*), 4)), 4) AS gap
      FROM (SELECT *, LEAST(CAST(floor(score * 10) AS INTEGER), 9)
              AS bucket FROM sc)
      GROUP BY bucket ORDER BY bucket"""

  /** Shared x94/st18 oracle: the DSIR selection pane. st18 trains
    * the model from the streamed ledger; additive counts + the
    * exactly-once fold make the ledger model equal the batch model
    * for any stream split, so one oracle serves both twins (the
    * batching-invariance proof).*/
  private val dsirSelectionOracle: String = """
      WITH d AS (
        SELECT doc_id AS id, source, lang,
               regexp_extract_all(lower(text), '\S+') AS t
        FROM documents),
      uni AS (
        SELECT id, lang = 'en' AS tgt, UNNEST(t) AS f FROM d),
      bi AS (
        SELECT id, lang = 'en' AS tgt,
               UNNEST(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i + 1])) AS f
        FROM d WHERE len(t) >= 2),
      feat AS (
        SELECT id, tgt, f,
               CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT)
                 % 4096 AS b
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      counts AS (
        SELECT b, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cq
        FROM feat GROUP BY b),
      totals AS (SELECT SUM(ct) AS nt, SUM(cq) AS nq FROM counts),
      ratio AS (
        SELECT b, round(ln((ct + 1.0) / (nt + 4096))
                 - ln((cq + 1.0) / (nq + 4096)), 6) AS lr
        FROM counts CROSS JOIN totals),
      perdoc AS (
        SELECT id, round(CAST(SUM(CAST(cnt * CAST(lr AS DECIMAL(28,6))
                 AS DECIMAL(28,6))) AS DOUBLE), 4) AS w
        FROM (SELECT id, b, COUNT(*) AS cnt FROM feat GROUP BY id, b)
        JOIN ratio USING (b) GROUP BY id),
      scored AS (
        SELECT d.id, d.source, d.lang, COALESCE(p.w, 0.0) AS w
        FROM d LEFT JOIN perdoc p ON d.id = p.id),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY w DESC, id ASC) AS rn,
               COUNT(*) OVER () AS total
        FROM scored)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN (rn - 1) * 4 < total THEN 1 ELSE 0 END)
               AS BIGINT) AS n_selected,
             CAST(SUM(CASE WHEN (rn - 1) * 4 < total AND lang = 'en'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected_en,
             round(CAST(SUM(CASE WHEN (rn - 1) * 4 < total
                 THEN CAST(w AS DECIMAL(18,4)) END) AS DOUBLE), 4)
               AS sum_w_selected
      FROM ranked GROUP BY source ORDER BY source"""

  /** Shared oracle for x74/x74b: exact shared-gram counts with the
    * deterministically-true tolerance flag (both sizings are exact-mode
    * at oracle scale). */
  private val thetaOverlapOracle: String = """
      WITH tk AS (
        SELECT source, string_split(trim(regexp_replace(lower(text),
          '\s+', ' ', 'g')), ' ') AS t
        FROM documents),
      posts AS (
        SELECT DISTINCT source,
               CAST(('0x' || substring(md5(array_to_string(
                 t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
        FROM tk, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
      srcs AS (SELECT DISTINCT source FROM posts),
      pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM srcs a JOIN srcs b ON a.source < b.source),
      pr AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared_grams
        FROM posts a JOIN posts b
          ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.source_a, p.source_b,
             COALESCE(pr.shared_grams, CAST(0 AS BIGINT)) AS shared_grams,
             TRUE AS est_within_5pct
      FROM pairs p LEFT JOIN pr
        ON pr.source_a = p.source_a AND pr.source_b = p.source_b
      ORDER BY p.source_a, p.source_b"""

  def oracleSql: Map[String, String] = Map(

    "g1_pagerank" -> pagerankOracleSql(5),

    "g4_label_propagation" -> labelPropOracleSql(3),

    "j17_nearest_join" -> """
      WITH clicks AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'click'),
      purch AS (
        SELECT event_id AS p_event_id, user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase')
      SELECT c.event_id, c.user_id,
             n.p_event_id AS nearest_purchase_id, n.delta_us
      FROM clicks c LEFT JOIN LATERAL (
        SELECT p.p_event_id,
               epoch_us(p.p_ts) - epoch_us(c.ts) AS delta_us
        FROM purch p WHERE p.user_id = c.user_id
        ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.ts)) ASC,
                 (epoch_us(p.p_ts) > epoch_us(c.ts)) ASC,
                 CASE WHEN epoch_us(p.p_ts) <= epoch_us(c.ts)
                      THEN -p.p_event_id ELSE p.p_event_id END ASC
        LIMIT 1) n ON TRUE
      ORDER BY c.event_id""",

    "m8_sketch_rollup" -> """
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_distinct,
             TRUE AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type""",

    "er1_entity_resolution" -> """
      WITH RECURSIVE s AS (
        SELECT p_partkey AS id, p_name AS k,
               substring(p_name, 1, 1) AS blk FROM part),
      l AS (SELECT id, k,
              lead(id, 1) OVER w AS n1id, lead(k, 1) OVER w AS n1k,
              lead(id, 2) OVER w AS n2id, lead(k, 2) OVER w AS n2k
            FROM s WINDOW w AS (PARTITION BY blk ORDER BY k, id)),
      pairs AS (
        SELECT id AS id_a, n1id AS id_b FROM l
        WHERE n1id IS NOT NULL AND levenshtein(k, n1k) <= 4
        UNION ALL
        SELECT id, n2id FROM l
        WHERE n2id IS NOT NULL AND levenshtein(k, n2k) <= 4),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s2.dst, r.r FROM reach r JOIN sym s2 ON s2.src = r.id),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
      named AS (
        SELECT c.component, c.id, p.p_name
        FROM comp c JOIN part p ON p.p_partkey = c.id),
      rk AS (
        SELECT *, row_number() OVER (PARTITION BY component
          ORDER BY length(p_name) DESC, p_name ASC, id ASC) AS rk
        FROM named)
      SELECT component, COUNT(*) AS n_members,
             MAX(CASE WHEN rk = 1 THEN p_name END) AS survivor_name,
             MAX(CASE WHEN rk = 1 THEN id END) AS survivor_id
      FROM rk GROUP BY component ORDER BY component""",

    "m7_cdc_apply" -> """
      WITH log AS (
        SELECT o_orderkey AS k, 'I' AS op, 1 AS seq, o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'U', 2,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10.00 AS DOUBLE)
        FROM orders WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT o_orderkey, 'D', 3, 0.0
        FROM orders WHERE o_orderkey % 7 = 0),
      r AS (SELECT *, row_number() OVER (PARTITION BY k
              ORDER BY seq DESC) AS rk FROM log)
      SELECT k, op, price FROM r WHERE rk = 1 AND op <> 'D'
      ORDER BY k""",

    "s1_csv_roundtrip" -> """
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "s3_jsonl_roundtrip" -> """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "s9_partitioned_write" -> """
      SELECT CAST(month(o_orderdate) AS INT) AS o_month, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE month(o_orderdate) BETWEEN 3 AND 6
      GROUP BY 1 ORDER BY o_month""",

    "s7_sql_over_views" -> """
      SELECT n.n_name AS nation, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY nation""",

    "s8_managed_table" -> """
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      ORDER BY n_nationkey""",

    "s14_jdbc_roundtrip" -> """
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      ORDER BY n_nationkey""",

    "s10_idempotent_guard" -> """
      SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    "s19_lake_ops" -> """
      SELECT r_regionkey, r_name,
             'region_dim-prod' AS dataset,
             2 AS n_versions_listed,
             TRUE AS v2_archived
      FROM region ORDER BY r_regionkey""",

    "s20_compact_small_files" -> """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance,
             TRUE AS files_collapsed
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "s21_orc_roundtrip" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // the oracle states every layered value INDEPENDENTLY of the Scala
    // resolution code: default-literal survival (region), env-override
    // resolution (project), env>file suffix precedence (env_suffix =
    // stg, not dev), table/blob suffixing + path re-rooting, and the
    // ENV_-escape suffix exemption (warehouse.table.secret)
    "s22_config_layering" -> """
      SELECT * FROM (VALUES
        ('env', 'dev'),
        ('env_suffix', 'stg'),
        ('project', 'proj-stg'),
        ('region', 'ENV_GRAFT_REGION'),
        ('warehouse.blob.gmaps.ods', 'gmaps-stg/ods/places.parquet'),
        ('warehouse.blob.gmaps.prefix', 'gmaps-stg'),
        ('warehouse.blob.gmaps.src', 'gmaps-stg/src/places.json'),
        ('warehouse.table.dim', 'dim_city-stg'),
        ('warehouse.table.ods', 'ods_attractions-stg'),
        ('warehouse.table.secret', 'ENV_GRAFT_TABLE'))
        AS t(conf_key, conf_value)
      ORDER BY conf_key""",

    "s24_partition_evolution" -> """
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
             COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
             COUNT(DISTINCT strftime(o_orderdate, '%Y')) AS n_years
      FROM orders""",

    "s23_orc_roundtrip" -> """
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "p1_drop_columns" -> """
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_returnflag,
             strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "p2_drop_cols_regex" -> """
      SELECT o_orderkey, o_custkey, o_totalprice,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
      FROM orders ORDER BY o_orderkey""",

    "p3_rename_columns" -> """
      SELECT c_custkey, c_name AS name, c_acctbal AS balance,
             c_mktsegment AS segment
      FROM customer ORDER BY c_custkey""",

    "p4_overwrite_keep_raw" -> """
      SELECT o_orderkey,
             CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS INT)
               AS o_orderpriority,
             o_orderpriority AS o_orderpriority_raw
      FROM orders ORDER BY o_orderkey""",

    "p5_project_filter" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25
      ORDER BY l_orderkey, l_linenumber""",

    "p6_dropna_all" -> """
      SELECT event_id, v1, v2 FROM (
        SELECT event_id,
               CASE WHEN value < 50 THEN NULL ELSE value END AS v1,
               CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS v2
        FROM events)
      WHERE v1 IS NOT NULL OR v2 IS NOT NULL ORDER BY event_id""",

    "p7_dropna_subset" -> """
      SELECT event_id, v AS value_or_null FROM (
        SELECT event_id, CASE WHEN value < 50 THEN NULL ELSE value END AS v
        FROM events) WHERE v IS NOT NULL ORDER BY event_id""",

    "p11_limit_topn" -> """
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100)
      ORDER BY o_orderkey""",

    "p12_shuffle_seeded" -> """
      SELECT o_orderkey FROM (
        SELECT o_orderkey FROM orders
        ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 500)
      ORDER BY o_orderkey""",

    "p13_batch_ntile" -> """
      SELECT batch, COUNT(*) AS n, MIN(o_orderkey) AS first_key FROM (
        SELECT o_orderkey, ntile(20) OVER (ORDER BY o_orderkey) AS batch
        FROM orders) GROUP BY batch ORDER BY batch""",

    "p22_small_file_control" -> """
      WITH t AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders)
      SELECT n_rows, CAST(ceil(n_rows / 1000.0) AS BIGINT) AS n_files,
             sum_price, TRUE AS files_ok
      FROM t""",

    "p20_global_rownum" -> """
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS row_num
      FROM orders ORDER BY o_orderkey""",

    "d1_dedup_keep_first" -> """
      SELECT o_custkey, o_orderstatus, o_orderkey FROM (
        SELECT o_custkey, o_orderstatus, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                  ORDER BY o_orderkey) AS rn
        FROM orders) WHERE rn = 1 ORDER BY o_custkey, o_orderstatus""",

    "d2_dedup_keep_last" -> """
      SELECT o_custkey, o_orderstatus, o_orderkey FROM (
        SELECT o_custkey, o_orderstatus, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1 ORDER BY o_custkey, o_orderstatus""",

    "d3_distinct_rows" -> """
      SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem
      ORDER BY l_returnflag, l_linestatus, l_quantity""",

    "d4_select_distinct" -> """
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus, o_orderpriority""",

    "j1_join_inner" -> """
      SELECT c_custkey, c_name, n_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      ORDER BY c_custkey""",

    "j2_join_left_agg" -> """
      SELECT n_nationkey, n_name, COALESCE(cnt, 0) AS n_customers
      FROM nation LEFT JOIN (
        SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
      ) c ON n_nationkey = c.c_nationkey
      ORDER BY n_nationkey""",

    "j3_join_chain3" -> """
      SELECT c_custkey, n_name, r_name
      FROM customer
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      ORDER BY c_custkey""",

    "j4_mart_flagship" -> """
      SELECT c_mktsegment, o_orderstatus, l_returnflag,
             COUNT(l_orderkey) AS n_items,
             round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderstatus, l_returnflag
      ORDER BY c_mktsegment, o_orderstatus, l_returnflag""",

    "j5_self_join" -> """
      SELECT a.l_orderkey AS l_orderkey, COUNT(*) AS n_pairs
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
      GROUP BY a.l_orderkey ORDER BY l_orderkey""",

    "j6_anti_join" -> """
      SELECT p_partkey, p_name FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem
                        WHERE l_partkey = p_partkey AND l_quantity > 45)
      ORDER BY p_partkey""",

    "j6b_semi_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",

    "j7_fuzzy_best_match" -> """
      SELECT n_nationkey, noisy_name, match_n_name, match_score FROM (
        SELECT n_nationkey, noisy_name, cand AS match_n_name,
               round(score, 4) AS match_score,
               row_number() OVER (PARTITION BY n_nationkey, noisy_name
                                  ORDER BY score DESC, cand ASC) AS rn
        FROM (
          SELECT l.n_nationkey, l.noisy_name, r.cand,
                 1.0 - CAST(levenshtein(lower(l.noisy_name), lower(r.cand))
                            AS DOUBLE)
                 / greatest(length(lower(l.noisy_name)),
                            length(lower(r.cand)), 1) AS score
          FROM (SELECT n_nationkey,
                       regexp_replace(n_name, '[AEIOU]', '', 'g') AS noisy_name
                FROM nation) l
          CROSS JOIN (SELECT DISTINCT n_name AS cand FROM nation) r))
      WHERE rn = 1 ORDER BY n_nationkey""",

    "j7b_fuzzy_blocked" -> """
      WITH l AS (
        SELECT n_nationkey,
               substring(n_name, 1, length(n_name) - 1) || 'X' AS noisy_name
        FROM nation),
      r AS (SELECT DISTINCT n_name AS cand FROM nation),
      lg AS (
        SELECT DISTINCT n_nationkey, noisy_name, g FROM (
          SELECT n_nationkey, noisy_name,
                 unnest(list_transform(
                   range(1, greatest(length(noisy_name) - 2, 1) + 1),
                   i -> substring(lower(noisy_name), CAST(i AS BIGINT), 3)))
                   AS g
          FROM l)),
      rg AS (
        SELECT DISTINCT cand, g FROM (
          SELECT cand,
                 unnest(list_transform(
                   range(1, greatest(length(cand) - 2, 1) + 1),
                   i -> substring(lower(cand), CAST(i AS BIGINT), 3))) AS g
          FROM r)),
      cands AS (
        SELECT DISTINCT n_nationkey, noisy_name, cand
        FROM lg JOIN rg USING (g)),
      scored AS (
        SELECT n_nationkey, noisy_name, cand,
               1.0 - CAST(levenshtein(lower(noisy_name), lower(cand))
                          AS DOUBLE)
                   / greatest(length(noisy_name), length(cand), 1) AS score
        FROM cands)
      SELECT n_nationkey, noisy_name, cand AS match_n_name,
             round(score, 4) AS match_score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY n_nationkey, noisy_name
              ORDER BY score DESC, cand ASC) AS rn
            FROM scored)
      WHERE rn = 1 ORDER BY n_nationkey""",

    "j7d_fuzzy_jw" -> """
      WITH l AS (
        SELECT n_nationkey,
               substring(n_name, 1, length(n_name) - 1) || 'X' AS noisy_name
        FROM nation),
      r AS (SELECT DISTINCT n_name AS cand FROM nation),
      lg AS (
        SELECT DISTINCT n_nationkey, noisy_name, g FROM (
          SELECT n_nationkey, noisy_name,
                 unnest(list_transform(
                   range(1, greatest(length(noisy_name) - 2, 1) + 1),
                   i -> substring(lower(noisy_name), CAST(i AS BIGINT), 3)))
                   AS g
          FROM l)),
      rg AS (
        SELECT DISTINCT cand, g FROM (
          SELECT cand,
                 unnest(list_transform(
                   range(1, greatest(length(cand) - 2, 1) + 1),
                   i -> substring(lower(cand), CAST(i AS BIGINT), 3))) AS g
          FROM r)),
      cands AS (
        SELECT DISTINCT n_nationkey, noisy_name, cand
        FROM lg JOIN rg USING (g)),
      scored AS (
        SELECT n_nationkey, noisy_name, cand,
               jaro_winkler_similarity(lower(noisy_name), lower(cand))
                 AS score
        FROM cands)
      SELECT n_nationkey, noisy_name, cand AS match_n_name,
             round(score, 4) AS match_score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY n_nationkey, noisy_name
              ORDER BY score DESC, cand ASC) AS rn
            FROM scored)
      WHERE rn = 1 ORDER BY n_nationkey""",

    "j7c_token_sort_match" -> """
      WITH l AS (
        SELECT n_nationkey,
               array_to_string(list_reverse(string_split(n_name, ' ')), ' ')
                 AS noisy_name
        FROM nation),
      r AS (SELECT DISTINCT n_name AS cand FROM nation),
      scored AS (
        SELECT l.n_nationkey, l.noisy_name, r.cand,
               1.0 - CAST(levenshtein(
                 array_to_string(list_sort(list_filter(
                   string_split_regex(lower(l.noisy_name), '[^a-z0-9]+'),
                   t -> t <> '')), ' '),
                 array_to_string(list_sort(list_filter(
                   string_split_regex(lower(r.cand), '[^a-z0-9]+'),
                   t -> t <> '')), ' ')) AS DOUBLE)
               / greatest(
                 length(array_to_string(list_sort(list_filter(
                   string_split_regex(lower(l.noisy_name), '[^a-z0-9]+'),
                   t -> t <> '')), ' ')),
                 length(array_to_string(list_sort(list_filter(
                   string_split_regex(lower(r.cand), '[^a-z0-9]+'),
                   t -> t <> '')), ' ')), 1) AS score
        FROM l CROSS JOIN r)
      SELECT n_nationkey, noisy_name, cand AS match_n_name,
             round(score, 4) AS match_score
      FROM (SELECT *, row_number() OVER (
              PARTITION BY n_nationkey, noisy_name
              ORDER BY score DESC, cand ASC) AS rn
            FROM scored)
      WHERE rn = 1 ORDER BY n_nationkey""",

    "j9_salted_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "j8_lookup_join" -> """
      SELECT n_nationkey, n_name, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey
      ORDER BY n_nationkey""",

    "j10_asof_join" -> """
      WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS last_order_price
        FROM orders GROUP BY 1, 2)
      SELECT event_id, user_id, last_order_price
      FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
      ORDER BY event_id""",

    "j11_range_join" -> """
      WITH tiers AS (
        SELECT r_regionkey AS tier,
               CAST(r_regionkey * r_regionkey * 20 AS DOUBLE) AS lo,
               CAST((r_regionkey + 1) * (r_regionkey + 1) * 20 AS DOUBLE) AS hi
        FROM region)
      SELECT tier, lo, hi, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
      GROUP BY tier, lo, hi ORDER BY tier""",

    "b2_bloom_prefilter_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "b1_bucketed_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "j20_interval_overlap" -> """
      WITH o AS (
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS lo,
               strftime(o_orderdate + INTERVAL 6 DAY, '%Y-%m-%d') AS hi
        FROM orders)
      SELECT a.o_custkey,
             COUNT(*) AS n_overlapping_pairs,
             MIN(least(a.lo, b.lo)) AS first_overlap_start
      FROM o a JOIN o b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
       AND a.lo <= b.hi AND b.lo <= a.hi
      GROUP BY a.o_custkey ORDER BY a.o_custkey""",

    "j12_full_outer_join" -> """
      SELECT
        CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL
                       AND o.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_left_only,
        CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_right_only
      FROM (SELECT c_custkey FROM customer
            WHERE c_mktsegment = 'BUILDING') c
      FULL JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                 FROM orders GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey""",

    "j13_nullsafe_join" -> """
      SELECT COALESCE(k1, -1) AS key, COUNT(*) AS n_pairs
      FROM (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                        ELSE event_id % 50 END AS k1 FROM events) e
      JOIN (SELECT CASE WHEN p_partkey % 11 = 0 THEN NULL
                        ELSE p_partkey % 50 END AS k2 FROM part) p
        ON e.k1 IS NOT DISTINCT FROM p.k2
      GROUP BY COALESCE(k1, -1) ORDER BY key""",

    "b3_zorder_scan" -> """
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE user_id BETWEEN 100 AND 300
      GROUP BY event_type ORDER BY event_type""",

    "p14_hash_sample" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
              IN ('0', '1', '2', '3')
      ORDER BY o_orderkey""",

    "p21_weighted_reservoir" -> """
      WITH t AS (
        SELECT o_orderpriority AS stratum, o_orderkey AS key,
               round(ln((CAST(('0x' || substring(md5(
                   CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                 / 1152921504606846976.0) / o_totalprice, 12) AS p
        FROM orders
        -- mirrors the operator's weight > 0 precondition filter
        WHERE o_totalprice > 0),
      r AS (
        SELECT stratum, key,
               row_number() OVER (PARTITION BY stratum
                                  ORDER BY p DESC, key) AS rk
        FROM t)
      SELECT stratum, rk, key FROM r WHERE rk <= 5
      ORDER BY stratum, rk""",

    "p15_stratified_sample" -> """
      SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE substring(md5(o_orderstatus || '|' ||
              CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "w10_ewma" -> ewmaOracleSql,

    "x69_k_anonymity" -> """
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
        FROM customer GROUP BY c_nationkey, c_mktsegment)
      SELECT COUNT(*) AS n_groups,
             CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_below_k,
             CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             MIN(sz) AS min_group_size
      FROM g""",

    // suffix = ' Café 가 Å' built from codepoints so no literal-encoding
    // ambiguity: 0x301 combining acute, 0x1100/0x1161 Hangul jamo,
    // 0x30A combining ring — NFC composes all three
    "f17_nfc_normalize" -> """
      SELECT doc_id,
             nfc_normalize(text || ' Cafe' || chr(769) || ' ' ||
               chr(4352) || chr(4449) || ' A' || chr(778)) AS norm_text,
             CAST(length(nfc_normalize(text || ' Cafe' || chr(769) || ' ' ||
               chr(4352) || chr(4449) || ' A' || chr(778))) AS INT)
               AS n_chars_norm
      FROM documents WHERE doc_id < 40 ORDER BY doc_id""",

    "x70_compression_ratio" -> """
      SELECT COUNT(*) AS n_docs, TRUE AS all_gt_02, TRUE AS all_le_13,
             TRUE AS probe_lt_third_mean
      FROM documents""",

    "x71_sq8_ann_topk" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_09
      FROM embeddings WHERE vec_id < 10""",

    "x71b_sq8_exact" -> """
      SELECT query_id, rank, neighbor_id, round(cos_sim, 4) AS cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))))
                 AS cos_sim,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[]))))
                 DESC, c.vec_id ASC) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON q.vec_id <> c.vec_id)
      WHERE rank <= 5 ORDER BY query_id, rank""",

    "x72_temporal_split" -> """
      WITH ev AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, ts FROM events),
      b AS (SELECT MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM ev)
      SELECT CASE WHEN ts_us <= lo + CAST(floor((hi - lo) * 0.8) AS BIGINT)
                  THEN 'train' ELSE 'eval' END AS split,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT user_id) AS n_users,
             MIN(ts) AS min_ts, MAX(ts) AS max_ts
      FROM ev CROSS JOIN b
      GROUP BY 1 ORDER BY split""",

    // x74b runs the SAME screen sized from the standing ledger instead
    // of the token-count bound; both sizes are exact-mode at oracle
    // scale, so the two queries share one oracle.
    "x74b_theta_overlap_ledger" -> thetaOverlapOracle,
    "x74_theta_overlap" -> thetaOverlapOracle,


    "x89_freq_items_ledger" -> """
      WITH tokens AS (
        SELECT UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      top AS (
        SELECT tok AS token, COUNT(*) AS exact_n
        FROM tokens GROUP BY tok
        ORDER BY exact_n DESC, token ASC LIMIT 5),
      s AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
      SELECT token, exact_n, n_sources, TRUE AS bounds_ok
      FROM top CROSS JOIN s ORDER BY token""",

    "x85_source_quantiles" -> """
      SELECT source, COUNT(*) AS n_docs,
             TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      FROM documents GROUP BY source ORDER BY source""",

    "x80_dedup_preflight" -> """
      WITH tk AS (
        SELECT source, string_split(trim(regexp_replace(lower(text),
          '\s+', ' ', 'g')), ' ') AS t
        FROM documents),
      grams AS (
        SELECT source,
               CAST(('0x' || substring(md5(array_to_string(
                 t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
        FROM tk, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i))
      SELECT source, COUNT(*) AS n_grams,
             COUNT(DISTINCT g) AS n_distinct,
             round(CAST(COUNT(*) AS DOUBLE) /
               CAST(COUNT(DISTINCT g) AS DOUBLE), 4) AS dup_factor,
             TRUE AS est_within_5pct
      FROM grams GROUP BY source ORDER BY source""",

    "x75_theta_novelty" -> """
      WITH tk AS (
        SELECT doc_id % 3 AS batch,
               string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents),
      grams AS (
        SELECT batch,
               CAST(('0x' || substring(md5(array_to_string(
                 t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
        FROM tk, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
      fs AS (SELECT g, MIN(batch) AS batch FROM grams GROUP BY g)
      SELECT batch, COUNT(*) AS n_novel, TRUE AS est_within_5pct
      FROM fs GROUP BY batch ORDER BY batch""",

    "m9_kll_ledger" -> """
      WITH d AS (SELECT COUNT(DISTINCT o_orderdate) AS n_slices
                 FROM orders)
      SELECT CAST(q AS DOUBLE) AS q, n_slices, TRUE AS rank_err_ok
      FROM (VALUES (0.5), (0.9), (0.99)) AS t(q) CROSS JOIN d
      ORDER BY q""",

    "f20_approx_distinct_rule" -> """
      SELECT COUNT(DISTINCT user_id) AS exact_distinct,
             TRUE AS est_within_5pct, TRUE AS rule_fired
      FROM events""",

    "f19_jaro_winkler" -> """
      WITH s AS (
        SELECT p_partkey AS id, p_name AS nm,
               substring(p_name, 1, 1) AS blk FROM part),
      l AS (SELECT id, nm, lead(nm, 1) OVER (PARTITION BY blk
              ORDER BY nm, id) AS nm2 FROM s)
      SELECT id, round(jaro_winkler_similarity(nm, nm2), 4) AS jw
      FROM l WHERE nm2 IS NOT NULL ORDER BY id""",

    "x78_benford_audit" -> """
      WITH digits AS (
        SELECT CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1)
                 AS INTEGER) AS d,
               COUNT(*) AS observed
        FROM orders
        WHERE CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1)
                AS INTEGER) BETWEEN 1 AND 9
        GROUP BY 1),
      t AS (SELECT SUM(observed) AS n FROM digits)
      SELECT d, observed,
             round(log(10.0, 1.0 + 1.0 / d), 6) AS expected_p,
             round(CAST(observed AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS observed_p,
             round(abs(round(CAST(observed AS DOUBLE) / CAST(n AS DOUBLE), 6)
               - round(log(10.0, 1.0 + 1.0 / d), 6)), 6) AS abs_dev
      FROM digits CROSS JOIN t ORDER BY d""",

    "x77_zipf_fit" -> """
      WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      top AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ORDER BY cnt DESC, tok LIMIT 200),
      r AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
        FROM top),
      t2 AS (
        SELECT round(ln(CAST(rank AS DOUBLE)), 12) AS xr,
               round(ln(CAST(cnt AS DOUBLE)), 12) AS yr FROM r),
      s AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(xr AS DECIMAL(28,12))) AS sx,
               SUM(CAST(yr AS DECIMAL(28,12))) AS sy,
               SUM(CAST(round(xr * xr, 12) AS DECIMAL(28,12))) AS sxx,
               SUM(CAST(round(xr * yr, 12) AS DECIMAL(28,12))) AS sxy
        FROM t2)
      SELECT n AS n_ranked,
             round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                   (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS zipf_slope
      FROM s""",

    "a23_grouped_mode" -> """
      WITH c AS (
        SELECT user_id % 10 AS cohort, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT cohort, event_type, cnt,
               SUM(cnt) OVER (PARTITION BY cohort) AS n_events,
               row_number() OVER (PARTITION BY cohort
                                  ORDER BY cnt DESC, event_type DESC)
                 AS rn
        FROM c)
      SELECT cohort, event_type AS mode_event, cnt AS mode_n,
             CAST(n_events AS BIGINT) AS n_events
      FROM r WHERE rn = 1 ORDER BY cohort""",

    "a22_correlation" -> """
      WITH m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
               SUM(CAST(l_discount AS DECIMAL(18,2))) AS sd,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
                 CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sqq,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS spp,
               SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sdd,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
                 CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sqp,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS sqd,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(30,4)))
                 AS spd
        FROM lineitem)
      SELECT
        round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) *
          CAST(sp AS DOUBLE) / n) /
          sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) *
            CAST(sq AS DOUBLE) / n) *
            (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *
            CAST(sp AS DOUBLE) / n)), 4) AS corr_qty_price,
        round((CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) *
          CAST(sd AS DOUBLE) / n) /
          sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) *
            CAST(sq AS DOUBLE) / n) *
            (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) *
            CAST(sd AS DOUBLE) / n)), 4) AS corr_qty_disc,
        round((CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) *
          CAST(sd AS DOUBLE) / n) /
          sqrt((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) *
            CAST(sp AS DOUBLE) / n) *
            (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) *
            CAST(sd AS DOUBLE) / n)), 4) AS corr_price_disc
      FROM m""",

    "a21_winsorize" -> """
      WITH b AS (
        SELECT round(quantile_cont(l_extendedprice, 0.01), 2) AS lo,
               round(quantile_cont(l_extendedprice, 0.99), 2) AS hi
        FROM lineitem)
      SELECT CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_low,
             CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_high,
             round(MIN(least(greatest(l_extendedprice, lo), hi)), 2)
               AS min_v,
             round(MAX(least(greatest(l_extendedprice, lo), hi)), 2)
               AS max_v,
             round(CAST(SUM(CAST(least(greatest(l_extendedprice, lo), hi)
               AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS mean_v
      FROM lineitem CROSS JOIN b""",

    "a8_percentiles" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.25), 2) AS p25,
             round(quantile_cont(l_quantity, 0.5), 2) AS p50,
             round(quantile_cont(l_quantity, 0.75), 2) AS p75,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "a17_event_pattern" -> """
      WITH e AS (
        SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id,
               substring(event_type, 1, 1) AS l
        FROM events),
      sq AS (
        SELECT user_id, COUNT(*) AS n_events,
               string_agg(l, '' ORDER BY sec, event_id) AS seq
        FROM e GROUP BY user_id)
      SELECT user_id, n_events,
             CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT)
               AS n_conversions
      FROM sq ORDER BY user_id""",

    "a16_above_group_p90" -> """
      WITH thr AS (
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.9), 2) AS p90
        FROM orders GROUP BY o_orderstatus)
      SELECT o.o_orderstatus, COUNT(*) AS n_above,
             MAX(t.p90) AS p90, MAX(o.o_totalprice) AS max_price
      FROM orders o JOIN thr t USING (o_orderstatus)
      WHERE o.o_totalprice > t.p90
      GROUP BY o.o_orderstatus ORDER BY o_orderstatus""",

    "a8b_approx_percentiles" -> """
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 2) AS exact_p50,
             TRUE AS within_1,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "a9_grouping_sets" -> """
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY returnflag, linestatus""",

    "a10_histogram" -> """
      WITH b AS (
        SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / 5000.0)
                 AS BIGINT), 0), 23) AS bucket,
               l_extendedprice AS v
        FROM lineitem)
      SELECT bucket, COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v,
             0.0 + bucket * 5000.0 AS bucket_lo
      FROM b GROUP BY bucket ORDER BY bucket""",

    "a11_zscore_outliers" -> """
      WITH m AS (
        SELECT event_type AS grp, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS s1,
               SUM(CAST(CAST(value AS DECIMAL(18,2)) *
                        CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS s2
        FROM events GROUP BY event_type),
      mm AS (
        SELECT grp, CAST(s1 AS DOUBLE) / n AS mean,
               sqrt(CAST(s2 AS DOUBLE) / n -
                    (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
        FROM m)
      SELECT e.event_type AS grp, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN abs(e.value - mm.mean) > 2.5 * mm.sd
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             round(ANY_VALUE(mm.mean), 4) AS mean,
             round(ANY_VALUE(mm.sd), 4) AS sd
      FROM events e JOIN mm ON e.event_type = mm.grp
      GROUP BY e.event_type ORDER BY grp""",

    "s16_schema_evolution" -> """
      SELECT (o_orderkey % 2 = 0) AS prio_missing, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders GROUP BY 1 ORDER BY prio_missing""",

    "s17_bad_records" -> """
      SELECT (o_orderkey % 50 = 0) AS quarantined, COUNT(*) AS n,
             CAST(SUM(CASE WHEN o_orderkey % 50 = 0 THEN CAST(0 AS DECIMAL(18,2))
                           ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY quarantined""",

    "m4_scd2_merge" -> """
      WITH dim AS (
        SELECT c_custkey, c_mktsegment, '2024-01-01' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        FROM customer),
      upd AS (
        SELECT CASE WHEN c_custkey % 50 = 0 THEN c_custkey + 100000
                    ELSE c_custkey END AS c_custkey,
               CASE WHEN c_custkey % 6 = 0 THEN c_mktsegment || '_V2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 3 = 0),
      j AS (
        SELECT d.c_custkey AS dk, d.c_mktsegment AS dseg, d.valid_from,
               u.c_custkey AS uk, u.c_mktsegment AS useg
        FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey)
      SELECT dk AS c_custkey, dseg AS c_mktsegment, valid_from,
             CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      FROM j WHERE dk IS NOT NULL AND (uk IS NULL OR dseg = useg)
      UNION ALL
      SELECT dk, dseg, valid_from, '2024-06-01', FALSE
      FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
      UNION ALL
      SELECT uk, useg, '2024-06-01', NULL, TRUE
      FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
      UNION ALL
      SELECT uk, useg, '2024-06-01', NULL, TRUE
      FROM j WHERE dk IS NULL
      ORDER BY c_custkey, valid_from""",

    "t5_ohlc_bars" -> """
      WITH e AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar,
               value, ts, event_id,
               row_number() OVER (PARTITION BY event_type,
                 date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY event_type,
                 date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC)
                 AS rn_d
        FROM events)
      SELECT event_type, bar,
             MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
             MAX(value) AS high, MIN(value) AS low,
             MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
             COUNT(*) AS n_ticks,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
      FROM e GROUP BY event_type, bar ORDER BY event_type, bar""",

    "w6_range_frame" -> """
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY date_diff('day', DATE '1970-01-01',
                                           CAST(o_orderdate AS DATE))
                        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS sum_30d
      FROM orders ORDER BY o_custkey, o_orderkey""",

    "x16_pii_scrub" -> """
      SELECT doc_id AS id,
             len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
             len(regexp_extract_all(t,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
               'g'), '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
               AS clean_text
      FROM (
        SELECT doc_id,
               text || ' reach user' || CAST(doc_id AS VARCHAR) ||
               '@example.com or 555-867-5309 from 10.0.0.' ||
               CAST(doc_id % 256 AS VARCHAR) AS t
        FROM documents)
      ORDER BY id""",

    "x17_chunk_tokens" -> """
      WITH toks AS (
        SELECT doc_id AS id, regexp_extract_all(text, '\S+') AS t
        FROM documents),
      st AS (
        SELECT id, t,
               UNNEST(range(0, greatest(len(t), 1), 40)) AS st0
        FROM toks)
      SELECT id, CAST(st0 / 40 AS INT) AS chunk_no,
             array_to_string(t[CAST(st0 + 1 AS BIGINT):CAST(st0 + 50 AS BIGINT)],
               ' ') AS chunk_text,
             len(string_split(array_to_string(
               t[CAST(st0 + 1 AS BIGINT):CAST(st0 + 50 AS BIGINT)], ' '), ' '))
               AS n_chunk_tokens
      FROM st ORDER BY id, chunk_no""",

    "x18_tfidf_topk" -> """
      WITH tf AS (
        SELECT id, term, COUNT(*) AS tf FROM (
          SELECT doc_id AS id,
                 UNNEST(regexp_extract_all(lower(text), '\S+')) AS term
          FROM documents) GROUP BY id, term),
      dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      nn AS (SELECT COUNT(*) AS n FROM documents)
      SELECT id, rank, term, round(score, 4) AS tfidf FROM (
        SELECT id, term,
               tf * ln((n + 1.0) / (df + 1.0)) AS score,
               row_number() OVER (PARTITION BY id
                 ORDER BY tf * ln((n + 1.0) / (df + 1.0)) DESC, term ASC)
                 AS rank
        FROM tf JOIN dfreq USING (term) CROSS JOIN nn)
      WHERE rank <= 3 ORDER BY id, rank""",

    "a1_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_disc_price,
             round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "a2_count_distinct" -> """
      SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "a3_pivot_matrix" -> """
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             COUNT(*) FILTER (WHERE event_type = 'click') AS click,
             COUNT(*) FILTER (WHERE event_type = 'error') AS error,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
             COUNT(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY 1 ORDER BY day""",

    "a6_rollup" -> """
      SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
             COALESCE(l_linestatus, 'ALL') AS linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""",

    "a7_cube" -> """
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority""",

    "m1_update_rewrite" -> """
      SELECT n_nationkey,
             CASE n_name WHEN 'JAPAN' THEN 'NIPPON'
                         WHEN 'FRANCE' THEN 'GAUL'
                         ELSE n_name END AS n_name
      FROM nation ORDER BY n_nationkey""",

    "m2_insert_missing" -> """
      SELECT n_nationkey, n_name,
             CASE WHEN n_nationkey < 15 THEN 'old' ELSE 'new' END AS src
      FROM nation ORDER BY n_nationkey""",

    "m3_delete_rewrite" -> """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer
      WHERE NOT (c_acctbal < 0 AND c_mktsegment = 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "a5_stats_summary" -> """
      SELECT l_returnflag, MIN(l_quantity) AS min_qty,
             MAX(l_quantity) AS max_qty,
             CAST(median(l_quantity) AS DOUBLE) AS median_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "w3_window_topk" -> """
      SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rank
        FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank""",

    "w11_topk_agg" -> """
      SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rank
        FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank""",

    "w4_running_sum" -> """
      SELECT o_custkey, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_total
      FROM orders ORDER BY o_custkey, o_orderkey""",

    "w5_lag_delta" -> """
      SELECT o_custkey, o_orderkey,
             CAST(prev AS DOUBLE) AS prev_price,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) - prev AS DOUBLE)
               AS delta
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               lag(CAST(o_totalprice AS DECIMAL(18,2)), 1)
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders) ORDER BY o_custkey, o_orderkey""",

    "w8_forward_fill" -> """
      SELECT event_id, user_id,
             last_value(gappy IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM (SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE value END AS gappy
            FROM events)
      ORDER BY event_id""",

    "w7_rank_family" -> """
      SELECT o_orderkey, o_orderstatus,
             dense_rank() OVER w AS drank,
             round(percent_rank() OVER w, 6) AS prank,
             round(cume_dist() OVER w, 6) AS cdist,
             first_value(o_orderkey) OVER w AS top_key
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderkey""",

    "u1_union_distinct" -> """
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""",

    "u2_intersect" -> """
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT SELECT DISTINCT s_nationkey FROM supplier ORDER BY nationkey""",

    "u3_except" -> """
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT SELECT DISTINCT s_nationkey FROM supplier
        WHERE s_acctbal < 0 ORDER BY nationkey""",

    "u4_union_evolved" -> """
      SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal
      FROM customer WHERE c_custkey % 2 = 1
      ORDER BY c_custkey""",

    "r6_pivot_multi_measure" -> """
      WITH e AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               CAST(value AS DECIMAL(18,2)) AS v
        FROM events)
      SELECT day,
        COUNT(*) FILTER (WHERE event_type='click') AS click_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='click'), 0)
          AS DOUBLE) AS click_sv,
        COUNT(*) FILTER (WHERE event_type='error') AS error_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='error'), 0)
          AS DOUBLE) AS error_sv,
        COUNT(*) FILTER (WHERE event_type='purchase') AS purchase_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='purchase'), 0)
          AS DOUBLE) AS purchase_sv,
        COUNT(*) FILTER (WHERE event_type='signup') AS signup_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='signup'), 0)
          AS DOUBLE) AS signup_sv,
        COUNT(*) FILTER (WHERE event_type='view') AS view_n,
        CAST(COALESCE(SUM(v) FILTER (WHERE event_type='view'), 0)
          AS DOUBLE) AS view_sv
      FROM e GROUP BY day ORDER BY day""",

    "r1_unpivot_melt" -> """
      SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS value FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               l_extendedprice FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
               FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
               FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, measure""",

    "r2_explode_split" -> """
      SELECT p_partkey, type_word FROM (
        SELECT p_partkey, trim(unnest(string_split(p_type, ' '))) AS type_word
        FROM part) ORDER BY p_partkey, type_word""",

    "r3_transpose_small" -> """
      SELECT MIN(r_regionkey) FILTER (WHERE r_name = 'AFRICA') AS "AFRICA",
             MIN(r_regionkey) FILTER (WHERE r_name = 'AMERICA') AS "AMERICA",
             MIN(r_regionkey) FILTER (WHERE r_name = 'ASIA') AS "ASIA",
             MIN(r_regionkey) FILTER (WHERE r_name = 'EUROPE') AS "EUROPE",
             MIN(r_regionkey) FILTER (WHERE r_name = 'MIDDLE EAST')
               AS "MIDDLE EAST"
      FROM region""",

    "r4_column_reorder" -> """
      SELECT c_mktsegment, c_name, c_custkey FROM customer ORDER BY c_custkey""",

    "f1_md5_key" -> """
      SELECT c_custkey, md5(c_name) AS name_md5 FROM customer
      ORDER BY c_custkey""",

    "f2_regexp_extract" -> """
      SELECT o_orderkey,
             CAST(regexp_extract(o_orderpriority, '(\d+)-(\w+)', 1) AS INT)
               AS prio_num,
             regexp_extract(o_orderpriority, '(\d+)-(\w+)', 2) AS prio_word
      FROM orders ORDER BY o_orderkey""",

    "f3_rel_date_zh" -> """
      SELECT event_id, published_raw,
        strftime(CAST(CASE
          WHEN published_raw LIKE '%分鐘前'
            THEN CAST(ts - to_minutes(n) AS DATE)
          WHEN published_raw LIKE '%小時前'
            THEN CAST(ts - to_hours(n) AS DATE)
          WHEN published_raw LIKE '%天前'
            THEN CAST(ts - to_days(n) AS DATE)
          WHEN published_raw LIKE '%週前'
            THEN CAST(ts - to_days(n * 7) AS DATE)
          WHEN published_raw LIKE '%個月前'
            THEN CAST(CAST(ts AS DATE) - to_months(n) AS DATE)
          WHEN published_raw LIKE '%年前'
            THEN CAST(CAST(ts AS DATE) - to_months(n * 12) AS DATE)
          ELSE NULL
        END AS DATE), '%Y-%m-%d') AS published_at
      FROM (
        SELECT event_id, ts,
               CAST(user_id % 30 + 1 AS INT) AS n,
               CASE event_type
                 WHEN 'click' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '分鐘前'
                 WHEN 'signup' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '小時前'
                 WHEN 'purchase' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '天前'
                 WHEN 'view' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '週前'
                 WHEN 'error' THEN CAST(user_id % 30 + 1 AS VARCHAR) || '個月前'
                 ELSE '在線上'
               END AS published_raw
        FROM events)
      ORDER BY event_id""",

    "f4_fb_date_zh" -> """
      SELECT event_id, raw,
        strftime(CASE
          WHEN event_type = 'click' THEN ref - n
          WHEN event_type = 'signup' THEN ref
          WHEN event_type = 'purchase' THEN d40
          WHEN event_type = 'view'
            THEN make_date(year(ref), month(d3), day(d3))
          ELSE NULL END, '%Y-%m-%d') AS created_at
      FROM (
        SELECT event_id, event_type, ref, n, d40, d3,
               CASE event_type
                 WHEN 'click' THEN CAST(n AS VARCHAR) || '天'
                 WHEN 'signup' THEN CAST(n AS VARCHAR) || '分鐘'
                 WHEN 'purchase' THEN CAST(year(d40) AS VARCHAR) || '年' ||
                      CAST(month(d40) AS VARCHAR) || '月' ||
                      CAST(day(d40) AS VARCHAR) || '日'
                 WHEN 'view' THEN CAST(month(d3) AS VARCHAR) || '月' ||
                      CAST(day(d3) AS VARCHAR) || '日下午3:15'
                 ELSE '在線上'
               END AS raw
        FROM (
          SELECT event_id, event_type, CAST(ts AS DATE) AS ref,
                 CAST(user_id % 30 + 1 AS INT) AS n,
                 CAST(ts AS DATE) - 40 AS d40,
                 CAST(ts AS DATE) - 3 AS d3
          FROM events))
      ORDER BY event_id""",

    "f5_parse_rating" -> """
      SELECT event_id, rating_raw,
             TRY_CAST(string_split(rating_raw, ' ')[1] AS DOUBLE) AS rating
      FROM (
        SELECT event_id,
               printf('%.1f 分 (共 5 分)', (user_id % 50) / 10.0) AS rating_raw
        FROM events)
      ORDER BY event_id""",

    "f7_roc_year" -> """
      SELECT o_orderkey, roc_raw,
             TRY_CAST(regexp_extract(roc_raw, '\((\d+)\)', 1) AS INT) AS year
      FROM (
        SELECT o_orderkey,
               CAST(year(o_orderdate) - 1911 AS VARCHAR) || '(' ||
               CAST(year(o_orderdate) AS VARCHAR) || ')' AS roc_raw
        FROM orders)
      ORDER BY o_orderkey""",

    "f8_delim_normalize" -> """
      SELECT p_partkey,
             regexp_replace(regexp_replace(p_type, ' ', ' • ', 'g'),
               '\s*•\s*', ',', 'g') AS type_csv
      FROM part ORDER BY p_partkey""",

    "f12_filename_parse" -> """
      SELECT r_name AS place, r_regionkey FROM region ORDER BY place""",

    "f9_date_parts" -> """
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS INT) AS y,
             CAST(month(o_orderdate) AS INT) AS m,
             CAST(day(o_orderdate) AS INT) AS d,
             CAST(quarter(o_orderdate) AS INT) AS q,
             CAST(CASE WHEN month(o_orderdate) BETWEEN 1 AND 3 THEN 1
                  WHEN month(o_orderdate) BETWEEN 4 AND 6 THEN 2
                  WHEN month(o_orderdate) BETWEEN 7 AND 9 THEN 3
                  WHEN month(o_orderdate) BETWEEN 10 AND 12 THEN 4
             END AS INT) AS q_case
      FROM orders ORDER BY o_orderkey""",

    "f13_split_ym" -> """
      SELECT event_id, ym,
             CAST(string_split(ym, '-')[1] AS INT) AS y,
             CAST(string_split(ym, '-')[2] AS INT) AS m
      FROM (SELECT event_id, strftime(ts, '%Y-%m') AS ym FROM events)
      ORDER BY event_id""",

    "fj_json_extract" -> """
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events ORDER BY event_id""",

    "t1_time_bucket" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY bucket""",

    "t7_interval_merge" -> """
      WITH iv AS (
        SELECT DISTINCT user_id,
               epoch_ns(ts) // 1000000000 AS st
        FROM events),
      iv2 AS (SELECT user_id, st, st + 600 AS en FROM iv),
      mk AS (
        SELECT user_id, st, en,
               MAX(en) OVER (PARTITION BY user_id ORDER BY st
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS max_prev_en
        FROM iv2),
      br AS (
        SELECT user_id, st, en,
               CASE WHEN max_prev_en IS NULL OR st > max_prev_en
                    THEN 1 ELSE 0 END AS brk
        FROM mk),
      isl AS (
        SELECT user_id, st, en,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY st
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM br),
      g AS (
        SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
        FROM isl GROUP BY user_id, island)
      SELECT user_id, COUNT(*) AS n_islands,
             CAST(SUM(ien - ist) AS BIGINT) AS covered_s
      FROM g GROUP BY user_id ORDER BY user_id""",

    "t6_gap_detection" -> """
      WITH o AS (
        SELECT event_type, ts,
               lag(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev
        FROM events)
      SELECT event_type,
             strftime(prev, '%Y-%m-%d %H:%M:%S') AS gap_start,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
             CAST(epoch_ns(ts) // 1000000000
                  - epoch_ns(prev) // 1000000000 AS BIGINT) AS gap_s
      FROM o
      WHERE prev IS NOT NULL
        AND epoch_ns(ts) // 1000000000
            - epoch_ns(prev) // 1000000000 > 600
      ORDER BY event_type, gap_start""",

    "f18_normalize_text" -> """
      SELECT n_nationkey,
             '  CAFÉ  ' || n_name || '   à  CÔTÉ ' AS raw,
             trim(regexp_replace(translate(
               lower('  CAFÉ  ' || n_name || '   à  CÔTÉ '),
               'àáâãäåÀÁÂÃÄÅçÇèéêëÈÉÊËìíîïÌÍÎÏñÑòóôõöÒÓÔÕÖùúûüÙÚÛÜýÿÝ',
               'aaaaaaAAAAAAcCeeeeEEEEiiiiIIIInNoooooOOOOOuuuuUUUUyyY'),
               '\s+', ' ', 'g')) AS norm
      FROM nation ORDER BY n_nationkey""",

    "f17_accent_fold" -> """
      SELECT n_nationkey,
             'Café ' || n_name || ' à l''Élysée û' AS raw,
             translate('Café ' || n_name || ' à l''Élysée û',
               'àáâãäåÀÁÂÃÄÅçÇèéêëÈÉÊËìíîïÌÍÎÏñÑòóôõöÒÓÔÕÖùúûüÙÚÛÜýÿÝ',
               'aaaaaaAAAAAAcCeeeeEEEEiiiiIIIInNoooooOOOOOuuuuUUUUyyY')
               AS folded
      FROM nation ORDER BY n_nationkey""",

    "t4_dense_spine" -> """
      WITH obs AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
      bounds AS (
        SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
        FROM obs GROUP BY 1),
      spine AS (
        SELECT event_type,
               UNNEST(generate_series(CAST(lo AS TIMESTAMP),
                 CAST(hi AS TIMESTAMP), INTERVAL 1 HOUR)) AS hour
        FROM bounds)
      SELECT s.event_type, strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS bucket,
             CAST(COALESCE(o.n_events, 0) AS BIGINT) AS n_events
      FROM spine s LEFT JOIN obs o
        ON s.event_type = o.event_type AND s.hour = CAST(o.hour AS TIMESTAMP)
      ORDER BY s.event_type, bucket""",

    "t2_sessionize" -> """
      SELECT user_id, session_id, COUNT(*) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      FROM (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_sec IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT) - prev_sec > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_sec
            FROM events)))
      GROUP BY user_id, session_id ORDER BY user_id, session_id""",

    "a4_hll_approx_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             TRUE AS within_5pct
      FROM events GROUP BY event_type ORDER BY event_type""",

    "a15_cms_heavy_hitters" -> """
      SELECT event_type, COUNT(*) AS exact_n, TRUE AS within_bound
      FROM events GROUP BY event_type ORDER BY event_type""",

    "x2_minhash_lsh_pairs" -> """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents))
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",

    "f16_sql_native_fns" -> """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp AS (
        SELECT d.id, COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN (
          SELECT id, CAST(SUM(CASE WHEN v >= 0
                   THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                   ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY id) f ON d.id = f.id),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(1, len(tk) - 1),
                      i -> array_to_string(tk[i:i+2], ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS tk
              FROM documents)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT id_a AS id FROM pairs
          UNION ALL SELECT id_b FROM pairs) u
        GROUP BY id)
      SELECT fp.id, fp.simhash, COALESCE(deg.n, 0) AS n_neardups
      FROM fp LEFT JOIN deg ON fp.id = deg.id
      ORDER BY fp.id""",

    "x3_simhash_bands" -> """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id)
      SELECT id, simhash, CAST(b AS INT) AS band,
             (simhash >> CAST(b * 15 AS INT)) & 32767 AS band_key
      FROM fp CROSS JOIN (SELECT UNNEST(range(4)) AS b)
      ORDER BY id, band""",

    "x20_simhash_neardups" -> """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id)
      -- brute-force definition: banding must find exactly these pairs
      -- (4x15-bit bands catch every pair within Hamming distance 3)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM fp a JOIN fp b ON a.id < b.id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY id_a, id_b""",

    "x22_neardup_components" -> """
      WITH RECURSIVE docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
      FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      GROUP BY component ORDER BY component""",

    // star CC must equal min-label CC -- same oracle as x22
    "x51_cc_star" -> """
      WITH RECURSIVE docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
      FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      GROUP BY component ORDER BY component""",

    "x52_semantic_dedup" -> """
      WITH RECURSIVE qv AS (
        SELECT vec_id, embedding,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cv FROM qv
            WHERE vec_id < GREATEST(8, CAST(ceil(
              (SELECT COUNT(*) FROM embeddings) / 250.0) AS BIGINT))),
      d AS (
        SELECT q.vec_id, q.embedding, c.cid,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                 AS BIGINT) AS d2
        FROM qv q CROSS JOIN c),
      cells AS (
        SELECT cid, vec_id, embedding FROM (
          SELECT cid, vec_id, embedding,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rk
          FROM d)
        WHERE rk = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cells a JOIN cells b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))))
              > 0.40),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      SELECT e.vec_id,
             COALESCE(cp.component, e.vec_id) AS component,
             CAST(CASE WHEN e.vec_id = COALESCE(cp.component, e.vec_id)
                  THEN 1 ELSE 0 END AS INT) AS keep
      FROM embeddings e LEFT JOIN comp cp ON e.vec_id = cp.id
      ORDER BY vec_id""",

    "x28_multisignal_dedup" -> """
      WITH RECURSIVE docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        UNION
        SELECT id_a, id_b FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[]))))
                   AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE cos_sim > 0.40),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
      FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      GROUP BY component ORDER BY component""",

    "x41_incremental_components" -> """
      WITH RECURSIVE docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      -- incremental star-edge maintenance must equal the full recompute
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
      ORDER BY id""",

    "x45_kmeans_step" -> """
      WITH qv AS (
        SELECT vec_id,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cv FROM qv WHERE vec_id < 8),
      d AS (
        SELECT q.vec_id, c.cid, q.qv,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                 AS BIGINT) AS d2
        FROM qv q CROSS JOIN c),
      best AS (
        SELECT vec_id, cid, qv FROM (
          SELECT vec_id, cid, qv,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rk
          FROM d)
        WHERE rk = 1),
      ex AS (
        SELECT cid, CAST(i - 1 AS INT) AS dim, qv[i] AS q
        FROM best, UNNEST(range(1, len(qv) + 1)) AS u(i))
      SELECT cid, dim, COUNT(*) AS n_members,
             round(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1e7), 5)
               AS centroid
      FROM ex GROUP BY cid, dim ORDER BY cid, dim""",

    "x44_cluster_centroids" -> """
      WITH ex AS (
        SELECT label AS cluster, CAST(i - 1 AS INT) AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7 + 0.5)
                 AS BIGINT) AS q
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i))
      SELECT cluster, dim,
             round(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1e7), 5)
               AS centroid
      FROM ex GROUP BY cluster, dim ORDER BY cluster, dim""",

    "x40_keep_best_quality" -> """
      WITH RECURSIVE docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
      j AS (SELECT c.component, c.id, d.n_chars
            FROM comp c JOIN documents d ON d.doc_id = c.id)
      SELECT component, id AS canonical_id, n_chars AS canonical_chars,
             n_members
      FROM (SELECT component, id, n_chars,
                   row_number() OVER (PARTITION BY component
                     ORDER BY n_chars DESC, id ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY component) AS n_members
            FROM j)
      WHERE rn = 1 ORDER BY component""",

    "x23_dedup_keep_canonical" -> """
      WITH RECURSIVE docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (
        SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        WHERE id <> component)
      ORDER BY doc_id""",

    "x11_fingerprints" -> """
      SELECT doc_id AS id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS md5_fp,
             CAST(('0x' || substring(md5(regexp_replace(trim(lower(text)),
               '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp60
      FROM documents ORDER BY id""",


    "t3_session_window" -> """
      SELECT user_id, session_id, COUNT(*) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      FROM (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_sec IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT) - prev_sec > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_sec
            FROM events)))
      GROUP BY user_id, session_id ORDER BY user_id, session_id""",

    "x43_decontaminate_strip" -> """
      WITH tr AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents WHERE doc_id % 100 <> 0),
      be AS (
        SELECT string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents WHERE doc_id % 100 = 0),
      bgrams AS (
        SELECT DISTINCT md5(array_to_string(t[i+1:i+8], ' ')) AS h
        FROM be, UNNEST(range(0, greatest(len(t) - 8, 0) + 1)) AS u(i)),
      wins AS (
        SELECT doc_id, i, md5(array_to_string(t[i+1:i+8], ' ')) AS h
        FROM tr, UNNEST(CASE WHEN len(t) >= 8
               THEN range(0, len(t) - 8 + 1) ELSE [] END) AS u(i)),
      cov AS (
        SELECT DISTINCT w.doc_id, p
        FROM wins w JOIN bgrams b USING (h),
             UNNEST(range(w.i + 1, w.i + 9)) AS q(p)),
      tokens AS (
        SELECT doc_id, t[p] AS tok, p
        FROM tr, UNNEST(range(1, len(t) + 1)) AS z(p)),
      kept AS (
        SELECT tk.doc_id, tk.tok, tk.p
        FROM tokens tk LEFT JOIN cov c
          ON c.doc_id = tk.doc_id AND c.p = tk.p
        WHERE c.p IS NULL),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
               string_agg(tok, ' ' ORDER BY p) AS txt
        FROM kept GROUP BY doc_id)
      SELECT tr.doc_id AS id, len(tr.t) AS n_tokens,
             COALESCE(a.n_after, 0) AS n_tokens_after,
             COALESCE(a.txt, '') AS clean_text
      FROM tr LEFT JOIN agg a ON a.doc_id = tr.doc_id
      ORDER BY id""",

    "x26_decontaminate" -> """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 8
                 THEN list_transform(range(1, len(toks) - 6),
                      i -> array_to_string(toks[i:i+7], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(
                       CASE WHEN doc_id % 200 = 0 OR doc_id % 10 = 3
                            THEN text || ' graft benchmark canary sequence alpha beta gamma delta'
                            ELSE text END),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      train AS (SELECT doc_id AS train_id, UNNEST(s) AS gram
                FROM sh WHERE doc_id % 100 <> 0),
      bench AS (SELECT DISTINCT doc_id AS bench_id, UNNEST(s) AS gram
                FROM sh WHERE doc_id % 100 = 0)
      SELECT t.train_id,
             COUNT(DISTINCT b.bench_id) AS n_bench_hits,
             COUNT(*) AS n_gram_hits
      FROM train t JOIN bench b ON t.gram = b.gram
      GROUP BY t.train_id ORDER BY t.train_id""",

    "x27_pack_sequences" -> """
      SELECT shard, bin, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM (
        SELECT shard,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard
                 ORDER BY id ROWS UNBOUNDED PRECEDING) - n_tokens)
                 / 512.0) AS BIGINT) AS bin,
               n_tokens
        FROM (SELECT doc_id AS id, doc_id % 8 AS shard,
                     len(regexp_extract_all(text, '\S+')) AS n_tokens
              FROM documents))
      GROUP BY shard, bin ORDER BY shard, bin""",

    "x24_key_skew" -> """
      SELECT key, n, floor(n / CAST(total AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS share, rank
      FROM (
        SELECT event_type AS key, COUNT(*) AS n,
               SUM(COUNT(*)) OVER () AS total,
               row_number() OVER (ORDER BY COUNT(*) DESC, event_type ASC)
                 AS rank
        FROM events GROUP BY event_type)
      WHERE rank <= 5 ORDER BY rank""",

    "x21_profile" -> """
      SELECT 'o_custkey' AS "column",
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
             COUNT(DISTINCT o_custkey) AS n_distinct,
             MIN(CAST(o_custkey AS VARCHAR)) AS min_s,
             MAX(CAST(o_custkey AS VARCHAR)) AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority',
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderpriority),
             MIN(o_orderpriority), MAX(o_orderpriority)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT o_orderstatus),
             MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      ORDER BY "column"""",

    "x82_ann_tuning_curve" -> """
      SELECT nprobe, TRUE AS ok
      FROM (VALUES (1), (2), (4), (8), (16)) AS t(nprobe)
      ORDER BY nprobe""",

    "x83_embed_norm_screen" -> """
      WITH e AS (
        SELECT vec_id,
               round(sqrt(list_sum(list_transform(embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))), 6)
                 AS nrm,
               len(embedding) AS dim
        FROM embeddings),
      s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(nrm AS DECIMAL(28,8))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(round(nrm * nrm, 8) AS DECIMAL(28,8)))
                 AS DOUBLE) AS s2,
               COUNT(DISTINCT dim) AS n_dims
        FROM e),
      v AS (
        -- greatest(...,0) mirrors the Spark-side clamp: FP rounding on
        -- an all-equal-norm corpus can make the variance a tiny
        -- negative, and sqrt of that is NaN/error
        SELECT *, sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0))
          AS std FROM s)
      SELECT vec_id, nrm,
             CASE WHEN std = 0 THEN 0.0
                  ELSE round((nrm - s1 / n) / std, 4) END AS z,
             std > 0 AND abs(nrm - s1 / n) > 3.0 * std AS is_outlier,
             n_dims = 1 AS dims_consistent
      FROM e CROSS JOIN v ORDER BY vec_id""",

    "x19_embed_quantize" -> """
      WITH q AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]),
                      x -> abs(x))) = 0 THEN 1.0
                    ELSE 127.0 / list_max(list_transform(
                      CAST(embedding AS DOUBLE[]), x -> abs(x))) END AS scale
        FROM embeddings)
      SELECT vec_id, round(scale, 4) AS scale,
             CAST(list_sum(list_transform(emb,
               x -> CAST(floor(x * scale + 0.5) AS BIGINT))) AS BIGINT)
               AS q_sum,
             list_max(list_transform(emb,
               x -> abs(x - floor(x * scale + 0.5) / scale))) <= 0.005
               AS err_ok
      FROM q ORDER BY vec_id""",

    "p16_temperature_sample" -> """
      WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
      r AS (SELECT source, n,
                   sqrt(CAST((SELECT MIN(n) FROM c) AS DOUBLE) / n) AS rate
            FROM c),
      t AS (SELECT source, n, rate,
                   lpad(lower(to_hex(CAST(floor(rate * 65536.0) AS BIGINT))),
                        4, '0') AS th
            FROM r),
      k AS (SELECT d.source, COUNT(*) AS n_kept
            FROM documents d JOIN t ON d.source = t.source
            WHERE t.rate >= 1.0 OR
                  substr(md5(d.source || '|' || CAST(d.doc_id AS VARCHAR)),
                         1, 4) < t.th
            GROUP BY d.source)
      SELECT t.source, t.n AS n_total, COALESCE(k.n_kept, 0) AS n_kept,
             round(t.rate, 6) AS rate
      FROM t LEFT JOIN k USING (source) ORDER BY source""",

    "p19_fixed_k_per_stratum" -> """
      SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
                 AS rk
        FROM documents)
      WHERE rk <= 10 ORDER BY source, rk""",

    "p18_three_way_split" -> """
      SELECT doc_id, source,
             CASE WHEN u < 52428 THEN 'train'
                  WHEN u < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                     1, 4)) AS INT) AS u
            FROM documents)
      ORDER BY doc_id""",

    "x37_mixture_plan" -> """
      WITH stats AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
                 AS corpus_tokens
        FROM documents GROUP BY source),
      w AS (SELECT * FROM (VALUES ('src0', 4.0), ('src1', 3.0),
              ('src2', 2.0), ('src3', 1.0), ('src10', 2.0),
              ('src11', 1.0)) AS t(source, weight)),
      j AS (
        SELECT s.source, s.n_docs, s.corpus_tokens,
               w.weight / SUM(w.weight) OVER () AS wn
        FROM stats s JOIN w ON s.source = w.source),
      p AS (
        SELECT source, n_docs, corpus_tokens, wn,
               CAST(floor(1000000.0 * wn + 0.5) AS BIGINT) AS target_tokens
        FROM j)
      SELECT source, n_docs, corpus_tokens,
             round(wn, 4) AS weight_norm, target_tokens,
             round(CAST(target_tokens AS DOUBLE) / corpus_tokens, 4)
               AS repeat_factor,
             CAST(floor(CAST(target_tokens AS DOUBLE) / corpus_tokens)
               AS BIGINT) AS full_epochs,
             round(CAST(target_tokens AS DOUBLE) / corpus_tokens
                   - floor(CAST(target_tokens AS DOUBLE) / corpus_tokens), 4)
               AS tail_fraction
      FROM p ORDER BY source""",

    "x25_repetition_ratio" -> """
      WITH ws AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      tok AS (
        SELECT doc_id, len(w) AS n_words,
               [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS bg
        FROM ws),
      wstats AS (
        SELECT doc_id, MAX(c) AS top_word_n,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS dup_word_n
        FROM (SELECT doc_id, word, COUNT(*) AS c
              FROM (SELECT doc_id, UNNEST(w) AS word FROM ws) u0
              GROUP BY doc_id, word) wc
        GROUP BY doc_id),
      bstats AS (
        SELECT doc_id, MAX(c) AS top_bigram_n FROM (
          SELECT doc_id, bgram, COUNT(*) AS c FROM (
            SELECT doc_id, UNNEST(bg) AS bgram FROM tok) u1
          GROUP BY doc_id, bgram) g1
        GROUP BY doc_id)
      SELECT t.doc_id AS id, t.n_words,
             round(CAST(w.top_word_n AS DOUBLE) / t.n_words, 6)
               AS top_word_frac,
             round(CAST(w.dup_word_n AS DOUBLE) / t.n_words, 6)
               AS dup_word_frac,
             CASE WHEN t.n_words > 1
                  THEN round(CAST(b.top_bigram_n AS DOUBLE) /
                             (t.n_words - 1), 6)
                  ELSE 0.0 END AS top_bigram_frac
      FROM tok t JOIN wstats w USING (doc_id)
           LEFT JOIN bstats b USING (doc_id)
      ORDER BY id""",

    "x29_url_canonical" -> """
      WITH u AS (
        SELECT doc_id,
               'HTTPS://' || upper(source) || '.Example.COM/p/' ||
               CAST(doc_id % 37 AS VARCHAR) ||
               CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
               '?utm_source=feed&ref=' || lang || '&id=' ||
               CAST(doc_id % 200 AS VARCHAR) ||
               CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents),
      parts AS (
        SELECT doc_id, nf,
               regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS p,
               list_filter(
                 string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'),
                 x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref='))
                      AND x <> '') AS kept
        FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u) n0),
      canon AS (
        SELECT doc_id,
               lower(regexp_extract(nf, '^([A-Za-z]+://[^/?#]+)', 1)) ||
               CASE WHEN p = '/' THEN p
                    ELSE regexp_replace(p, '/$', '') END ||
               CASE WHEN len(kept) > 0
                    THEN '?' || array_to_string(kept, '&') ELSE '' END
                 AS canonical_url
        FROM parts)
      SELECT canonical_url, COUNT(*) AS n_dups,
             MIN(doc_id) AS canonical_doc
      FROM canon GROUP BY canonical_url ORDER BY canonical_url""",

    "m5_incremental_agg" -> """
      SELECT o_orderstatus, CAST(month(o_orderdate) AS INT) AS m,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, m""",

    "s15_snapshot_time_travel" -> """
      SELECT 1 AS version, n_nationkey, n_name FROM nation
      WHERE n_nationkey < 15
      UNION ALL
      SELECT 2, n_nationkey,
             CASE WHEN n_name = 'JAPAN' THEN 'NIPPON' ELSE n_name END
      FROM nation
      ORDER BY version, n_nationkey""",

    "s18_dynamic_partition_overwrite" -> """
      WITH e AS (
        SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS day
        FROM events),
      d0 AS (SELECT MIN(day) AS d FROM e)
      SELECT day, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_errors
      FROM e, d0
      WHERE NOT (day = d0.d AND event_type = 'error')
      GROUP BY day ORDER BY day""",

    "m6_snapshot_diff" -> """
      WITH b AS (SELECT * FROM nation WHERE n_nationkey < 15),
      a AS (SELECT n_nationkey,
                   CASE WHEN n_name = 'JAPAN' THEN 'NIPPON'
                        ELSE n_name END AS n_name,
                   n_regionkey
            FROM nation)
      SELECT COALESCE(b.n_nationkey, a.n_nationkey) AS n_nationkey,
             CASE WHEN b.n_nationkey IS NULL THEN 'inserted'
                  WHEN a.n_nationkey IS NULL THEN 'deleted'
                  WHEN b.n_name <> a.n_name
                       OR b.n_regionkey <> a.n_regionkey
                  THEN 'updated' END AS change
      FROM b FULL OUTER JOIN a ON b.n_nationkey = a.n_nationkey
      WHERE b.n_nationkey IS NULL OR a.n_nationkey IS NULL
            OR b.n_name <> a.n_name OR b.n_regionkey <> a.n_regionkey
      ORDER BY n_nationkey""",

    "a12_funnel" -> """
      WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
                  FROM events),
      s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.us > s1.t1
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id FROM ev e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.us > s2.t2
             GROUP BY e.user_id)
      SELECT (SELECT COUNT(*) FROM s1) AS n_view,
             (SELECT COUNT(*) FROM s2) AS n_view_click,
             (SELECT COUNT(*) FROM s3) AS n_full_funnel""",

    "j16_geo_nearest" -> """
      WITH att AS (
        SELECT p_partkey AS att_id,
               21.9 + CAST(p_partkey * 37 % 300 AS DOUBLE) / 100.0 AS alat,
               120.0 + CAST(p_partkey * 53 % 200 AS DOUBLE) / 100.0 AS alng
        FROM part WHERE p_partkey % 20 = 0),
      cust AS (
        SELECT c_custkey,
               21.9 + CAST(c_custkey * 41 % 300 AS DOUBLE) / 100.0 AS clat,
               120.0 + CAST(c_custkey * 59 % 200 AS DOUBLE) / 100.0 AS clng
        FROM customer),
      d AS (
        SELECT c_custkey, att_id,
               12742.0176 * asin(sqrt(
                 sin((alat - clat) * 0.017453292519943295 / 2.0) *
                 sin((alat - clat) * 0.017453292519943295 / 2.0) +
                 cos(clat * 0.017453292519943295) *
                 cos(alat * 0.017453292519943295) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0))) AS dist
        FROM cust, att),
      r AS (
        SELECT c_custkey, att_id, dist,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist, att_id) AS rn
        FROM d)
      SELECT c_custkey, att_id AS nearest_att, round(dist, 3) AS dist_km
      FROM r WHERE rn = 1 ORDER BY c_custkey""",

    // the blocked grid join must equal the brute join — same oracle
    "j16b_geo_nearest_grid" -> """
      WITH att AS (
        SELECT p_partkey AS att_id,
               21.9 + CAST(p_partkey * 37 % 300 AS DOUBLE) / 100.0 AS alat,
               120.0 + CAST(p_partkey * 53 % 200 AS DOUBLE) / 100.0 AS alng
        FROM part WHERE p_partkey % 20 = 0),
      cust AS (
        SELECT c_custkey,
               21.9 + CAST(c_custkey * 41 % 300 AS DOUBLE) / 100.0 AS clat,
               120.0 + CAST(c_custkey * 59 % 200 AS DOUBLE) / 100.0 AS clng
        FROM customer),
      d AS (
        SELECT c_custkey, att_id,
               12742.0176 * asin(sqrt(
                 sin((alat - clat) * 0.017453292519943295 / 2.0) *
                 sin((alat - clat) * 0.017453292519943295 / 2.0) +
                 cos(clat * 0.017453292519943295) *
                 cos(alat * 0.017453292519943295) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0) *
                 sin((alng - clng) * 0.017453292519943295 / 2.0))) AS dist
        FROM cust, att),
      r AS (
        SELECT c_custkey, att_id, dist,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist, att_id) AS rn
        FROM d)
      SELECT c_custkey, att_id AS nearest_att, round(dist, 3) AS dist_km
      FROM r WHERE rn = 1 ORDER BY c_custkey""",

    "r5_array_agg" -> """
      SELECT o_custkey,
             array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
             CAST(len(list(o_orderkey)) AS INT) AS n_orders,
             list_sort(list(o_orderkey))[1] AS first_key
      FROM orders WHERE o_custkey <= 100
      GROUP BY o_custkey ORDER BY o_custkey""",

    "g2_triangle_count" -> """
      WITH e AS (
        SELECT DISTINCT LEAST(user_id, event_id % 150) AS a,
               GREATEST(user_id, event_id % 150) AS b
        FROM events WHERE user_id <> event_id % 150)
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
           JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b""",

    "g3_cooccurrence" -> """
      WITH posts AS (
        SELECT DISTINCT user_id AS u, event_id % 200 AS i FROM events),
      kept AS (
        SELECT p.* FROM posts p JOIN (
          SELECT u FROM posts GROUP BY u HAVING COUNT(*) <= 500) k
          USING (u)),
      iu AS (SELECT i, COUNT(*) AS n_users FROM kept GROUP BY i),
      pairs AS (
        SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS co_users
        FROM kept a JOIN kept b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT p.item_a, p.item_b, p.co_users,
             round(CAST(p.co_users AS DOUBLE) /
                   (ua.n_users + ub.n_users - p.co_users), 4) AS jaccard
      FROM pairs p JOIN iu ua ON ua.i = p.item_a
           JOIN iu ub ON ub.i = p.item_b
      ORDER BY item_a, item_b""",

    "j15_scd2_pointintime" -> """
      WITH dim AS (
        SELECT c_custkey, c_mktsegment, '2024-01-01' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        FROM customer),
      upd AS (
        SELECT CASE WHEN c_custkey % 50 = 0 THEN c_custkey + 100000
                    ELSE c_custkey END AS c_custkey,
               CASE WHEN c_custkey % 6 = 0 THEN c_mktsegment || '_V2'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 3 = 0),
      j AS (
        SELECT d.c_custkey AS dk, d.c_mktsegment AS dseg, d.valid_from,
               u.c_custkey AS uk, u.c_mktsegment AS useg
        FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey),
      scd2 AS (
        SELECT dk AS c_custkey, dseg AS c_mktsegment, valid_from,
               CAST(NULL AS VARCHAR) AS valid_to
        FROM j WHERE dk IS NOT NULL AND (uk IS NULL OR dseg = useg)
        UNION ALL
        SELECT dk, dseg, valid_from, '2024-06-01'
        FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
        UNION ALL
        SELECT uk, useg, '2024-06-01', NULL
        FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL AND dseg <> useg
        UNION ALL
        SELECT uk, useg, '2024-06-01', NULL
        FROM j WHERE dk IS NULL),
      facts AS (
        SELECT o_orderkey, o_custkey,
               strftime(DATE '2024-01-01' +
                 CAST(o_orderkey % 365 AS INT), '%Y-%m-%d') AS d
        FROM orders)
      SELECT s.c_mktsegment, COUNT(*) AS n_orders,
             COUNT(DISTINCT f.o_custkey) AS n_customers
      FROM facts f JOIN scd2 s
        ON f.o_custkey = s.c_custkey AND f.d >= s.valid_from
           AND (s.valid_to IS NULL OR f.d < s.valid_to)
      GROUP BY s.c_mktsegment ORDER BY s.c_mktsegment""",

    "w9_cumulative_distinct" -> """
      SELECT event_id, user_id,
             CAST(SUM(first_seen) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS types_seen
      FROM (SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END AS first_seen
            FROM events)
      ORDER BY event_id""",

    "p17_dictionary_encode" -> """
      SELECT o_orderkey, o_orderpriority,
             CAST(dense_rank() OVER (ORDER BY o_orderpriority) AS INT)
               AS v_id
      FROM orders ORDER BY o_orderkey""",

    "x32_incremental_admit" -> """
      WITH norm AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      c AS (SELECT * FROM norm WHERE doc_id % 4 <> 0),
      b AS (SELECT * FROM norm WHERE doc_id % 4 = 0),
      ec AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.h = c.h),
      eb AS (SELECT DISTINCT a.doc_id FROM b a
             JOIN b b2 ON a.h = b2.h AND a.doc_id > b2.doc_id),
      nc AS (SELECT DISTINCT a.doc_id FROM b a JOIN c ON
               CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, c.s))) >= 0.8),
      nb AS (SELECT DISTINCT a.doc_id FROM b a JOIN b b2 ON
               a.doc_id > b2.doc_id AND
               CAST(len(list_intersect(a.s, b2.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b2.s))) >= 0.8)
      SELECT b.doc_id AS id,
             CASE WHEN ec.doc_id IS NOT NULL THEN 'dup_exact_corpus'
                  WHEN eb.doc_id IS NOT NULL THEN 'dup_exact_batch'
                  WHEN nc.doc_id IS NOT NULL THEN 'dup_near_corpus'
                  WHEN nb.doc_id IS NOT NULL THEN 'dup_near_batch'
                  ELSE 'admitted' END AS status
      FROM b LEFT JOIN ec ON b.doc_id = ec.doc_id
             LEFT JOIN eb ON b.doc_id = eb.doc_id
             LEFT JOIN nc ON b.doc_id = nc.doc_id
             LEFT JOIN nb ON b.doc_id = nb.doc_id
      ORDER BY id""",

    "e2e_incremental_ingest" -> """
      WITH norm AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      c AS (SELECT * FROM norm WHERE doc_id % 4 <> 0),
      b AS (SELECT * FROM norm WHERE doc_id % 4 = 0),
      ec AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.h = c.h),
      eb AS (SELECT DISTINCT a.doc_id FROM b a
             JOIN b b2 ON a.h = b2.h AND a.doc_id > b2.doc_id),
      nc AS (SELECT DISTINCT a.doc_id FROM b a JOIN c ON
               CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, c.s))) >= 0.8),
      nb AS (SELECT DISTINCT a.doc_id FROM b a JOIN b b2 ON
               a.doc_id > b2.doc_id AND
               CAST(len(list_intersect(a.s, b2.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b2.s))) >= 0.8),
      st AS (
        SELECT b.doc_id AS id,
               CASE WHEN ec.doc_id IS NOT NULL THEN 'dup_exact_corpus'
                    WHEN eb.doc_id IS NOT NULL THEN 'dup_exact_batch'
                    WHEN nc.doc_id IS NOT NULL THEN 'dup_near_corpus'
                    WHEN nb.doc_id IS NOT NULL THEN 'dup_near_batch'
                    ELSE 'admitted' END AS status
        FROM b LEFT JOIN ec ON b.doc_id = ec.doc_id
               LEFT JOIN eb ON b.doc_id = eb.doc_id
               LEFT JOIN nc ON b.doc_id = nc.doc_id
               LEFT JOIN nb ON b.doc_id = nb.doc_id),
      g AS (SELECT status, COUNT(*) AS n_docs FROM st GROUP BY status)
      SELECT status, n_docs,
             (SELECT COUNT(*) FROM c) AS corpus_v1,
             CAST((SELECT COUNT(*) FROM c)
             + (SELECT COALESCE(SUM(n_docs), 0) FROM g
                WHERE status = 'admitted') AS BIGINT) AS corpus_v2
      FROM g ORDER BY status""",

    "a13_retention_cohorts" -> """
      WITH e AS (
        SELECT DISTINCT user_id,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
        FROM events),
      c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
      SELECT c.cohort_wk, e.wk, COUNT(DISTINCT e.user_id) AS n_active
      FROM e JOIN c ON e.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY cohort_wk, wk""",

    "x33_export_manifest" -> """
      SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1 ORDER BY shard""",

    "e2e_webcorpus" -> """
      WITH gd AS (
        SELECT doc_id AS id, lang, text,
               list_filter(regexp_extract_all(lower(text), '\S+'),
                 x -> len(x) > 0) AS w,
               list_filter(list_transform(string_split(text, chr(10)),
                 l -> trim(l)), l -> len(l) > 0) AS lines
        FROM documents),
      probes AS (
        SELECT lang, list(tok) AS ps FROM (
          SELECT lang, tok, row_number() OVER (PARTITION BY lang
                   ORDER BY n DESC, tok ASC) AS rk
          FROM (SELECT lang, tok, COUNT(*) AS n
                FROM (SELECT lang, UNNEST(w) AS tok FROM gd)
                GROUP BY lang, tok))
        WHERE rk <= 8 GROUP BY lang),
      gm AS (
        SELECT id, len(w) AS nw, len(lines) AS nl,
               CAST(length(regexp_replace(text, '\s+', '', 'g'))
                 AS DOUBLE) AS nonws,
               length(text) - length(replace(text, '#', '')) AS nhash,
               (length(text) -
                 length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
                 AS nell,
               len(list_filter(lines,
                 l -> regexp_matches(l, '^[-*•]'))) AS nbullet,
               len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)$'))) AS nellline,
               len(list_filter(w,
                 x -> regexp_matches(x, '[a-z]'))) AS nalpha,
               len(list_filter(ps, s -> list_contains(w, s))) AS stophits
        FROM gd JOIN probes USING (lang)),
      gpass AS (
        SELECT id FROM gm
        WHERE nw >= 50 AND nw <= 100000
          AND nw > 0 AND nonws / nw >= 3.0 AND nonws / nw <= 10.0
          AND (nhash + nell) / nw <= 0.1
          AND (nl = 0 OR CAST(nbullet AS DOUBLE) / nl < 0.9)
          AND (nl = 0 OR CAST(nellline AS DOUBLE) / nl < 0.3)
          AND CAST(nalpha AS DOUBLE) / nw >= 0.8
          AND stophits >= 2),
      canon AS (
        SELECT MIN(doc_id) AS id FROM (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                   AS fp
          FROM documents)
        GROUP BY fp),
      btoks AS (
        SELECT doc_id AS id, regexp_extract_all(lower(text), '\S+') AS t
        FROM documents),
      btokens AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM btoks),
      bigrams AS (
        SELECT id, w1, w2 FROM (
          SELECT id, tok AS w1,
                 lead(tok) OVER (PARTITION BY id ORDER BY pos) AS w2
          FROM btokens)
        WHERE w2 IS NOT NULL),
      uni AS (SELECT tok AS w1, COUNT(*) AS c1 FROM btokens GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS v FROM btokens),
      bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
      blogp AS (
        SELECT w1, w2, ln((c12 + 1.0) / (c1 + v)) AS logp
        FROM bi JOIN uni USING (w1) CROSS JOIN v),
      scored AS (
        SELECT id, round(AVG(logp), 4) AS avg_logp2
        FROM bigrams JOIN blogp USING (w1, w2) GROUP BY id),
      kept AS (
        SELECT scored.id, avg_logp2
        FROM scored JOIN gpass USING (id) JOIN canon USING (id)),
      r AS (
        SELECT *, row_number() OVER (ORDER BY avg_logp2 DESC, id) AS rn,
               COUNT(*) OVER () AS total
        FROM kept),
      cut AS (SELECT id, avg_logp2 FROM r WHERE (rn - 1) * 2 < total),
      t AS (
        SELECT doc_id AS id, len(regexp_extract_all(text, '\S+'))
          AS n_toks
        FROM documents),
      sh AS (
        SELECT cut.id, avg_logp2, n_toks,
               row_number() OVER (ORDER BY n_toks DESC, cut.id) AS rn2
        FROM cut JOIN t USING (id))
      SELECT (rn2 - 1) % 4 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(avg_logp2 AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*), 4) AS mean_logp2
      FROM sh GROUP BY 1 ORDER BY shard""",

    "e2e_llm_corpus" -> """
      WITH q AS (
        SELECT doc_id AS id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               round(CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(len(list_filter(
                        regexp_extract_all(lower(text), '\S+'),
                        t -> list_contains(['the','a','an','and','or','of',
                                            'to','in','is','it'], t)))
                      AS DOUBLE)
                    / len(regexp_extract_all(lower(text), '\S+'))
               END, 4) AS stopword_ratio
        FROM documents),
      tw AS (
        SELECT nw.id, round(CAST(wc.topc AS DOUBLE) / nw.nw, 6)
                 AS top_word_frac
        FROM (SELECT doc_id AS id, len(string_split(lower(text), ' ')) AS nw
              FROM documents) nw
        JOIN (SELECT id, MAX(c) AS topc FROM (
                SELECT doc_id AS id, word, COUNT(*) AS c FROM (
                  SELECT doc_id, UNNEST(string_split(lower(text), ' '))
                         AS word FROM documents) u
                GROUP BY id, word) g
              GROUP BY id) wc ON nw.id = wc.id),
      kept AS (
        SELECT d.doc_id AS id, d.source, d.text,
               md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')) AS h
        FROM documents d JOIN q ON d.doc_id = q.id
             JOIN tw ON d.doc_id = tw.id
        WHERE q.n_tokens >= 10 AND q.n_tokens <= 5000
          AND q.stopword_ratio >= 0.05 AND tw.top_word_frac <= 0.2),
      canon AS (
        SELECT id, source, text FROM (
          SELECT *, MIN(id) OVER (PARTITION BY h) AS keep_id FROM kept) k
        WHERE id = keep_id),
      cnt AS (SELECT source, COUNT(*) AS n FROM canon GROUP BY source),
      rt AS (SELECT source, n,
                    sqrt(CAST((SELECT MIN(n) FROM cnt) AS DOUBLE) / n)
                      AS rate
             FROM cnt),
      th AS (SELECT source, rate,
                    lpad(lower(to_hex(CAST(floor(rate * 65536.0) AS BIGINT))),
                         4, '0') AS th
             FROM rt),
      samp AS (
        SELECT c.* FROM canon c JOIN th ON c.source = th.source
        WHERE th.rate >= 1.0 OR
              substr(md5(c.source || '|' || CAST(c.id AS VARCHAR)), 1, 4)
              < th.th),
      -- the x115 roundtrip verifier over the SAMPLED export (v = 24
      -- vocab trained on the sample itself): 0-OOV docs must decode
      -- exactly to their normalized source stream
      toksv AS (
        SELECT id, regexp_extract_all(lower(text), '\S+') AS t
        FROM samp),
      flatv AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM toksv),
      typesv AS (SELECT tok, COUNT(*) AS n FROM flatv GROUP BY tok),
      vocabv AS (
        SELECT tok, rn - 1 AS tid FROM (
          SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC)
                 AS rn
          FROM typesv)
        WHERE rn <= 24),
      encv AS (
        SELECT f.id, f.pos, COALESCE(v.tid, 24) AS tid
        FROM flatv f LEFT JOIN vocabv v USING (tok)),
      decv AS (
        SELECT e.id,
               string_agg(COALESCE(v.tok, '<unk>'), ' '
                 ORDER BY e.pos) AS decoded
        FROM encv e LEFT JOIN vocabv v USING (tid)
        GROUP BY e.id),
      oovv AS (
        SELECT id, SUM(CASE WHEN tid = 24 THEN 1 ELSE 0 END) AS n_oov
        FROM encv GROUP BY id),
      normv AS (
        SELECT id, source,
               len(regexp_extract_all(text, '\S+')) AS n_tok,
               array_to_string(regexp_extract_all(lower(text), '\S+'),
                 ' ') AS norm
        FROM samp)
      SELECT n.source, COUNT(*) AS n_docs,
             CAST(SUM(n.n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN COALESCE(o.n_oov, 0) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_oov,
             bool_and(COALESCE(o.n_oov, 0) > 0 OR
                      COALESCE(d.decoded, '') = n.norm)
               AS all_roundtrip_ok
      FROM normv n LEFT JOIN decv d USING (id)
           LEFT JOIN oovv o USING (id)
      GROUP BY n.source ORDER BY n.source""",

    "x35_video_frame_neardups" -> """
      WITH fr AS (
        SELECT DISTINCT media_id AS id,
               md5(substring(txt, CAST(f * 64 + 1 AS BIGINT), 64)) AS e
        FROM (
          SELECT doc_id AS media_id, text AS txt,
                 UNNEST(range(CAST(greatest(ceil(length(text) / 64.0), 1)
                   AS BIGINT))) AS f
          FROM documents) t0),
      sz AS (SELECT id, COUNT(*) AS sz FROM fr GROUP BY id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
        FROM fr a JOIN fr b ON a.e = b.e AND a.id < b.id
        GROUP BY a.id, b.id)
      SELECT p.id_a, p.id_b,
             round(CAST(p.common AS DOUBLE) /
                   (sa.sz + sb.sz - p.common), 4) AS jaccard
      FROM pairs p JOIN sz sa ON p.id_a = sa.id
           JOIN sz sb ON p.id_b = sb.id
      WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.5
      ORDER BY id_a, id_b""",

    "x36_span_dup_coverage" -> """
      WITH toks AS (
        SELECT doc_id AS id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ' ') AS t
        FROM documents),
      wins AS (
        SELECT id, len(t) AS n_tokens, i,
               md5(array_to_string(t[i+1:i+8], ' ')) AS h
        FROM toks, UNNEST(CASE WHEN len(t) >= 8
               THEN range(0, len(t) - 8 + 1) ELSE [] END) AS u(i)),
      dup AS (SELECT h FROM wins GROUP BY h
              HAVING COUNT(DISTINCT id) >= 2),
      cov AS (
        SELECT w.id, COUNT(DISTINCT w.i) AS n_dup_spans,
               COUNT(DISTINCT p) AS covered_tokens
        FROM wins w JOIN dup USING (h),
             UNNEST(range(w.i, w.i + 8)) AS q(p)
        GROUP BY w.id)
      SELECT tk.id, len(tk.t) AS n_tokens,
             COALESCE(c.n_dup_spans, 0) AS n_dup_spans,
             COALESCE(c.covered_tokens, 0) AS covered_tokens,
             round(COALESCE(c.covered_tokens, 0)
                   / CAST(len(tk.t) AS DOUBLE), 4) AS dup_frac,
             CASE WHEN round(COALESCE(c.covered_tokens, 0)
                        / CAST(len(tk.t) AS DOUBLE), 4) > 0.5
                  THEN 'drop_span_dup' ELSE 'keep' END AS verdict
      FROM toks tk LEFT JOIN cov c ON tk.id = c.id
      ORDER BY tk.id""",

    "x42_bpe_pair_counts" -> """
      WITH words AS (
        SELECT tok, COUNT(*) AS n FROM (
          SELECT UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
          FROM documents) GROUP BY tok),
      sy AS (SELECT n, regexp_extract_all(tok, '.') AS cs FROM words),
      prs AS (
        SELECT cs[i] AS lhs, cs[i+1] AS rhs,
               CAST(SUM(n) AS BIGINT) AS pair_count
        FROM sy, UNNEST(range(1, len(cs))) AS u(i)
        GROUP BY 1, 2)
      SELECT lhs, rhs, pair_count FROM prs
      WHERE pair_count >= 100 ORDER BY lhs, rhs""",

    "x38_collocations" -> """
      WITH ws AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS w
        FROM documents),
      uni AS (
        SELECT tok, COUNT(*) AS n_tok
        FROM (SELECT UNNEST(w) AS tok FROM ws) GROUP BY tok),
      tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM uni),
      bgs AS (
        SELECT UNNEST([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))])
          AS bg
        FROM ws),
      bi AS (SELECT bg, COUNT(*) AS n_pair FROM bgs GROUP BY bg),
      btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b_total FROM bi)
      SELECT b.bg AS bigram, b.n_pair,
             round(CAST(b.n_pair AS DOUBLE) * t.n_total * t.n_total /
                   (CAST(bt.b_total AS DOUBLE) * u1.n_tok * u2.n_tok), 4)
               AS lift
      FROM bi b
      JOIN uni u1 ON u1.tok = split_part(b.bg, ' ', 1)
      JOIN uni u2 ON u2.tok = split_part(b.bg, ' ', 2)
      CROSS JOIN tot t CROSS JOIN btot bt
      WHERE b.n_pair >= 20
      ORDER BY bigram""",

    "x39_oov_rate" -> """
      WITH toks AS (
        SELECT doc_id AS id,
               UNNEST(string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, COUNT(*) AS n,
                 row_number() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS r
          FROM toks GROUP BY tok)
        WHERE r <= 30)
      SELECT t.id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_oov,
             round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 4) AS oov_rate
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.id ORDER BY t.id""",

    "x34_quality_filter" -> """
      WITH q AS (
        SELECT doc_id AS id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               round(CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(len(list_filter(
                        regexp_extract_all(lower(text), '\S+'),
                        t -> list_contains(['the','a','an','and','or','of',
                                            'to','in','is','it'], t)))
                      AS DOUBLE)
                    / len(regexp_extract_all(lower(text), '\S+'))
               END, 4) AS stopword_ratio
        FROM documents),
      nw AS (SELECT doc_id AS id, len(string_split(lower(text), ' ')) AS nw
             FROM documents),
      wc AS (SELECT id, MAX(c) AS topc FROM (
               SELECT doc_id AS id, word, COUNT(*) AS c FROM (
                 SELECT doc_id, UNNEST(string_split(lower(text), ' '))
                        AS word FROM documents) u
               GROUP BY id, word) g
             GROUP BY id),
      tw AS (SELECT nw.id,
                    round(CAST(wc.topc AS DOUBLE) / nw.nw, 6)
                      AS top_word_frac
             FROM nw JOIN wc ON nw.id = wc.id)
      SELECT d.source,
             CASE WHEN q.n_tokens < 10 THEN 'too_short'
                  WHEN q.n_tokens > 5000 THEN 'too_long'
                  WHEN q.stopword_ratio < 0.05 THEN 'low_stopword'
                  WHEN tw.top_word_frac > 0.2 THEN 'repetitious'
                  ELSE 'keep' END AS verdict,
             COUNT(*) AS n_docs
      FROM documents d JOIN q ON d.doc_id = q.id
           JOIN tw ON d.doc_id = tw.id
      GROUP BY 1, 2 ORDER BY source, verdict""",

    "x30_char_entropy" -> """
      WITH ch AS (
        SELECT doc_id AS id, UNNEST(regexp_extract_all(lower(text), '[a-z]'))
                 AS ch
        FROM documents),
      cc AS (SELECT id, ch, COUNT(*) AS c FROM ch GROUP BY id, ch)
      SELECT id, CAST(SUM(c) AS BIGINT) AS n_letters,
             round(log2(CAST(SUM(c) AS DOUBLE)) -
                   SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) /
                   CAST(SUM(c) AS DOUBLE), 4) AS entropy
      FROM cc GROUP BY id ORDER BY id""",

    "x31_feature_hash" -> """
      SELECT doc_id AS id,
             CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 64
               AS bucket,
             COUNT(*) AS n
      FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\S+'))
                     AS tok
            FROM documents) t0
      GROUP BY 1, 2 ORDER BY id, bucket""",

    "st8_stream_late_drop" -> """
      WITH wma AS (SELECT (epoch_ns(MAX(ts)) // 1000000) - 3600000 AS ms
                   FROM events WHERE event_id % 3 = 1),
      wmf AS (SELECT (epoch_ns(MAX(ts)) // 1000000) - 3600000 AS ms
              FROM events),
      uni AS (
        SELECT ts, event_type FROM events WHERE event_id % 3 <> 0
        UNION ALL
        SELECT e.ts, e.event_type FROM events e, wma
        WHERE e.event_id % 3 = 0
          AND (epoch_ns(date_trunc('hour', e.ts)) // 1000000) + 3600000
              > wma.ms)
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, COUNT(*) AS n_events
      FROM uni, wmf
      WHERE (epoch_ns(date_trunc('hour', ts)) // 1000000) + 3600000
            <= wmf.ms
      GROUP BY 1, 2 ORDER BY bucket, event_type""",

    "st11_stream_incremental_rollup" -> """
      SELECT event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",

    "st12_stream_quality_monitor" -> """
      SELECT 'check_allowed_types' AS check_name, 'events' AS table_name,
             (SELECT COUNT(*) FROM events WHERE event_type NOT IN
              ('click', 'purchase', 'signup', 'view')) AS n_violations
      UNION ALL
      SELECT 'check_value_cap_100', 'events',
             (SELECT COUNT(*) FROM events
              WHERE NOT COALESCE(value <= 100.0, FALSE))
      UNION ALL
      SELECT 'notnull_props', 'events',
             (SELECT COUNT(*) FROM events WHERE props IS NULL)
      ORDER BY check_name""",

    "st13_stream_sketch_rollup" -> """
      SELECT event_type,
             COUNT(DISTINCT user_id) AS exact_distinct,
             TRUE AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type""",

    "st16_stream_topk" -> """
      SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rank
        FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank""",

    "st17_stream_freq_ledger" -> """
      WITH tokens AS (
        SELECT UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      top AS (
        SELECT tok AS token, COUNT(*) AS exact_n
        FROM tokens GROUP BY tok
        ORDER BY exact_n DESC, token ASC LIMIT 5),
      s AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
      SELECT token, exact_n, n_sources, TRUE AS bounds_ok
      FROM top CROSS JOIN s ORDER BY token""",

    "st15_stream_kll_ledger" -> """
      WITH d AS (SELECT COUNT(DISTINCT o_orderdate) AS n_slices
                 FROM orders)
      SELECT CAST(q AS DOUBLE) AS q, n_slices, TRUE AS rank_err_ok
      FROM (VALUES (0.5), (0.9), (0.99)) AS t(q) CROSS JOIN d
      ORDER BY q""",

    "st14_stream_theta_novelty" -> """
      WITH tk AS (
        SELECT doc_id % 3 AS batch,
               string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents),
      grams AS (
        SELECT batch,
               CAST(('0x' || substring(md5(array_to_string(
                 t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
        FROM tk, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
      fs AS (SELECT g, MIN(batch) AS batch FROM grams GROUP BY g)
      SELECT batch, COUNT(*) AS n_novel, TRUE AS est_within_5pct
      FROM fs GROUP BY batch ORDER BY batch""",

    "st9_stream_neardup_admit" -> """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id)
      -- arrival order = doc_id order in the single-batch run, so the
      -- streaming admission must equal: dropped iff any smaller-id doc
      -- is within Hamming distance 3 (banding reaches exactly this set)
      SELECT f.id AS doc_id,
             CASE WHEN EXISTS (SELECT 1 FROM fp e WHERE e.id < f.id
                    AND bit_count(xor(e.simhash, f.simhash)) <= 3)
                  THEN 'near_dup' ELSE 'admitted' END AS status
      FROM fp f ORDER BY doc_id""",

    "x1_dedup_exact" -> """
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS content_hash,
             MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
      FROM documents GROUP BY 1 ORDER BY content_hash""",

    "x81_softdedup_weights" -> """
      WITH h AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 AS content_hash
        FROM documents),
      s AS (SELECT content_hash, COUNT(*) AS n_dups FROM h
            GROUP BY content_hash)
      SELECT doc_id, n_dups, round(1.0 / n_dups, 6) AS weight
      FROM h JOIN s USING (content_hash)
      ORDER BY doc_id""",

    "x4_ngram_jaccard_pairs" -> """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents WHERE doc_id < 1000))
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",

    "x4b_ngram_jaccard_dfcut" -> """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents WHERE doc_id < 1000)),
      posts AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
      rare AS (SELECT shingle FROM posts
               GROUP BY shingle HAVING COUNT(*) <= 50),
      pruned AS (SELECT p.doc_id, p.shingle
                 FROM posts p JOIN rare r ON p.shingle = r.shingle),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM pruned a JOIN pruned b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b)
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b""",

    "x8_lang_id" -> """
      SELECT doc_id,
        CASE WHEN cjk > 0 THEN 'zh'
             WHEN es > greatest(en, de, fr) THEN 'es'
             WHEN fr > greatest(en, de) THEN 'fr'
             WHEN de > en THEN 'de'
             ELSE 'en' END AS pred_lang
      FROM (
        SELECT doc_id,
          len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
          len(regexp_extract_all(lower(text),
            '\b(the|and|of|is|to)\b')) AS en,
          len(regexp_extract_all(lower(text),
            '\b(der|die|und|das|nicht)\b')) AS de,
          len(regexp_extract_all(lower(text),
            '\b(le|la|et|les|des)\b')) AS fr,
          len(regexp_extract_all(lower(text),
            '\b(el|los|las|una|y)\b')) AS es
        FROM documents)
      ORDER BY doc_id""",

    "x50_dedup_audit" -> """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      nearm AS (
        SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n FROM (
          SELECT id_a AS m FROM (
            SELECT a.id AS id_a, b.id AS id_b FROM fp a JOIN fp b
            ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) p0
          UNION SELECT id_b FROM (
            SELECT a.id AS id_a, b.id AS id_b FROM fp a JOIN fp b
            ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) p1)),
      exact AS (
        SELECT CAST(COUNT(*) - COUNT(DISTINCT
          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
          AS BIGINT) AS n
        FROM documents),
      tk AS (
        SELECT doc_id AS sid,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS t
        FROM documents),
      wins AS (
        SELECT sid, len(t) AS n_tokens, i,
               md5(array_to_string(t[i+1:i+8], ' ')) AS hh
        FROM tk, UNNEST(CASE WHEN len(t) >= 8
               THEN range(0, len(t) - 8 + 1) ELSE [] END) AS u(i)),
      dup AS (SELECT hh FROM wins GROUP BY hh
              HAVING COUNT(DISTINCT sid) >= 2),
      cov AS (
        SELECT w.sid, COUNT(DISTINCT p) AS covered
        FROM wins w JOIN dup USING (hh),
             UNNEST(range(w.i, w.i + 8)) AS q(p)
        GROUP BY w.sid),
      spanf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM tk LEFT JOIN cov ON cov.sid = tk.sid
        WHERE round(COALESCE(cov.covered, 0)
              / CAST(len(tk.t) AS DOUBLE), 4) > 0.5),
      ibl AS (
        SELECT sid, CAST(ceil(len(t) / 8.0) AS INT) AS nb,
               list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                 b -> array_to_string(t[b*8+1 : b*8+8], ' ')) AS bl
        FROM tk),
      intra AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT sid, nb - len(list_filter(range(1, nb + 1),
            i -> list_position(bl, bl[i]) = i)) AS ndup
          FROM ibl WHERE nb >= 1)
        WHERE ndup > 0)
      SELECT 'exact_dup_docs' AS signal, n AS n_docs FROM exact
      UNION ALL SELECT 'near_dup_members', n FROM nearm
      UNION ALL SELECT 'span_flagged_docs', n FROM spanf
      UNION ALL SELECT 'intradoc_affected', n FROM intra
      ORDER BY signal""",

    "x49_intradoc_dedup" -> """
      WITH tk AS (
        SELECT doc_id AS id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS t
        FROM documents),
      bl AS (
        SELECT id, CAST(ceil(len(t) / 8.0) AS INT) AS nb,
               list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                 b -> array_to_string(t[b*8+1 : b*8+8], ' ')) AS bl
        FROM tk),
      k AS (
        SELECT id, nb, bl,
               list_filter(range(1, nb + 1),
                 i -> list_position(bl, bl[i]) = i) AS keep_idx
        FROM bl WHERE nb >= 1)
      SELECT id, nb AS n_blocks,
             CAST(nb - len(keep_idx) AS INT) AS n_dup_blocks,
             array_to_string(list_transform(keep_idx, i -> bl[i]), ' ')
               AS clean_text
      FROM k ORDER BY id""",

    "x48_quality_weighted_sample" -> """
      WITH q AS (
        SELECT id, source,
               round(least(1.0, n_tokens / 100.0) * 0.4
                 + (1.0 - least(1.0, punct_ratio * 5.0)) * 0.3
                 + least(1.0, stopword_ratio * 4.0) * 0.3, 4) AS qs
        FROM (
          SELECT doc_id AS id, source,
                 len(regexp_extract_all(text, '\S+')) AS n_tokens,
                 round(CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                        AS DOUBLE) / length(text) END, 4) AS punct_ratio,
                 round(CASE WHEN len(regexp_extract_all(lower(text),
                     '\S+')) = 0
                   THEN 0.0
                   ELSE CAST(len(list_filter(
                          regexp_extract_all(lower(text), '\S+'),
                          t -> list_contains(['the','a','an','and','or','of',
                                              'to','in','is','it'], t)))
                        AS DOUBLE)
                      / len(regexp_extract_all(lower(text), '\S+'))
                 END, 4) AS stopword_ratio
          FROM documents)),
      k AS (
        SELECT source, qs,
               CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 4))
                 AS INT) < floor(qs * 65536.0) AS kept,
               CAST(floor(qs * 1e4 + 0.5) AS BIGINT) AS qfx
        FROM q)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             round(CAST(SUM(qfx) AS DOUBLE) / (COUNT(*) * 1e4), 4)
               AS avg_q_all,
             round(CAST(SUM(CASE WHEN kept THEN qfx ELSE 0 END) AS DOUBLE)
                   / (SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1e4), 4)
               AS avg_q_kept
      FROM k GROUP BY source ORDER BY source""",

    "x47_lang_confusion" -> """
      SELECT lang AS declared,
        CASE WHEN cjk > 0 THEN 'zh'
             WHEN es > greatest(en, de, fr) THEN 'es'
             WHEN fr > greatest(en, de) THEN 'fr'
             WHEN de > en THEN 'de'
             ELSE 'en' END AS predicted,
        COUNT(*) AS n_docs
      FROM (
        SELECT lang,
          len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
          len(regexp_extract_all(lower(text),
            '\b(the|and|of|is|to)\b')) AS en,
          len(regexp_extract_all(lower(text),
            '\b(der|die|und|das|nicht)\b')) AS de,
          len(regexp_extract_all(lower(text),
            '\b(le|la|et|les|des)\b')) AS fr,
          len(regexp_extract_all(lower(text),
            '\b(el|los|las|una|y)\b')) AS es
        FROM documents)
      GROUP BY 1, 2 ORDER BY declared, predicted""",

    "a20_pareto_abc" -> """
      -- cents (exact BIGINT) through the cumulative machinery, like
      -- the engine's globalPrefixSum path: cum/tot is then a quotient
      -- of exact integers on both sides (same share doubles, same cut)
      WITH rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS cents
        FROM orders GROUP BY 1),
      r AS (
        SELECT o_custkey, rev,
               SUM(cents) OVER (ORDER BY rev DESC, o_custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(cents) OVER () AS tot
        FROM rev),
      c AS (
        SELECT rev,
               CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.5
                    THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8
                    THEN 'B' ELSE 'C' END AS abc
        FROM r)
      SELECT abc, COUNT(*) AS n_customers,
             CAST(SUM(rev) AS DOUBLE) AS revenue
      FROM c GROUP BY abc ORDER BY abc""",

    "a18_mad_outliers" -> """
      WITH med AS (
        SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY 1),
      dev AS (
        SELECT o.o_orderstatus, m.med,
               abs(o.o_totalprice - m.med) AS adev
        FROM orders o JOIN med m USING (o_orderstatus)),
      mad AS (
        SELECT o_orderstatus, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1)
      SELECT d.o_orderstatus, COUNT(*) AS n_rows,
             round(MAX(d.med), 2) AS median,
             round(MAX(md.mad), 2) AS mad,
             CAST(SUM(CASE WHEN d.adev > 3.0 * md.mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers
      FROM dev d JOIN mad md USING (o_orderstatus)
      GROUP BY d.o_orderstatus ORDER BY o_orderstatus""",

    "x86_quality_curriculum" -> """
      WITH f AS (
        SELECT doc_id AS id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                      AS DOUBLE) / length(text) END, 4) AS punct_ratio,
               round(CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(len(list_filter(
                        regexp_extract_all(lower(text), '\S+'),
                        t -> list_contains(['the','a','an','and','or','of',
                                            'to','in','is','it'], t)))
                      AS DOUBLE)
                    / len(regexp_extract_all(lower(text), '\S+'))
               END, 4) AS stopword_ratio
        FROM documents),
      q AS (
        SELECT id, n_tokens,
               round(least(1.0, n_tokens / 100.0) * 0.4
                 + (1.0 - least(1.0, punct_ratio * 5.0)) * 0.3
                 + least(1.0, stopword_ratio * 4.0) * 0.3, 4)
                 AS quality_score
        FROM f),
      c AS (
        SELECT *,
               SUM(n_tokens) OVER (ORDER BY quality_score DESC, id
                 ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n_tokens) OVER () AS total_tokens
        FROM q)
      SELECT CASE WHEN cum * 3 <= total_tokens THEN 1
                  WHEN cum * 3 <= total_tokens * 2 THEN 2
                  ELSE 3 END AS phase,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             MIN(quality_score) AS min_score,
             MAX(quality_score) AS max_score
      FROM c GROUP BY 1 ORDER BY phase""",

    "x9_quality_score" -> """
      SELECT id, n_chars, n_tokens, mean_token_len, punct_ratio,
             stopword_ratio,
             round(least(1.0, n_tokens / 100.0) * 0.4
               + (1.0 - least(1.0, punct_ratio * 5.0)) * 0.3
               + least(1.0, stopword_ratio * 4.0) * 0.3, 4) AS quality_score
      FROM (
        SELECT doc_id AS id, length(text) AS n_chars,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               round(CASE WHEN len(regexp_extract_all(text, '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(length(regexp_replace(text, '\s+', '', 'g'))
                      AS DOUBLE) / len(regexp_extract_all(text, '\S+'))
               END, 4) AS mean_token_len,
               round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                      AS DOUBLE) / length(text) END, 4) AS punct_ratio,
               round(CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(len(list_filter(
                        regexp_extract_all(lower(text), '\S+'),
                        t -> list_contains(['the','a','an','and','or','of',
                                            'to','in','is','it'], t)))
                      AS DOUBLE)
                    / len(regexp_extract_all(lower(text), '\S+'))
               END, 4) AS stopword_ratio
        FROM documents)
      ORDER BY id""",

    "x10_token_counts" -> """
      SELECT doc_id AS id,
             len(regexp_extract_all(text, '\S+')) AS ws_tokens,
             len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
      FROM documents ORDER BY id""",

    "x5_embed_cosine_pairs" -> """
      SELECT id_a, id_b, round(cos_sim, 4) AS cos_sim FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))))
                 AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      WHERE cos_sim > 0.40 ORDER BY id_a, id_b""",

    "x46_blocked_cosine_pairs" -> """
      WITH qv AS (
        SELECT vec_id, embedding,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cv FROM qv
            WHERE vec_id < GREATEST(8, CAST(ceil(
              (SELECT COUNT(*) FROM embeddings) / 250.0) AS BIGINT))),
      d AS (
        SELECT q.vec_id, q.embedding, c.cid,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                 AS BIGINT) AS d2
        FROM qv q CROSS JOIN c),
      cells AS (
        SELECT cid, vec_id, embedding FROM (
          SELECT cid, vec_id, embedding,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rk
          FROM d)
        WHERE rk = 1)
      SELECT cell, id_a, id_b, round(cos_sim, 4) AS cos_sim FROM (
        SELECT a.cid AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))))
                 AS cos_sim
        FROM cells a JOIN cells b
          ON a.cid = b.cid AND a.vec_id < b.vec_id)
      WHERE cos_sim > 0.40 ORDER BY id_a, id_b""",

    "x6_ann_brute_topk" -> """
      SELECT query_id, rank, neighbor_id, round(cos_sim, 4) AS cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))))
                 AS cos_sim,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[]))))
                 DESC, c.vec_id ASC) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON q.vec_id <> c.vec_id)
      WHERE rank <= 5 ORDER BY query_id, rank""",

    "ref1_tripadvisor_chain" -> """
      WITH raw AS (
        SELECT p_partkey AS rid,
               '介紹 ' || p_name AS info,
               'https://img.example/' || CAST(p_partkey AS VARCHAR) AS photo,
               p_name AS attraction_name,
               CASE WHEN p_partkey % 17 = 0 THEN '無評分'
                    ELSE printf('%.1f 分 (共 5 分)',
                                (p_partkey % 45 + 5) / 10.0) END AS rating_raw,
               CASE WHEN p_partkey % 13 = 0 THEN 'many'
                    ELSE CAST(CAST(floor(p_retailprice) AS BIGINT) AS VARCHAR)
               END AS reviews_raw,
               CASE WHEN p_partkey % 19 = 0 THEN NULL
                    ELSE replace(p_type, ' ', ' • ') END AS cat_raw
        FROM part),
      dedup AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY attraction_name, rating_raw ORDER BY rid) AS rn
          FROM raw) WHERE rn = 1),
      conv AS (
        SELECT md5(attraction_name) AS attraction_id, info, photo,
               attraction_name,
               TRY_CAST(trim(string_split(rating_raw, '分 ')[1]) AS DOUBLE)
                 AS rating,
               TRY_CAST(reviews_raw AS BIGINT) AS total_reviews,
               cat_raw
        FROM dedup)
      SELECT attraction_id, info, photo, attraction_name, rating,
             total_reviews, replace(cat_raw, ' • ', ',') AS categories
      FROM conv
      WHERE rating IS NOT NULL AND total_reviews IS NOT NULL
        AND cat_raw IS NOT NULL
      ORDER BY attraction_name, rating""",

    "ref2_gmaps_chain" -> {
      val hourCols = (0 to 23).map(h =>
        s"""CAST(SUM(CASE WHEN h = $h THEN pop ELSE 0 END) AS BIGINT) AS "$h"""")
        .mkString(",\n               ")
      val matCols = (0 to 23).map(h => s"""m."$h"""").mkString(", ")
      s"""
      WITH p AS (
        SELECT p_partkey AS k, p_name FROM part WHERE p_partkey <= 50),
      d AS (SELECT * FROM (VALUES
        (0,'Monday'),(1,'Tuesday'),(2,'Wednesday'),(3,'Thursday'),
        (4,'Friday'),(5,'Saturday'),(6,'Sunday')) AS t(di, day)),
      pop AS (
        SELECT p.k, d.day, h.h, (p.k*31 + d.di*24 + h.h) % 101 AS pop
        FROM p, d, (SELECT UNNEST(range(24)) AS h) h
        WHERE (p.k + d.di + h.h) % 3 <> 0),
      mat AS (
        SELECT 'p' || CAST(k AS VARCHAR) AS place_id, day,
               $hourCols
        FROM pop GROUP BY 1, 2),
      dim AS (
        SELECT 'p' || CAST(k AS VARCHAR) AS place_id,
               regexp_extract('高雄市' || substring(p_name, 1, 3),
                              '^(.*?[市縣])', 1) AS city,
               regexp_extract('高雄市' || substring(p_name, 1, 3),
                              '[市縣](.*)$$', 1) AS region
        FROM p)
      SELECT m.place_id, m.day, $matCols, dm.city, dm.region
      FROM mat m JOIN dim dm ON m.place_id = dm.place_id
      ORDER BY m.place_id, m.day"""
    },


    "x7_ann_lsh_topk" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_06
      FROM embeddings WHERE vec_id < 10""",

    "x15_ann_ivf_topk" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_04
      FROM embeddings WHERE vec_id < 10""",

    "x76_ivf_incremental" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_04
      FROM embeddings WHERE vec_id < 10""",

    "x12_multimodal_decode" -> """
      SELECT media_id, kind, CAST(strlen(s) AS BIGINT) AS n_bytes,
             h AS feat_hash, 1 + (h % 640) AS width,
             1 + ((h >> 7) % 480) AS height
      FROM (SELECT event_id AS media_id, 'image' AS kind,
                   COALESCE(props, '') AS s,
                   CAST('0x' || substring(md5(COALESCE(props, '')), 1, 15)
                        AS BIGINT) AS h
            FROM events)
      ORDER BY media_id""",

    "x13_media_resize" -> """
      WITH wh AS (
        SELECT media_id, 1 + (h % 640) AS width, 1 + ((h >> 7) % 480) AS height
        FROM (SELECT event_id AS media_id,
                     CAST('0x' || substring(md5(COALESCE(props, '')), 1, 15)
                          AS BIGINT) AS h
              FROM events)),
      sc AS (
        SELECT *, least(1.0, 224.0 / greatest(width, height)) AS s0 FROM wh)
      SELECT media_id, CAST(width AS BIGINT) AS width,
             CAST(height AS BIGINT) AS height,
             greatest(CAST(floor(width * s0 + 0.5) AS BIGINT), 1) AS out_w,
             greatest(CAST(floor(height * s0 + 0.5) AS BIGINT), 1) AS out_h,
             floor(s0 * 1e6 + 0.5) / 1e6 AS scale
      FROM sc ORDER BY media_id""",

    "x15b_ann_ivf_exact" -> """
      SELECT query_id, rank, neighbor_id, round(cos_sim, 4) AS cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))))
                 AS cos_sim,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[]))))
                 DESC, c.vec_id ASC) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON q.vec_id <> c.vec_id)
      WHERE rank <= 5 ORDER BY query_id, rank""",

    "x53_pq_ann_topk" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_08
      FROM embeddings WHERE vec_id < 10""",

    "x53b_pq_exact" -> fixedPointBruteOracle,
    "x93b_ann_auto" -> fixedPointBruteOracle,

    "x112_clustered_route" -> """
      -- the constants ARE the contract (the x92 recall-pane pattern,
      -- strengthened to the route): the engine must take the IVFPQ
      -- branch on the clustered lake AND hold recall 1.0 against the
      -- exact twin at 12.5% probed with the rerankFor-sized pool
      -- (375 = ceil(1.5 * 8 * 2000 / 64)); a routing flip, a recall
      -- drop, or a resizing of the pool hash-mismatches here
      SELECT 'ivfpq' AS route, CAST(2000 AS BIGINT) AS n_corpus,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094,
             CAST(0.125 AS DOUBLE) AS probed_frac,
             TRUE AS probed_le_025, CAST(375 AS BIGINT) AS rerank""",

    "x112b_default_route" -> """
      -- the production-default call's contract as constants: route
      -- must be ivfpq on the clustered lake with recall 1.0 under
      -- the nlistFor/nprobeFor/rerankFor-sized defaults (measured:
      -- nlist=32, nprobe=4, rerank=375 at n=2000)
      SELECT 'ivfpq' AS route, CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094""",

    "x113_standing_ann_search" -> annIndexOracle,
    // the stream-accreted index equals the batch-built state exactly
    // (per-row encode against a frozen definition + disjoint
    // batches), so st23 shares x113's oracle verbatim — the
    // batching-invariance discipline on the index tier
    "st23_stream_ann_ingest" -> annIndexOracle,

    "x116_index_drift" -> """
      -- both branches of the standing-index rebuild trigger on the
      -- deterministic lake: 2000 vectors on a 2000-sized geometry
      -- (nlistFor(2000)=32, trained 32) stay quiet; the same frozen
      -- definition accreted to 20000 sizes to nlistFor(20000)=512 >=
      -- 2x32 and fires. Occupancy stats read from the encoded ledger
      -- (hash-grid lake + deterministic train => constants).
      SELECT * FROM (VALUES
        ('a_steady_2k', CAST(2000 AS BIGINT), CAST(32 AS BIGINT),
         CAST(62.5 AS DOUBLE), CAST(156 AS BIGINT), CAST(32 AS BIGINT),
         CAST(32 AS BIGINT), FALSE),
        ('b_accreted_20k', CAST(20000 AS BIGINT), CAST(32 AS BIGINT),
         CAST(625.0 AS DOUBLE), CAST(1563 AS BIGINT),
         CAST(32 AS BIGINT), CAST(512 AS BIGINT), TRUE))
        AS t(scenario, n_now, n_cells_occupied, mean_occ, max_occ,
             trained_nlist, sized_nlist_now, rebuild_recommended)
      ORDER BY scenario""",

    "x117_sharded_ann" -> """
      -- the two-shard standing index: hash split (985/1015 of the
      -- deterministic 2k lake), per-shard sized geometry
      -- nlistFor(985)=16, merged top-k holds recall 1.0 against the
      -- UNSHARDED exact twin (Round16Spec additionally pins merged ==
      -- single-index == exact as row equality)
      SELECT CAST(2 AS BIGINT) AS n_shards,
             CAST(985 AS BIGINT) AS n_shard0,
             CAST(1015 AS BIGINT) AS n_shard1,
             CAST(16 AS BIGINT) AS nlist_shard0,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094""",

    "x118_index_rebuild" -> """
      -- the advisor-to-action loop closed: the 500-sized definition
      -- (nlist 16) accreted to 2000 fires the trigger (32 >= 2x16);
      -- the rebuild at the advisor's own sized_nlist_now lands in a
      -- new versioned ledger, reads quiet, and holds recall 1.0
      SELECT CAST(16 AS BIGINT) AS stale_trained_nlist,
             CAST(32 AS BIGINT) AS sized_nlist_now,
             TRUE AS rebuild_fired,
             'ivfpq-nl32-m8-ks16-ci1-pi1-fp1e7' AS rebuilt_version,
             TRUE AS rebuilt_quiet,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094""",

    "e2e_vector_store" -> """
      -- the vector-store capstone pane: standing-ledger version, 16
      -- stratified queries x fused top-5, hybrid recall vs the exact
      -- fixed-point twin (the sq8 branch ranks by cosine, so fusion
      -- trades 4/80 L2 neighbors for cosine ones - the measured,
      -- deterministic hybrid operating point), both branches LIVE,
      -- drift guard quiet on the population the geometry was sized for
      SELECT 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(16 AS BIGINT) AS n_queries,
             CAST(80 AS BIGINT) AS n_fused,
             CAST(0.95 AS DOUBLE) AS recall_fused_at5,
             TRUE AS branch_ivfpq_live, TRUE AS branch_sq8_live,
             FALSE AS rebuild_recommended""",

    "x119_ann_forget" -> annForgetOracle,

    "st24_stream_forget" -> annForgetOracle,

    "x120_ann_compact" -> """
      -- the physical ERASURE contract: 10 forgotten ids x m=8 code
      -- rows fold out of the encoded part (16000 -> 15920) in one
      -- crash-safe swap landing at the sized single file, the
      -- version stamp survives (state changed, recipe did not), the
      -- tombstone set clears, and search over the compacted bundle
      -- holds recall 1.0 vs the exact survivor twin
      SELECT 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(16000 AS BIGINT) AS n_rows_before,
             CAST(15920 AS BIGINT) AS n_rows_after,
             CAST(1 AS BIGINT) AS n_files_after,
             TRUE AS version_survived,
             CAST(0 AS BIGINT) AS n_tombstones_after,
             CAST(0 AS BIGINT) AS n_post_results_forgotten,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_survivors,
             TRUE AS recall_ge_094""",

    "x121_filtered_ann" -> """
      -- filtered search, all three routes live: 63 survivors route
      -- pre-filter exact (nprobe/k_prime unused: 0/k); the ~25%
      -- HASH filter with the cutoff forced to 0 routes post-filter
      -- ANN at the router's own widened knobs (nprobe 8/0.241=34,
      -- k_prime = overfetchFor(5, 0.241) = 83), preflight measures
      -- 1.0, and the batch holds recall 1.0 vs the exact filtered
      -- twin; the same-selectivity CORRELATED filter (id mod 4 =
      -- whole clusters on this lake) measures 0.5125 on the probe
      -- sample — below the 0.94 floor — and the router REROUTES the
      -- batch to the exact survivor scan: recall 1.0 by
      -- construction, with the failed preflight surfaced. Zero
      -- off-predicate results on every branch.
      SELECT 'a_selective_exact' AS branch, 'exact_filtered' AS route,
             CAST(63 AS BIGINT) AS n_survivors,
             CAST(0 AS BIGINT) AS nprobe,
             CAST(5 AS BIGINT) AS k_prime,
             CAST(1.0 AS DOUBLE) AS recall_preflight,
             CAST(0 AS BIGINT) AS n_off_pred,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_filtered,
             TRUE AS recall_ge_094
      UNION ALL
      SELECT 'b_broad_ann', 'ann_overfetch', CAST(482 AS BIGINT),
             CAST(34 AS BIGINT), CAST(83 AS BIGINT),
             CAST(1.0 AS DOUBLE),
             CAST(0 AS BIGINT), CAST(80 AS BIGINT),
             CAST(1.0 AS DOUBLE), TRUE
      UNION ALL
      SELECT 'c_correlated_fallback', 'exact_filtered_fallback',
             CAST(500 AS BIGINT),
             CAST(32 AS BIGINT), CAST(80 AS BIGINT),
             CAST(0.5125 AS DOUBLE),
             CAST(0 AS BIGINT), CAST(80 AS BIGINT),
             CAST(1.0 AS DOUBLE), TRUE
      ORDER BY branch""",

    "x122_ledger_vacuum" -> """
      -- retention: the stale v1 bundle is swept, the kept v2 bundle
      -- stays complete, the meta-less in-flight dir is untouched
      -- (deleting it would race a writer), and a re-sweep is a no-op
      SELECT CAST(1 AS BIGINT) AS n_kept,
             CAST(1 AS BIGINT) AS n_deleted,
             FALSE AS stale_still_exists,
             TRUE AS kept_complete,
             TRUE AS inflight_preserved,
             CAST(1 AS BIGINT) AS n_kept_resweep,
             CAST(0 AS BIGINT) AS n_deleted_resweep""",

    "x123_cell_pruned_search" -> """
      -- the layout contract: one file per cell on disk (64), files
      -- READ == cells PROBED (58 of 64 for this 16-query batch —
      -- nearly saturating at test scale; the contract, not the
      -- ratio, is what a 65536-cell deployment inherits), pruning
      -- changes nothing about results (pruned == full row-for-row),
      -- recall 1.0 vs the exact twin
      SELECT 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(64 AS BIGINT) AS n_cells_total,
             CAST(58 AS BIGINT) AS n_cells_probed,
             CAST(64 AS BIGINT) AS n_files_total,
             CAST(58 AS BIGINT) AS n_files_read,
             TRUE AS pruned_equals_full,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "x124_ledger_promote" -> """
      -- the storage-form bridge: 4 stream batches accrete, promotion
      -- rewrites to the cell layout with CONTENT unchanged (row
      -- equality pinned), and the promoted bundle is probe-prunable
      -- (files read == cells probed — the capability the ingest-form
      -- __bid layout cannot offer at any file count); search over it
      -- holds recall 1.0 vs the exact twin
      SELECT 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(4 AS BIGINT) AS n_batches,
             TRUE AS promoted_equals_accreted,
             CAST(64 AS BIGINT) AS n_files_promoted,
             CAST(58 AS BIGINT) AS n_cells_probed,
             CAST(58 AS BIGINT) AS n_files_read_pruned,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "e2e_index_lifecycle" -> """
      -- the ops loop end-to-end: drift fires on the 4x-accreted
      -- 500-sized geometry, the rebuild lands at the advisor's own
      -- nl32 in a new bundle, vacuum collects the stale one (1 kept,
      -- 1 swept), forget+compact erase 16 rank-1 neighbors x m=8
      -- rows with the version surviving, and the final search holds
      -- recall 1.0 over survivors with zero forgotten ids surfacing
      SELECT TRUE AS drift_fired,
             'ivfpq-nl32-m8-ks16-ci1-pi1-fp1e7' AS rebuilt_version,
             CAST(1 AS BIGINT) AS n_bundles_kept,
             CAST(1 AS BIGINT) AS n_bundles_vacuumed,
             TRUE AS stale_gone,
             CAST(128 AS BIGINT) AS n_rows_erased,
             TRUE AS version_survived_compact,
             CAST(0 AS BIGINT) AS n_results_forgotten,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_survivors,
             TRUE AS recall_ge_094""",

    "x125_plan_audit" -> """
      -- the flagship mart's static plan shape as data: 2 corpus
      -- shuffles (mart agg + final ordering), dims broadcast (2 BHJ,
      -- 0 sort-merge), no corpus-squared joins, codegen live, all 3
      -- scans carry pushed filters; the gate passes the flagship at
      -- its tight declared budget and REFUSES a deliberate cartesian
      SELECT CAST(2 AS BIGINT) AS n_shuffle_exchanges,
             CAST(2 AS BIGINT) AS n_broadcast_hash_joins,
             CAST(0 AS BIGINT) AS n_sort_merge_joins,
             CAST(0 AS BIGINT) AS n_cartesian_or_loop_joins,
             TRUE AS codegen_live,
             CAST(3 AS BIGINT) AS n_file_scans,
             CAST(3 AS BIGINT) AS n_scans_pushed_filters,
             TRUE AS gate_passes_flagship,
             TRUE AS gate_refuses_cartesian""",

    "x126_index_fsck" -> """
      -- fsck both ways: the standing ledger reads clean; the
      -- poisoned twin surfaces each crafted corruption exactly once
      -- (one partial-encode vector, one extra-row vector with an
      -- out-of-range code, one with an unknown cell -> 3 subshape
      -- offenders of which 1 bad code and 1 unknown cell) plus the
      -- informational orphan tombstone that does NOT break clean's
      -- definition (it is false for the three real invariants)
      SELECT 'a_healthy' AS branch,
             'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(2000 AS BIGINT) AS n_vectors,
             CAST(0 AS BIGINT) AS n_bad_subshape,
             CAST(0 AS BIGINT) AS n_bad_codes,
             CAST(0 AS BIGINT) AS n_unknown_cells,
             CAST(0 AS BIGINT) AS n_orphan_tombstones,
             TRUE AS clean
      UNION ALL
      SELECT 'b_poisoned', 'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7',
             CAST(2000 AS BIGINT), CAST(3 AS BIGINT),
             CAST(1 AS BIGINT), CAST(1 AS BIGINT),
             CAST(1 AS BIGINT), FALSE
      ORDER BY branch""",

    "x127_compact_advisor" -> """
      -- the when-to-compact rule, every reason branch live: a
      -- compacted bundle reads quiet; 1% forgotten fires the
      -- tombstone-debt rule at exactly the threshold; a 32-file
      -- write against a byte-advised 1 fires the file-debt rule
      SELECT 'a_compacted_quiet' AS branch,
             'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7' AS version,
             CAST(2000 AS BIGINT) AS n_vectors,
             CAST(0 AS BIGINT) AS n_tombstoned_live,
             CAST(0.0 AS DOUBLE) AS ts_fraction,
             FALSE AS files_over_budget,
             CAST(1 AS BIGINT) AS advised_files,
             'none' AS reason, FALSE AS compact_recommended
      UNION ALL
      SELECT 'b_tombstone_debt',
             'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7',
             CAST(2000 AS BIGINT), CAST(20 AS BIGINT),
             CAST(0.01 AS DOUBLE), FALSE, CAST(1 AS BIGINT),
             'tombstones', TRUE
      UNION ALL
      SELECT 'c_file_debt',
             'ivfpq-nl64-m8-ks16-ci1-pi1-fp1e7',
             CAST(2000 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0.0 AS DOUBLE), TRUE, CAST(1 AS BIGINT),
             'files', TRUE
      ORDER BY branch""",

    "x128_filtered_pruned_ann" -> """
      -- the filtered router composed with the cell layout: 4 probe
      -- queries, 50% hash filter (986 survivors of the deterministic
      -- 2k lake), nprobe widened 8 -> 17 by the 1/sel rule, k' =
      -- overfetchFor(5, 0.493) = 41; the batch's probes reach 41 of
      -- 64 cells and the scan reads EXACTLY those 41 files (23
      -- skipped — the pruning is real), recall 1.0 vs the exact
      -- filtered twin with zero off-predicate rows
      SELECT 'ann_overfetch' AS route,
             CAST(986 AS BIGINT) AS n_survivors,
             CAST(17 AS BIGINT) AS nprobe,
             CAST(41 AS BIGINT) AS k_prime,
             CAST(1.0 AS DOUBLE) AS recall_preflight,
             CAST(41 AS BIGINT) AS n_cells_probed,
             CAST(41 AS BIGINT) AS n_files_read,
             TRUE AS files_eq_cells,
             CAST(0 AS BIGINT) AS n_off_pred,
             CAST(20 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_filtered,
             TRUE AS recall_ge_094""",

    "x129_incremental_promote" -> """
      -- incremental promotion: 4 full batches promote (hwm 3), then
      -- ONE narrow delta batch (8 of the 64 clusters) touches
      -- exactly 8 cells — 8 cell directories rewritten, every other
      -- file byte-identical, the bundle row-equal to a full
      -- re-promote, watermark advanced to 4, recall 1.0 on the
      -- grown lake
      SELECT CAST(4 AS BIGINT) AS n_batches_full,
             CAST(3 AS BIGINT) AS hwm_after_full,
             CAST(1 AS BIGINT) AS n_new_batches,
             CAST(8 AS BIGINT) AS n_touched_cells,
             CAST(8 AS BIGINT) AS n_cells_rewritten,
             TRUE AS rewritten_eq_touched,
             TRUE AS untouched_byte_identical,
             TRUE AS incremental_equals_full,
             CAST(4 AS BIGINT) AS hwm_after_delta,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "x130_sharded_lifecycle" -> """
      -- the delete lifecycle sharded: 32 adversarial ids (each
      -- probe's exact top-2) route 17/15 to their shards' tombstone
      -- sets, both shards' compact advisors fire (1.5-1.7% tombstone
      -- debt), 256 code rows erase physically (32 ids x m=8), merged
      -- search over survivors holds recall 1.0 with zero forgotten
      -- ids surfacing
      SELECT CAST(2 AS BIGINT) AS n_shards,
             CAST(17 AS BIGINT) AS n_ts_shard0,
             CAST(15 AS BIGINT) AS n_ts_shard1,
             CAST(2 AS BIGINT) AS n_shards_compact_recommended,
             CAST(256 AS BIGINT) AS n_rows_erased,
             CAST(0 AS BIGINT) AS n_results_forgotten,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_survivors,
             TRUE AS recall_ge_094""",

    "x131_gated_build" -> """
      -- the gated medallion build: 5 tables under declared shuffle
      -- budgets, the gated mart row-equal to the ungated run (row
      -- count re-derived from the driver tables), a regressed budget
      -- and an undeclared table both refused
      SELECT CAST(5 AS BIGINT) AS n_tables,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                SELECT c_mktsegment, year(o_orderdate),
                       quarter(o_orderdate)
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
                  AND o_orderdate IS NOT NULL
                GROUP BY 1, 2, 3)) AS mart_rows,
             TRUE AS gated_equals_ungated,
             TRUE AS regressed_budget_refused,
             TRUE AS undeclared_table_refused""",

    "x132_boilerplate_drift" -> """
      -- the advisor's numbers re-derived from the documents table:
      -- docfreq by trimmed segment under x111's footer injection;
      -- the x111 threshold (10) blacklists only the 3 footers (thin
      -- head, quiet), the stale threshold (0) captures everything
      -- and fires
      WITH d AS (
        SELECT doc_id, text || chr(10) ||
               CASE doc_id % 3
                 WHEN 0 THEN 'subscribe to our newsletter'
                 WHEN 1 THEN 'all rights reserved'
                 ELSE 'cookie policy applies' END AS t
        FROM documents),
      segs AS (
        SELECT doc_id, trim(UNNEST(string_split(t, chr(10)))) AS ts
        FROM d),
      df AS (
        SELECT ts, COUNT(DISTINCT doc_id) AS docfreq
        FROM segs GROUP BY 1)
      SELECT CASE t.md WHEN 10 THEN 'a_x111_threshold_quiet'
             ELSE 'b_stale_threshold_fires' END AS branch,
             CAST(t.md AS BIGINT) AS max_docs,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(SUM(CASE WHEN docfreq > t.md THEN 1 ELSE 0 END)
               AS BIGINT) AS n_blacklisted,
             round(SUM(CASE WHEN docfreq > t.md THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*), 4) AS blacklist_frac,
             CAST(MAX(docfreq) AS BIGINT) AS max_docfreq,
             (SUM(CASE WHEN docfreq > t.md THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*)) >= 0.10 AS rethreshold_recommended
      FROM df CROSS JOIN (SELECT UNNEST([10, 0]) AS md) t
      GROUP BY t.md ORDER BY branch""",

    "x133_dsir_drift" -> """
      -- both branches of the DSIR bucket-width advisor on the
      -- deterministic synthetic corpora (pure column arithmetic —
      -- constants at any sf): 20 docs load 4096 buckets at 1% (the
      -- sizing rule answers 4096, quiet); 600 docs x 11 features
      -- occupy 3254 buckets (79% load — collisions are no longer
      -- rare), sized to 16384 >= 2x4096, fires
      SELECT * FROM (VALUES
        ('a_light_quiet', CAST(4096 AS BIGINT), CAST(43 AS BIGINT),
         CAST(0.0105 AS DOUBLE), CAST(4096 AS BIGINT), FALSE),
        ('b_saturated_fires', CAST(4096 AS BIGINT),
         CAST(3254 AS BIGINT), CAST(0.7944 AS DOUBLE),
         CAST(16384 AS BIGINT), TRUE))
        AS t(branch, nb, n_occupied, load_factor, sized_nb_now,
             rebuild_recommended)
      ORDER BY branch""",

    "x134_ops_console" -> """
      -- the unified maintenance console: 8 advisor rows over one
      -- deterministic estate, every action with both branches live;
      -- reasons are the advisors' own witnessed values verbatim
      SELECT * FROM (VALUES
        ('ann', 'ann_fresh_2k', 'compact', FALSE,
         'none ts_fraction=0.0 advised_files=1'),
        ('ann', 'ann_fresh_2k', 'rebuild', FALSE,
         'sized_nlist_now=32 trained=32 n_now=2000'),
        ('ann', 'ann_stale_2k_on_500geo', 'compact', TRUE,
         'tombstones ts_fraction=0.01 advised_files=1'),
        ('ann', 'ann_stale_2k_on_500geo', 'rebuild', TRUE,
         'sized_nlist_now=32 trained=16 n_now=2000'),
        ('boilerplate', 'bp_stale_threshold', 'rethreshold', TRUE,
         'blacklist_frac=1.0 n_blacklisted=41 max_docs=0'),
        ('boilerplate', 'bp_x111_threshold', 'rethreshold', FALSE,
         'blacklist_frac=0.0244 n_blacklisted=1 max_docs=10'),
        ('dsir', 'dsir_heavy', 'rebuild', TRUE,
         'load_factor=0.7944 sized_nb_now=16384 nb=4096'),
        ('dsir', 'dsir_light', 'rebuild', FALSE,
         'load_factor=0.0105 sized_nb_now=4096 nb=4096'))
        AS t(tier, ledger, action, recommended, reason)
      ORDER BY tier, ledger, action""",

    "st25_stream_promote" -> """
      -- the maintenance cadence riding the stream: 4 ingest batches,
      -- an incremental promote every 2nd, the trailing cell-layout
      -- bundle row-equal to a full batch promote, the 16-probe batch
      -- pruning to exactly its 28 probed cell files, recall 1.0
      SELECT CAST(4 AS BIGINT) AS n_batches,
             CAST(2 AS BIGINT) AS n_promotes,
             TRUE AS bundle_equals_full_promote,
             CAST(28 AS BIGINT) AS n_cells_probed,
             CAST(28 AS BIGINT) AS n_files_read,
             TRUE AS files_eq_cells,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "x135_filtered_sharded_ann" -> """
      -- filter x shards composed: the 50% hash filter's 986
      -- survivors route the batch once (ann_overfetch, k'=41); each
      -- shard's own widened nprobe prunes ITS cell-layout bundle to
      -- exactly the probed cell files; the merged post-filtered
      -- top-k holds recall 1.0 vs the exact filtered twin with zero
      -- off-predicate rows
      SELECT 'ann_overfetch' AS route,
             CAST(2 AS BIGINT) AS n_shards,
             CAST(986 AS BIGINT) AS n_survivors,
             CAST(41 AS BIGINT) AS k_prime,
             CAST(1.0 AS DOUBLE) AS recall_preflight,
             CAST(9 AS BIGINT) AS nprobe_shard0,
             CAST(9 AS BIGINT) AS nprobe_shard1,
             CAST(14 AS BIGINT) AS n_cells_shard0,
             CAST(15 AS BIGINT) AS n_cells_shard1,
             TRUE AS files_eq_cells_all_shards,
             CAST(0 AS BIGINT) AS n_off_pred,
             CAST(20 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_filtered,
             TRUE AS recall_ge_094""",

    "x136_ops_loop" -> """
      -- the closed maintenance loop: 7 console rows, every firing
      -- action executed through its operator with the effect
      -- witnessed, every previously-firing row quiet after, every
      -- never-fired row untouched (reason strings pinned verbatim
      -- both sides)
      SELECT * FROM (VALUES
        ('ann', 'ann_accreted', 'compact', FALSE,
         'none ts_fraction=0.0 advised_files=1', FALSE, '-', TRUE,
         'none ts_fraction=0.0 advised_files=1'),
        ('ann', 'ann_accreted', 'rebuild', TRUE,
         'sized_nlist_now=32 trained=16 n_now=2000', TRUE,
         'rebuilt version=ivfpq-nl32-m8-ks16-ci1-pi1-fp1e7', TRUE,
         'sized_nlist_now=32 trained=32 n_now=2000'),
        ('ann', 'ann_tombstoned', 'compact', TRUE,
         'tombstones ts_fraction=0.01 advised_files=1', TRUE,
         'erased=160 files=1', TRUE,
         'none ts_fraction=0.0 advised_files=1'),
        ('ann', 'ann_tombstoned', 'rebuild', FALSE,
         'sized_nlist_now=32 trained=32 n_now=2000', FALSE, '-', TRUE,
         'sized_nlist_now=32 trained=32 n_now=1980'),
        ('boilerplate', 'bp_stale', 'rethreshold', TRUE,
         'blacklist_frac=1.0 n_blacklisted=41 max_docs=0', TRUE,
         'max_docs=1', TRUE,
         'blacklist_frac=0.0244 n_blacklisted=1 max_docs=1'),
        ('dsir', 'dsir_heavy', 'rebuild', TRUE,
         'load_factor=0.7944 sized_nb_now=16384 nb=4096', TRUE,
         'refolded nb=32768 steps=2 batches=3', TRUE,
         'load_factor=0.1827 sized_nb_now=32768 nb=32768'),
        ('dsir', 'dsir_light', 'rebuild', FALSE,
         'load_factor=0.0105 sized_nb_now=4096 nb=4096', FALSE, '-',
         TRUE, 'load_factor=0.0105 sized_nb_now=4096 nb=4096'))
        AS t(tier, ledger, action, fired_before, reason_before,
             executed, effect, quiet_after, reason_after)
      ORDER BY tier, ledger, action""",

    "x136b_ops_loop_standing" -> """
      -- x136's amortized twin: a HEALTHY standing estate — the
      -- guarded right-sized bundle (rebuild + compact quiet), the
      -- same bundle as a 1-shard estate at the default clamp
      -- (reshard quiet), the light DSIR ledger (quiet) — where the
      -- only firing action is the boilerplate rethreshold, a
      -- KB-grain histogram derive; the loop executes it and every
      -- row reads quiet after
      SELECT * FROM (VALUES
        ('ann', 'ann_standing', 'compact', FALSE,
         'none ts_fraction=0.0 advised_files=64', FALSE, '-', TRUE,
         'none ts_fraction=0.0 advised_files=64'),
        ('ann', 'ann_standing', 'rebuild', FALSE,
         'sized_nlist_now=32 trained=64 n_now=2000', FALSE, '-',
         TRUE, 'sized_nlist_now=32 trained=64 n_now=2000'),
        ('ann', 'estate_standing', 'reshard', FALSE,
         'sized_shards_now=1 current=1 n_live=2000', FALSE, '-',
         TRUE, 'sized_shards_now=1 current=1 n_live=2000'),
        ('boilerplate', 'bp_stale', 'rethreshold', TRUE,
         'blacklist_frac=1.0 n_blacklisted=41 max_docs=0', TRUE,
         'max_docs=1', TRUE,
         'blacklist_frac=0.0244 n_blacklisted=1 max_docs=1'),
        ('dsir', 'dsir_light', 'rebuild', FALSE,
         'load_factor=0.0105 sized_nb_now=4096 nb=4096', FALSE, '-',
         TRUE, 'load_factor=0.0105 sized_nb_now=4096 nb=4096'))
        AS t(tier, ledger, action, fired_before, reason_before,
             executed, effect, quiet_after, reason_after)
      ORDER BY tier, ledger, action""",

    "x137_dsir_rebuild" -> """
      -- the text-tier rebuild executed at the advisor's sizing,
      -- ITERATIVELY: a saturated ledger under-reads its feature
      -- count (occupied <= nb), so the 6.6k-feature corpus reads
      -- 3.3k occupied at 4096 -> sized 16384 -> still saturated ->
      -- re-measured 5.4k -> 32768 -> quiet in 2 steps; the final
      -- 3-batch re-fold equals a fresh single-batch build at the
      -- same width (batching invariance at the new width) and the
      -- selection weights from both ledgers are identical
      SELECT CAST(4096 AS BIGINT) AS old_nb,
             TRUE AS rebuild_fired,
             CAST(2 AS BIGINT) AS n_steps,
             CAST(32768 AS BIGINT) AS final_nb,
             TRUE AS resized_quiet,
             TRUE AS refold_equals_fresh_build,
             TRUE AS weights_equal,
             CAST(600 AS BIGINT) AS n_docs""",

    "x138_boilerplate_rethreshold" -> """
      -- the rethreshold action's input derived from the ledger's own
      -- docfreq distribution: smallest maxDocs whose blacklist stays
      -- STRICTLY under 10% of distinct segments (strict because the
      -- advisor fires at >=). Everything re-derived from the
      -- documents table under x111's footer injection: the stale
      -- threshold (0) fires and its strip removes every character;
      -- the derived threshold reads quiet and strips only the
      -- recurring head
      WITH d AS (
        SELECT doc_id, text || chr(10) ||
               CASE doc_id % 3
                 WHEN 0 THEN 'subscribe to our newsletter'
                 WHEN 1 THEN 'all rights reserved'
                 ELSE 'cookie policy applies' END AS t
        FROM documents),
      segs AS (
        SELECT doc_id, seg, pos, trim(seg) AS ts FROM (
          SELECT doc_id, UNNEST(parts) AS seg,
                 generate_subscripts(parts, 1) AS pos
          FROM (SELECT doc_id, string_split(t, chr(10)) AS parts
                FROM d))),
      df AS (
        SELECT ts, COUNT(DISTINCT doc_id) AS docfreq
        FROM segs GROUP BY 1),
      n AS (SELECT COUNT(*) AS ns FROM df),
      cand AS (SELECT 0 AS md UNION
               SELECT DISTINCT docfreq AS md FROM df),
      derived AS (
        SELECT MIN(md) AS md FROM cand, n
        WHERE (SELECT COUNT(*) FROM df WHERE docfreq > cand.md)
              < 0.10 * n.ns),
      -- rebuilt clean_text re-joins kept segments with the separator,
      -- so kept chars = sum(kept seg lengths) + (kept_segs - docs
      -- with >=1 kept seg) separators; docs with NO kept segment
      -- contribute the empty string (0 chars) via stripTail's
      -- left join, so they need no term here
      keptstats AS (
        SELECT COUNT(*) AS nseg_kept,
               COUNT(DISTINCT s.doc_id) AS ndocs_kept,
               COALESCE(SUM(length(s.seg)), 0) AS segchars
        FROM segs s JOIN df ON s.ts = df.ts, derived
        WHERE df.docfreq <= derived.md)
      SELECT CAST(0 AS BIGINT) AS stale_max_docs,
             TRUE AS fired_at_stale,
             CAST(derived.md AS BIGINT) AS derived_max_docs,
             TRUE AS quiet_at_derived,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM df, derived
              WHERE docfreq > derived.md) AS n_blacklisted_derived,
             (SELECT CAST(ns AS BIGINT) FROM n) AS n_segments,
             CAST(0 AS BIGINT) AS chars_kept_stale,
             (SELECT CAST(segchars + nseg_kept - ndocs_kept AS BIGINT)
              FROM keptstats) AS chars_kept_derived,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs
      FROM derived""",

    "st26_stream_sharded_promote" -> """
      -- the sharded streaming cadence: 4 batches route to 2 shards
      -- by the ingest hash, every 2nd batch promotes both shards
      -- incrementally; each trailing bundle row-equals a full batch
      -- promote of its ledger, a re-promote with no new batches is a
      -- no-op, and the merged pruned search holds recall 1.0 with
      -- files == cells in both shards
      SELECT CAST(2 AS BIGINT) AS n_shards,
             CAST(2 AS BIGINT) AS n_promotes,
             TRUE AS bundles_equal_full_promote,
             TRUE AS repromote_noop,
             TRUE AS files_eq_cells_all_shards,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "x139_batched_pruned_ann" -> """
      -- probe-locality batching: the 48-query batch (4 per cluster,
      -- 12 clusters) saturates the single probe union at 58 of 64
      -- cells (frac 0.9062 — the degeneracy the 200k rehearsal
      -- found, witnessed), while the batched form packs it into 6
      -- sub-batches whose unions stay within the 16-cell budget,
      -- each scan reads exactly its union's files, and the union of
      -- sub-batch results is row-equal to the unbatched search with
      -- recall 1.0 vs the exact twin; io_amplification (total opens
      -- / single union) 1.45 witnesses the batch's locality
      SELECT CAST(48 AS BIGINT) AS n_queries,
             CAST(64 AS BIGINT) AS n_cells_total,
             CAST(58 AS BIGINT) AS n_cells_unbatched,
             CAST(0.9062 AS DOUBLE) AS union_frac_unbatched,
             CAST(6 AS BIGINT) AS n_subbatches,
             CAST(16 AS BIGINT) AS max_subbatch_cells,
             TRUE AS all_within_budget,
             CAST(1.4483 AS DOUBLE) AS io_amplification,
             TRUE AS files_eq_cells_all_subbatches,
             TRUE AS batched_equals_unbatched,
             CAST(240 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "x140_estate_reshard" -> """
      -- the estate grows: 1 shard, 1980 live (2000 minus 1%
      -- deletes) at cellClamp=16 sizes to 2 shards and fires; the
      -- loop executes annReshard (re-encode from the lake, NEW
      -- routing hash, tombstones carried and physically folded,
      -- both shards landing at nlistFor(~1000)=16) and the
      -- after-poll reads quiet at 2. Zero ids misrouted under the
      -- new hash, zero forgotten ids resurfaced, content == lake
      -- minus deletes, each shard row-equal a fresh per-subset
      -- build, a fresh forget passes verifyRouting on the new
      -- estate, merged pruned search recall 1.0 vs the exact twin
      SELECT TRUE AS fired_before,
             'sized_shards_now=2 current=1 n_live=1980'
               AS reason_before,
             TRUE AS executed,
             'resharded shards=2 versions=ivfpq-nl16-m8-ks16-ci1-pi1-fp1e7'
               AS effect,
             TRUE AS quiet_after,
             'sized_shards_now=2 current=2 n_live=1980'
               AS reason_after,
             CAST(2 AS BIGINT) AS n_shards_after,
             CAST(0 AS BIGINT) AS n_misrouted,
             CAST(0 AS BIGINT) AS n_forgotten_resurfaced,
             TRUE AS content_preserved,
             TRUE AS equals_fresh_build,
             TRUE AS forget_on_new_routing_ok,
             CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall,
             TRUE AS recall_ge_094""",

    "x141_filtered_batched_ann" -> """
      -- probe-locality batching composed into the filtered router:
      -- at 48 queries x the 1/sel-widened nprobe 17 over 64 cells
      -- the unbatched route's probe union FULLY saturates (frac
      -- 1.0 — the production regime where x128's pruning reads the
      -- whole estate), while the batched route packs 13 sub-batches
      -- of <= 20 cells (same-cluster queries share probe sets),
      -- row-equal to the unbatched route with recall 1.0 vs the
      -- exact filtered twin and zero off-predicate rows;
      -- io_amplification 3.59 is honest: at widened nprobe 17 the
      -- 12 clusters' probe sets overlap heavily, so bounding each
      -- scan at 20 cells re-reads shared cells across sub-batches
      -- (the bounded-working-set trade, see the operator doc)
      SELECT 'ann_overfetch' AS route_unbatched,
             'ann_overfetch' AS route_batched,
             CAST(17 AS BIGINT) AS nprobe,
             CAST(41 AS BIGINT) AS k_prime,
             CAST(1.0 AS DOUBLE) AS union_frac_unbatched,
             CAST(13 AS BIGINT) AS n_subbatches,
             CAST(20 AS BIGINT) AS max_subbatch_cells,
             TRUE AS all_within_budget,
             CAST(3.5938 AS DOUBLE) AS io_amplification,
             TRUE AS batched_equals_unbatched,
             CAST(0 AS BIGINT) AS n_off_pred,
             CAST(240 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall_filtered,
             TRUE AS recall_ge_094""",

    "x88_ivfpq_topk" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_08
      FROM embeddings WHERE vec_id < 10""",

    "x92_ivfpq_incremental" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_08
      FROM embeddings WHERE vec_id < 10""",

    "x93_ann_difficulty" -> """
      WITH qv AS (
        SELECT vec_id, list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      d AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(sqrt(CAST(list_sum(list_transform(
                 range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])))
                 AS DOUBLE)) / 1e7, 6) AS dist
        FROM (SELECT * FROM qv WHERE vec_id < 10) q
        JOIN qv c ON q.vec_id <> c.vec_id),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY dist ASC, neighbor_id ASC) AS rk
        FROM d),
      m AS (
        SELECT query_id, COUNT(*) AS n_corpus,
               round(CAST(SUM(CAST(dist AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_dist,
               round(CAST(SUM(CASE WHEN rk <= 5
                   THEN CAST(dist AS DECIMAL(28,6)) END) AS DOUBLE)
                 / LEAST(5, COUNT(*)), 4) AS mean_nn_dist
        FROM r GROUP BY query_id)
      SELECT query_id, n_corpus, mean_dist, mean_nn_dist,
             CASE WHEN mean_nn_dist > 0
               THEN round(mean_dist / mean_nn_dist, 4) END AS rc,
             CASE WHEN mean_nn_dist > 0
               THEN round(mean_dist / mean_nn_dist, 4) >= 2.0
               ELSE FALSE END AS ivf_prunable
      FROM m ORDER BY query_id""",

    "x88b_ivfpq_exact" -> fixedPointBruteOracle,

    "x54_random_projection" -> """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS cos_err_le_025
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
      JOIN embeddings c ON q.vec_id <> c.vec_id""",

    "x55_bm25_search" -> """
      WITH tokens AS (
        SELECT doc_id AS id,
               UNNEST(regexp_extract_all(lower(text), '\S+')) AS term
        FROM documents),
      dl AS (SELECT id, COUNT(*) AS dl FROM tokens GROUP BY id),
      ad AS (SELECT AVG(dl) AS avgdl FROM dl),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      qtf AS (SELECT id, term, COUNT(*) AS tf FROM tokens
              WHERE term IN ('hash', 'vector', 'spark')
              GROUP BY id, term),
      qdf AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term)
      SELECT id,
             round(SUM(idf * tf * 2.2 /
               (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25,
             COUNT(*) AS n_terms_matched
      FROM (SELECT q.id, q.tf, d.df, l.dl, a.avgdl,
                   ln(1 + (n.n - d.df + 0.5) / (d.df + 0.5)) AS idf
            FROM qtf q JOIN qdf d USING (term) JOIN dl l USING (id)
            CROSS JOIN ad a CROSS JOIN nn n)
      GROUP BY id ORDER BY bm25 DESC, id ASC LIMIT 10""",

    "x56_sorted_neighborhood" -> """
      WITH s AS (SELECT p_partkey AS id, p_name AS k,
                        substring(p_name, 1, 1) AS blk FROM part),
      l AS (SELECT id, k,
              lead(id, 1) OVER w AS n1id, lead(k, 1) OVER w AS n1k,
              lead(id, 2) OVER w AS n2id, lead(k, 2) OVER w AS n2k
            FROM s WINDOW w AS (PARTITION BY blk ORDER BY k, id)),
      pairs AS (
        SELECT id AS id_a, n1id AS id_b, levenshtein(k, n1k) AS dist
        FROM l WHERE n1id IS NOT NULL
        UNION ALL
        SELECT id, n2id, levenshtein(k, n2k)
        FROM l WHERE n2id IS NOT NULL)
      SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM pairs
      WHERE dist <= 4 ORDER BY id_a, id_b""",

    "x57_winnowing_pairs" -> """
      WITH tk AS (
        SELECT doc_id AS id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS t
        FROM documents),
      g AS (
        SELECT id, greatest(len(t) - 2, 1) AS ng,
               UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS pos, t
        FROM tk),
      h AS (
        SELECT id, ng, pos,
               CAST(('0x' || substring(md5(array_to_string(
                 t[pos:pos+2], ' ')), 1, 15)) AS BIGINT) AS h
        FROM g),
      wm AS (
        SELECT id, ng, pos,
               min(h) OVER (PARTITION BY id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM h),
      fps AS (SELECT DISTINCT id, fp FROM wm
              WHERE pos <= greatest(ng - 3, 1)),
      cnt AS (SELECT id, COUNT(*) AS nfp FROM fps GROUP BY id),
      rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 100),
      posts AS (SELECT f.id, f.fp FROM fps f JOIN rare USING (fp)),
      pr AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared
        FROM posts a JOIN posts b ON a.fp = b.fp AND a.id < b.id
        GROUP BY a.id, b.id)
      SELECT id_a, id_b, shared,
             round(CAST(shared AS DOUBLE) / least(ca.nfp, cb.nfp), 4)
               AS overlap
      FROM pr JOIN cnt ca ON ca.id = pr.id_a
              JOIN cnt cb ON cb.id = pr.id_b
      WHERE CAST(shared AS DOUBLE) / least(ca.nfp, cb.nfp) >= 0.5
      ORDER BY id_a, id_b""",

    "x62_integrity_report" -> """
      SELECT 'check_l_quantity_pos' AS check_name, 'lineitem' AS table_name,
             (SELECT COUNT(*) FROM lineitem
              WHERE NOT COALESCE(l_quantity > 0.0, FALSE)) AS n_violations
      UNION ALL
      SELECT 'check_price_cap_300k', 'orders',
             (SELECT COUNT(*) FROM orders
              WHERE NOT COALESCE(o_totalprice <= 300000.0, FALSE))
      UNION ALL
      SELECT 'fk_customer_nation', 'customer',
             (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL
              AND c_nationkey NOT IN (SELECT n_nationkey FROM nation))
      UNION ALL
      SELECT 'fk_lineitem_orders', 'lineitem',
             (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
      UNION ALL
      SELECT 'fk_orders_customer', 'orders',
             (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
      UNION ALL
      SELECT 'fk_supplier_nation', 'supplier',
             (SELECT COUNT(*) FROM supplier WHERE s_nationkey IS NOT NULL
              AND s_nationkey NOT IN (SELECT n_nationkey FROM nation))
      UNION ALL
      SELECT 'notnull_o_orderdate', 'orders',
             (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
      UNION ALL
      SELECT 'pk_dup_orders', 'orders',
             (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING COUNT(*) > 1))
      UNION ALL
      SELECT 'pk_dup_part', 'part',
             (SELECT COUNT(*) FROM (SELECT p_partkey FROM part
              GROUP BY p_partkey HAVING COUNT(*) > 1))
      ORDER BY check_name""",

    "x68_kfold_split" -> """
      WITH sp AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 AS cluster_fp,
               CAST(('0x' || substring(md5(md5(regexp_replace(
                 trim(lower(text)), '\s+', ' ', 'g'))), 1, 8))
                 AS BIGINT) % 5 AS fold
        FROM documents),
      leak AS (
        SELECT MAX(nf) AS max_folds_per_cluster FROM (
          SELECT cluster_fp, COUNT(DISTINCT fold) AS nf
          FROM sp GROUP BY cluster_fp))
      SELECT fold, COUNT(*) AS n_docs,
             COUNT(DISTINCT cluster_fp) AS n_clusters,
             max_folds_per_cluster
      FROM sp CROSS JOIN leak
      GROUP BY fold, max_folds_per_cluster ORDER BY fold""",

    "x67_balanced_shards" -> """
      WITH d AS (
        SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_toks
        FROM documents),
      r AS (
        SELECT doc_id, n_toks,
               row_number() OVER (ORDER BY -n_toks, doc_id) - 1 AS rn
        FROM d)
      SELECT rn % 8 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS shard_tokens
      FROM r GROUP BY shard ORDER BY shard""",

    "x66_dedup_pr_eval" -> """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      pred AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS t
              FROM documents)),
      truth AS (
        SELECT id_a, id_b FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.s, b.s))) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE jaccard >= 0.5),
      j AS (
        SELECT p.id_a AS pa, t.id_a AS ta
        FROM pred p FULL OUTER JOIN truth t
          ON p.id_a = t.id_a AND p.id_b = t.id_b)
      SELECT CAST(COUNT(pa) AS BIGINT) AS n_pred,
             CAST(COUNT(ta) AS BIGINT) AS n_truth,
             CAST(SUM(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             round(CAST(SUM(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL
               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(pa), 4) AS precision,
             round(CAST(SUM(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL
               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(ta), 4) AS recall
      FROM j""",

    "x65_cross_source_leakage" -> """
      WITH tk AS (
        SELECT source,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS t
        FROM documents),
      posts AS (
        SELECT DISTINCT source,
               CAST(('0x' || substring(md5(array_to_string(
                 t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS g
        FROM tk, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
      sz AS (SELECT source, COUNT(*) AS ng FROM posts GROUP BY source),
      pr AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared_grams
        FROM posts a JOIN posts b
          ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT source_a, source_b, shared_grams,
             round(CAST(shared_grams AS DOUBLE) /
               least(sa.ng, sb.ng), 4) AS leak_share
      FROM pr JOIN sz sa ON sa.source = pr.source_a
              JOIN sz sb ON sb.source = pr.source_b
      ORDER BY source_a, source_b""",

    "x64_dedup_token_savings" -> """
      WITH d AS (
        SELECT doc_id, source,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 AS fp,
               len(regexp_extract_all(text, '\S+')) AS n_toks
        FROM documents),
      f AS (
        SELECT source, n_toks,
               doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS removed
        FROM d)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed_docs,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN removed THEN n_toks ELSE 0 END) AS BIGINT)
               AS removed_tokens,
             round(CAST(SUM(CASE WHEN removed THEN n_toks ELSE 0 END)
               AS DOUBLE) / SUM(n_toks) * 100.0, 2) AS savings_pct
      FROM f GROUP BY source ORDER BY source""",

    "x87_lsh_plan" -> """
      WITH th(threshold) AS (
        SELECT CAST(t AS DOUBLE)
        FROM (VALUES (0.5),(0.6),(0.7),(0.8),(0.9)) AS v(t)),
      pairs AS (
        SELECT threshold, CAST(32 // r AS INT) AS bands,
               CAST(r AS INT) AS rows_per_band,
               1.0 - POWER(1.0 - POWER(threshold, r), 32 // r) AS rec
        FROM th CROSS JOIN (VALUES (1),(2),(4),(8),(16),(32)) AS d(r)),
      pick AS (
        -- recall-first selection: among divisor pairs clearing 0.95
        -- recall take the largest rows_per_band (sharpest curve);
        -- if none clears, fall back to rows_per_band = 1
        SELECT *, row_number() OVER (PARTITION BY threshold
          ORDER BY (rec >= 0.95) DESC,
                   CASE WHEN rec >= 0.95 THEN rows_per_band
                        ELSE -rows_per_band END DESC) AS rn
        FROM pairs)
      SELECT threshold, bands, rows_per_band,
             round(rec, 4) AS recall_at_t,
             round(1.0 - POWER(1.0 -
               POWER(threshold - 0.2, rows_per_band), bands), 4)
               AS p_below,
             rec >= 0.95 OR rows_per_band = 1 AS recall_ok
      FROM pick WHERE rn = 1 ORDER BY threshold""",

    "x63_threshold_sweep" -> """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      pr AS (
        SELECT round(jaccard, 4) AS jaccard FROM (
          SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.s, b.s))) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE jaccard >= 0.3),
      bk AS (
        SELECT floor(jaccard * 20.0) / 20.0 AS bucket,
               COUNT(*) AS n_pairs
        FROM pr GROUP BY 1)
      SELECT bucket, n_pairs,
             CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_pairs_ge
      FROM bk ORDER BY bucket DESC""",

    "x79_ccnet_buckets" -> """
      WITH tokens AS (
        SELECT doc_id AS id,
               UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      vocab AS (SELECT tok, COUNT(*) AS cnt FROM tokens GROUP BY tok),
      tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vsize FROM vocab),
      logp AS (SELECT tok, ln((cnt + 1.0) / (total + vsize)) AS logp
               FROM vocab CROSS JOIN tot),
      scored AS (
        SELECT id, COUNT(*) AS n_toks, round(AVG(logp), 4) AS avg_logp
        FROM tokens JOIN logp USING (tok) GROUP BY id),
      b AS (SELECT *, ntile(3) OVER (ORDER BY avg_logp DESC, id) AS nb
            FROM scored)
      SELECT CASE nb WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
             COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(avg_logp AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*), 4) AS mean_logp
      FROM b GROUP BY 1 ORDER BY bucket""",

    "x91_gopher_rules" -> """
      WITH d AS (
        SELECT doc_id AS id, text,
               list_filter(regexp_extract_all(lower(text), '\S+'),
                 x -> len(x) > 0) AS w,
               list_filter(list_transform(string_split(text, chr(10)),
                 l -> trim(l)), l -> len(l) > 0) AS lines
        FROM documents),
      m AS (
        SELECT id, len(w) AS nw, len(lines) AS nl,
               CAST(length(regexp_replace(text, '\s+', '', 'g'))
                 AS DOUBLE) AS nonws,
               length(text) - length(replace(text, '#', '')) AS nhash,
               (length(text) -
                 length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
                 AS nell,
               len(list_filter(lines,
                 l -> regexp_matches(l, '^[-*•]'))) AS nbullet,
               len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)$'))) AS nellline,
               len(list_filter(w,
                 x -> regexp_matches(x, '[a-z]'))) AS nalpha,
               len(list_filter(['the','be','to','of','and','that',
                 'have','with'], s -> list_contains(w, s))) AS stophits
        FROM d)
      SELECT id, CAST(nw AS INT) AS n_words,
             nw >= 50 AND nw <= 100000 AS r1_wordcount,
             nw > 0 AND nonws / nw >= 3.0 AND nonws / nw <= 10.0
               AS r2_wordlen,
             nw > 0 AND (nhash + nell) / nw <= 0.1 AS r3_symbols,
             nl = 0 OR CAST(nbullet AS DOUBLE) / nl < 0.9 AS r4_bullets,
             nl = 0 OR CAST(nellline AS DOUBLE) / nl < 0.3
               AS r5_ellipsis,
             nw > 0 AND CAST(nalpha AS DOUBLE) / nw >= 0.8 AS r6_alpha,
             stophits >= 2 AS r7_stopwords,
             (nw >= 50 AND nw <= 100000) AND
             (nw > 0 AND nonws / nw >= 3.0 AND nonws / nw <= 10.0) AND
             (nw > 0 AND (nhash + nell) / nw <= 0.1) AND
             (nl = 0 OR CAST(nbullet AS DOUBLE) / nl < 0.9) AND
             (nl = 0 OR CAST(nellline AS DOUBLE) / nl < 0.3) AND
             (nw > 0 AND CAST(nalpha AS DOUBLE) / nw >= 0.8) AND
             stophits >= 2 AS pass
      FROM m ORDER BY id""",

    "x91b_gopher_audit" -> """
      WITH d AS (
        SELECT doc_id AS id, text,
               list_filter(regexp_extract_all(lower(text), '\S+'),
                 x -> len(x) > 0) AS w,
               list_filter(list_transform(string_split(text, chr(10)),
                 l -> trim(l)), l -> len(l) > 0) AS lines
        FROM documents),
      m AS (
        SELECT id, len(w) AS nw, len(lines) AS nl,
               CAST(length(regexp_replace(text, '\s+', '', 'g'))
                 AS DOUBLE) AS nonws,
               length(text) - length(replace(text, '#', '')) AS nhash,
               (length(text) -
                 length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
                 AS nell,
               len(list_filter(lines,
                 l -> regexp_matches(l, '^[-*•]'))) AS nbullet,
               len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)$'))) AS nellline,
               len(list_filter(w,
                 x -> regexp_matches(x, '[a-z]'))) AS nalpha,
               len(list_filter(['the','be','to','of','and','that',
                 'have','with'], s -> list_contains(w, s))) AS stophits
        FROM d),
      f AS (
        SELECT nw >= 50 AND nw <= 100000 AS r1_wordcount,
               nw > 0 AND nonws / nw >= 3.0 AND nonws / nw <= 10.0
                 AS r2_wordlen,
               nw > 0 AND (nhash + nell) / nw <= 0.1 AS r3_symbols,
               nl = 0 OR CAST(nbullet AS DOUBLE) / nl < 0.9
                 AS r4_bullets,
               nl = 0 OR CAST(nellline AS DOUBLE) / nl < 0.3
                 AS r5_ellipsis,
               nw > 0 AND CAST(nalpha AS DOUBLE) / nw >= 0.8 AS r6_alpha,
               stophits >= 2 AS r7_stopwords
        FROM m),
      g AS (
        SELECT *, r1_wordcount AND r2_wordlen AND r3_symbols AND
               r4_bullets AND r5_ellipsis AND r6_alpha AND r7_stopwords
               AS pass
        FROM f),
      u AS (
        SELECT 'r1_wordcount' AS rule, r1_wordcount AS hit FROM g
        UNION ALL SELECT 'r2_wordlen', r2_wordlen FROM g
        UNION ALL SELECT 'r3_symbols', r3_symbols FROM g
        UNION ALL SELECT 'r4_bullets', r4_bullets FROM g
        UNION ALL SELECT 'r5_ellipsis', r5_ellipsis FROM g
        UNION ALL SELECT 'r6_alpha', r6_alpha FROM g
        UNION ALL SELECT 'r7_stopwords', r7_stopwords FROM g
        UNION ALL SELECT 'pass', pass FROM g)
      SELECT rule, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
             round(CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*), 4) AS pass_frac
      FROM u GROUP BY rule ORDER BY rule""",

    "x94_dsir_selection" -> dsirSelectionOracle,
    "st18_stream_dsir" -> dsirSelectionOracle,

    "x97_quality_classifier" -> x97OracleStr,
    "st19_stream_score" -> x97OracleStr,
    "x98_calibration_audit" -> x98OracleStr,
    // the ledger-fed consumers score against standing state that the
    // fixed-point discipline makes bit-identical to a fresh retrain,
    // so they share the self-contained twins' oracles VERBATIM — a
    // ledger/retrain divergence shows up as a hash mismatch here
    // (and as a Round14Spec failure before that)
    "x97b_ledger_score" -> x97OracleStr,
    "x98b_ledger_audit" -> x98OracleStr,

    "x100_tokenid_export" -> """
      WITH toks AS (
        SELECT doc_id AS id,
               regexp_extract_all(lower(text), '\S+') AS t
        FROM documents),
      flat AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM toks),
      types AS (SELECT tok, COUNT(*) AS n FROM flat GROUP BY tok),
      vocab AS (
        SELECT tok, rn - 1 AS tid FROM (
          SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC)
                 AS rn
          FROM types)
        WHERE rn <= 24),
      enc AS (
        SELECT f.id, f.pos, COALESCE(v.tid, 24) AS tid
        FROM flat f LEFT JOIN vocab v USING (tok)),
      pane AS (
        SELECT id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN tid = 24 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_oov,
               CAST(SUM(pos * (tid + 1)) AS BIGINT) AS ids_fp
        FROM enc GROUP BY id)
      SELECT d.doc_id AS id,
             CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
             CAST(COALESCE(p.ids_fp, 0) AS BIGINT) AS ids_fp
      FROM documents d LEFT JOIN pane p ON d.doc_id = p.id
      ORDER BY id""",

    "x115_vocab_roundtrip" -> """
      -- x100's encoding chain + the decode tail: reassemble the id
      -- stream through the inverse vocab (OOV id 24 -> '<unk>') and
      -- hash it; roundtrip_ok asserts 0-OOV docs decode EXACTLY to
      -- the normalized source token stream
      WITH toks AS (
        SELECT doc_id AS id,
               regexp_extract_all(lower(text), '\S+') AS t
        FROM documents),
      flat AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM toks),
      types AS (SELECT tok, COUNT(*) AS n FROM flat GROUP BY tok),
      vocab AS (
        SELECT tok, rn - 1 AS tid FROM (
          SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC)
                 AS rn
          FROM types)
        WHERE rn <= 24),
      enc AS (
        SELECT f.id, f.pos, COALESCE(v.tid, 24) AS tid
        FROM flat f LEFT JOIN vocab v USING (tok)),
      dec AS (
        SELECT e.id,
               string_agg(COALESCE(v.tok, '<unk>'), ' '
                 ORDER BY e.pos) AS decoded
        FROM enc e LEFT JOIN vocab v USING (tid)
        GROUP BY e.id),
      pane AS (
        SELECT id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN tid = 24 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_oov
        FROM enc GROUP BY id),
      normt AS (
        SELECT doc_id AS id,
               array_to_string(regexp_extract_all(lower(text), '\S+'),
                 ' ') AS norm
        FROM documents)
      SELECT n.id,
             CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
             md5(COALESCE(d.decoded, '')) AS decoded_md5,
             (COALESCE(p.n_oov, 0) > 0 OR
              COALESCE(d.decoded, '') = n.norm) AS roundtrip_ok
      FROM normt n LEFT JOIN dec d USING (id) LEFT JOIN pane p USING (id)
      ORDER BY id""",
    "e2e_select_corpus" -> x97Oracle(iters = Learn.qualityIters,
      lr = Learn.qualityLr.toString, e2eSelectTail),
    // ledger-fed capstone scores against the standing model, which
    // the fixed-point discipline makes bit-identical to the inline
    // retrain (Round14Spec) — oracle shared verbatim
    "e2e_select_corpus_b" -> x97Oracle(iters = Learn.qualityIters,
      lr = Learn.qualityLr.toString, e2eSelectTail),
    "x101_bpe_train" -> (x101Chain(merges = 12) +
      x101MergeTail(merges = 12)),
    "st21_stream_bpe" -> (x101Chain(merges = 12) +
      x101MergeTail(merges = 12)),
    "x104_bpe_encode" -> (x101Chain(merges = 12) +
      x104EncodeTail(merges = 12)),
    // ledger-fed encode applies a standing merge table that the
    // deterministic argmax makes identical to a fresh train's, so it
    // shares x104's oracle verbatim (the x97b discipline)
    "x104b_ledger_encode" -> (x101Chain(merges = 12) +
      x104EncodeTail(merges = 12)),
    "x106_tokenizer_drift" -> (x101Chain(merges = 12,
      wfWhere = "WHERE lang = 'en'") +
      x106DriftTail(merges = 12, th = "1.05")),
    "x102_pca_power" -> x102Oracle(iters = 8, dims = 64),
    "x103_embed_abtt" -> x103Oracle(iters = 8, dims = 64),
    "x105_gram_pca" -> x105OracleStr,
    "st20_stream_pca" -> x105OracleStr,
    "x107_pca_deflate" -> x107Oracle(iters = 8, dims = 64),
    "e2e_embed_pipeline" -> (x102Chain(iters = 8, dims = 64,
      prefix = e2eCanaryChain) + residPrefix(iters = 8) +
      e2eEmbedTail),

    "x109_salt_advisor" -> """
      WITH tot AS (
        SELECT COUNT(*) AS total_rows,
               COUNT(DISTINCT event_type) AS distinct_keys
        FROM events),
      mk AS (
        SELECT CAST(event_type AS VARCHAR) AS max_key,
               COUNT(*) AS max_rows
        FROM events GROUP BY event_type
        ORDER BY COUNT(*) DESC, event_type ASC LIMIT 1)
      SELECT 'event_type' AS key_col, total_rows, distinct_keys,
             max_key, max_rows,
             floor(CAST(max_rows AS DOUBLE) / total_rows * 10000.0)
               / 10000.0 AS max_share,
             GREATEST(1, LEAST(32,
               CAST(floor((CAST(max_rows AS DOUBLE) * 32.0
                 + total_rows - 1.0) / total_rows) AS BIGINT)))
               AS rec_salt
      FROM tot CROSS JOIN mk""",

    "x108_partition_advisor" -> """
      WITH adv AS (
        -- COALESCE mirrors Layout.rowBytes exactly: a NULL string or
        -- array prices as 0 bytes, and an empty table sums to 0, so
        -- the oracle agrees with the engine on any data, not just
        -- the null-free driver parquet.
        SELECT 'documents' AS tbl, COUNT(*) AS n_rows,
               COALESCE(SUM(16 + COALESCE(length(text), 0)
                 + COALESCE(length(lang), 0)
                 + COALESCE(length(source), 0)), 0) AS b
        FROM documents
        UNION ALL
        SELECT 'embeddings', COUNT(*),
               COALESCE(SUM(12
                 + COALESCE(4 * len(embedding), 0)), 0)
        FROM embeddings
        UNION ALL
        SELECT 'lineitem', COUNT(*),
               COALESCE(SUM(68 + COALESCE(length(l_returnflag), 0)
                 + COALESCE(length(l_linestatus), 0)), 0)
        FROM lineitem
        UNION ALL
        SELECT 'orders', COUNT(*),
               COALESCE(SUM(32 + COALESCE(length(o_orderstatus), 0)
                 + COALESCE(length(o_orderpriority), 0)), 0)
        FROM orders)
      SELECT tbl, n_rows,
             CAST(floor(CAST(b AS DOUBLE) / 1048576.0) AS BIGINT)
               AS est_total_mb,
             GREATEST(1, CAST(floor((CAST(b AS DOUBLE) + 134217727.0)
               / 134217728.0) AS BIGINT)) AS rec_shuffle_partitions,
             LEAST(GREATEST(1, CAST(floor((CAST(b AS DOUBLE)
                 + 536870911.0) / 536870912.0) AS BIGINT)),
               GREATEST(1, n_rows)) AS rec_write_files
      FROM adv ORDER BY tbl""",

    "x108b_advised_write" -> """
      -- realized_files is computed from the SAME arithmetic as
      -- rec_write_files: the oracle thereby ASSERTS the engine's
      -- written file count followed the recommendation (a divergence
      -- hash-mismatches), and followed/rows_intact must come back true
      WITH adv AS (
        SELECT 'documents' AS tbl, COUNT(*) AS n_rows,
               COALESCE(SUM(16 + COALESCE(length(text), 0)
                 + COALESCE(length(lang), 0)
                 + COALESCE(length(source), 0)), 0) AS b
        FROM documents)
      SELECT tbl, n_rows,
             CAST(floor(CAST(b AS DOUBLE) / 1048576.0) AS BIGINT)
               AS est_total_mb,
             LEAST(GREATEST(1, CAST(floor((CAST(b AS DOUBLE) + 65535.0)
                 / 65536.0) AS BIGINT)),
               GREATEST(1, n_rows)) AS rec_write_files,
             LEAST(GREATEST(1, CAST(floor((CAST(b AS DOUBLE) + 65535.0)
                 / 65536.0) AS BIGINT)),
               GREATEST(1, n_rows)) AS realized_files,
             TRUE AS followed, TRUE AS rows_intact
      FROM adv""",

    "x110_domain_reweight" -> """
      WITH base AS (SELECT doc_id, lang, text FROM documents),
      aug AS (
        SELECT doc_id, lang, text FROM base
        UNION ALL
        SELECT doc_id + 1000000, 'zz_sorted',
               array_to_string(list_sort(
                 regexp_extract_all(lower(text), '\S+')), ' ')
        FROM base WHERE doc_id % 17 = 0),
      toks AS (
        SELECT doc_id AS id, lang AS domain,
               regexp_extract_all(lower(text), '\S+') AS t
        FROM aug),
      tokens AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM toks),
      bigrams AS (
        SELECT id, w1, w2 FROM (
          SELECT id, tok AS w1,
                 lead(tok) OVER (PARTITION BY id ORDER BY pos) AS w2
          FROM tokens)
        WHERE w2 IS NOT NULL),
      uni AS (SELECT tok AS w1, COUNT(*) AS c1 FROM tokens GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS v FROM tokens),
      bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
      logp AS (
        SELECT w1, w2, ln((c12 + 1.0) / (c1 + v)) AS logp
        FROM bi JOIN uni USING (w1) CROSS JOIN v),
      perdoc AS (
        SELECT id, round(AVG(logp), 4) AS avg_logp2
        FROM bigrams JOIN logp USING (w1, w2) GROUP BY id),
      dom AS (
        SELECT t.domain, COUNT(*) AS n_docs,
               round(-CAST(SUM(CAST(p.avg_logp2 AS DECIMAL(18,4)))
                 AS DOUBLE) / COUNT(*), 4) AS mean_nll
        FROM perdoc p JOIN toks t ON p.id = t.id GROUP BY 1),
      tk AS (
        SELECT domain, CAST(SUM(len(t)) AS BIGINT) AS corpus_tokens
        FROM toks GROUP BY 1),
      ref AS (
        SELECT CAST(SUM(CAST(mean_nll AS DECIMAL(18,4)) * n_docs)
                 AS DOUBLE) / SUM(n_docs) AS ref_nll
        FROM dom),
      pane AS (
        SELECT d.domain, d.n_docs, tk.corpus_tokens, d.mean_nll,
               GREATEST(0.0, d.mean_nll - ref_nll) AS ex
        FROM dom d JOIN tk USING (domain) CROSS JOIN ref),
      wpane AS (
        SELECT domain, n_docs, corpus_tokens, mean_nll,
               round(ex, 4) AS excess,
               round(0.8 * exp(5.0 * ex)
                   / SUM(exp(5.0 * ex)) OVER ()
                 + 0.2 / COUNT(*) OVER (), 4) AS weight
        FROM pane)
      SELECT domain, n_docs, corpus_tokens, mean_nll, excess, weight,
             CAST(floor(1000000.0 * weight + 0.5) AS BIGINT)
               AS target_tokens
      FROM wpane ORDER BY domain""",

    "x111_boilerplate_strip" -> x111OracleStr,
    // st22 shares x111's oracle VERBATIM: the ledger's per-batch
    // distinct counts are additive, so blacklist and strip output
    // equal the batch form exactly for any stream split
    "st22_stream_boilerplate" -> x111OracleStr,

    "x114_pii_scrub" -> """
      -- the oracle replays the SAME canary injection and the SAME
      -- progressive redaction order (emails -> ips -> phones ->
      -- long digit runs, each counting on the previous step's
      -- output); patterns live in the RE2 (here) / Java-regex
      -- (engine) dialect intersection so both execute identically
      WITH aug AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 0 THEN text ||
                      ' contact jane.doe@example.com or 10.20.30.40' ||
                      ' call 555-123-4567 card 4111111111111111'
                    WHEN doc_id % 7 = 3 THEN text ||
                      ' mail bob@corp.io from 192.168.0.1'
                    ELSE text END AS text
        FROM documents),
      s1 AS (SELECT source,
               len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 AS n_emails,
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t
             FROM aug),
      s2 AS (SELECT source, n_emails,
               len(regexp_extract_all(t,
                 '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
               regexp_replace(t, '\b(\d{1,3}\.){3}\d{1,3}\b',
                 '<IP>', 'g') AS t
             FROM s1),
      s3 AS (SELECT source, n_emails, n_ips,
               len(regexp_extract_all(t,
                 '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b')) AS n_phones,
               regexp_replace(t, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b',
                 '<PHONE>', 'g') AS t
             FROM s2),
      s4 AS (SELECT source, n_emails, n_ips, n_phones,
               len(regexp_extract_all(t, '\b\d{13,19}\b'))
                 AS n_longnums,
               regexp_replace(t, '\b\d{13,19}\b', '<NUM>', 'g') AS t
             FROM s3)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_emails) AS BIGINT) AS emails,
             CAST(SUM(n_ips) AS BIGINT) AS ips,
             CAST(SUM(n_phones) AS BIGINT) AS phones,
             CAST(SUM(n_longnums) AS BIGINT) AS longnums,
             CAST(SUM(CASE WHEN n_emails + n_ips + n_phones
               + n_longnums > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_redacted,
             CAST(SUM(length(t)) AS BIGINT) AS clean_chars
      FROM s4 GROUP BY source ORDER BY source""",

    "j21_join_auto" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
             'broadcast' AS route
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "x99_hard_negatives" -> """
      WITH tokens AS (
        SELECT doc_id AS id,
               UNNEST(regexp_extract_all(lower(text), '\S+')) AS term
        FROM documents),
      dl AS (SELECT id, COUNT(*) AS dl FROM tokens GROUP BY id),
      ad AS (SELECT AVG(dl) AS avgdl FROM dl),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      tf AS (SELECT id, term, COUNT(*) AS tf FROM tokens
             GROUP BY id, term),
      qterms AS (
        SELECT query_id, term FROM (
          SELECT doc_id AS query_id,
                 UNNEST(regexp_extract_all(lower(text), '\S+')) AS term
          FROM documents WHERE doc_id < 20)
        GROUP BY query_id, term),
      qdf AS (SELECT term, COUNT(*) AS df FROM tf
              WHERE term IN (SELECT term FROM qterms) GROUP BY term),
      scored AS (
        SELECT q.query_id, t.id,
               SUM(CAST(round(
                 ln(1 + (n.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * 2.2 /
                   (t.tf + 1.2 * (0.25 + 0.75 * l.dl / a.avgdl)), 6)
                 AS DECIMAL(28,6))) AS bm25d
        FROM tf t JOIN qterms q USING (term) JOIN qdf d USING (term)
        JOIN dl l ON l.id = t.id CROSS JOIN ad a CROSS JOIN nn n
        WHERE t.id <> q.query_id
        GROUP BY q.query_id, t.id),
      sparse AS (
        SELECT query_id, id AS doc_id,
               round(CAST(bm25d AS DOUBLE), 4) AS bm25,
               rn AS sparse_rank FROM (
          SELECT query_id, id, bm25d,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY bm25d DESC, id ASC) AS rn
          FROM scored) WHERE rn <= 10),
      dcos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))))
                 AS cs
        FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
        JOIN embeddings c ON q.vec_id <> c.vec_id),
      dense AS (
        SELECT query_id, doc_id, cs, rn FROM (
          SELECT query_id, doc_id, cs, row_number() OVER (
                   PARTITION BY query_id ORDER BY cs DESC, doc_id ASC)
                 AS rn
          FROM dcos) WHERE rn <= 10),
      pos AS (SELECT query_id, doc_id AS pos_id,
                     round(cs, 4) AS pos_sim
              FROM dense WHERE rn = 1),
      negcand AS (
        SELECT s.* FROM sparse s
        WHERE NOT EXISTS (SELECT 1 FROM dense d
          WHERE d.query_id = s.query_id AND d.doc_id = s.doc_id)),
      neg AS (
        SELECT query_id, doc_id AS hardneg_id, bm25 AS hardneg_bm25,
               sparse_rank AS hardneg_sparse_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY sparse_rank ASC) AS nrn
          FROM negcand) WHERE nrn = 1)
      SELECT p.query_id, p.pos_id, p.pos_sim, n.hardneg_id,
             n.hardneg_bm25, n.hardneg_sparse_rank
      FROM pos p LEFT JOIN neg n USING (query_id)
      ORDER BY p.query_id""",

    "x95_hybrid_rrf" -> """
      WITH tokens AS (
        SELECT doc_id AS id,
               UNNEST(regexp_extract_all(lower(text), '\S+')) AS term
        FROM documents),
      dl AS (SELECT id, COUNT(*) AS dl FROM tokens GROUP BY id),
      ad AS (SELECT AVG(dl) AS avgdl FROM dl),
      nn AS (SELECT COUNT(*) AS n FROM documents),
      tf AS (SELECT id, term, COUNT(*) AS tf FROM tokens
             GROUP BY id, term),
      qterms AS (
        SELECT query_id, term FROM (
          SELECT doc_id AS query_id,
                 UNNEST(regexp_extract_all(lower(text), '\S+')) AS term
          FROM documents WHERE doc_id < 5)
        GROUP BY query_id, term),
      qdf AS (SELECT term, COUNT(*) AS df FROM tf
              WHERE term IN (SELECT term FROM qterms) GROUP BY term),
      scored AS (
        SELECT q.query_id, t.id,
               SUM(CAST(round(
                 ln(1 + (n.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * 2.2 /
                   (t.tf + 1.2 * (0.25 + 0.75 * l.dl / a.avgdl)), 6)
                 AS DECIMAL(28,6))) AS bm25d
        FROM tf t JOIN qterms q USING (term) JOIN qdf d USING (term)
        JOIN dl l ON l.id = t.id CROSS JOIN ad a CROSS JOIN nn n
        WHERE t.id <> q.query_id
        GROUP BY q.query_id, t.id),
      sparse AS (
        SELECT query_id, id AS doc_id, rn AS rank_sparse FROM (
          SELECT query_id, id, row_number() OVER (PARTITION BY query_id
                   ORDER BY bm25d DESC, id ASC) AS rn
          FROM scored) WHERE rn <= 20),
      dcos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))))
                 AS cs
        FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
        JOIN embeddings c ON q.vec_id <> c.vec_id),
      dense AS (
        SELECT query_id, doc_id, rn AS rank_dense FROM (
          SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY cs DESC, doc_id ASC)
                 AS rn
          FROM dcos) WHERE rn <= 20),
      fused AS (
        SELECT query_id, doc_id, rank_sparse, rank_dense,
               COALESCE(1.0 / (60 + rank_sparse), 0)
                 + COALESCE(1.0 / (60 + rank_dense), 0) AS rrf
        FROM sparse FULL OUTER JOIN dense USING (query_id, doc_id))
      SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf,
             COALESCE(rank_sparse, 0) AS rank_sparse,
             COALESCE(rank_dense, 0) AS rank_dense
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rrf DESC, doc_id ASC) AS rank FROM fused)
      WHERE rank <= 10 ORDER BY query_id, rank""",

    "x96_bitext_margin" -> """
      WITH v AS (
        SELECT d.doc_id AS id, d.lang,
               CAST(e.embedding AS DOUBLE[]) AS emb
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      p AS (
        SELECT a.id AS a_id, b.id AS b_id,
               round(list_dot_product(a.emb, b.emb) /
                 (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos4
        FROM (SELECT * FROM v WHERE lang = 'en') a
        JOIN (SELECT * FROM v WHERE lang <> 'en') b ON a.id <> b.id),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY a_id
                 ORDER BY cos4 DESC, b_id ASC) AS ra,
               row_number() OVER (PARTITION BY b_id
                 ORDER BY cos4 DESC, a_id ASC) AS rb
        FROM p),
      da AS (SELECT a_id, SUM(CAST(cos4 AS DECIMAL(18,4))) AS sa,
                    COUNT(*) AS na
             FROM r WHERE ra <= 4 GROUP BY a_id),
      db AS (SELECT b_id, SUM(CAST(cos4 AS DECIMAL(18,4))) AS sb,
                    COUNT(*) AS nb
             FROM r WHERE rb <= 4 GROUP BY b_id),
      bb AS (SELECT b_id, a_id AS b_top1_a FROM r WHERE rb = 1)
      SELECT a_id, b_id, cos4 AS cos_sim,
             round(cos4 / ((CAST(sa AS DOUBLE) / na
               + CAST(sb AS DOUBLE) / nb) / 2.0), 4) AS margin,
             (b_top1_a = a_id) AS mutual,
             (b_top1_a = a_id)
               AND (cos4 / ((CAST(sa AS DOUBLE) / na
                 + CAST(sb AS DOUBLE) / nb) / 2.0) > 1.05)
               AS accepted
      FROM (SELECT * FROM r WHERE ra = 1) c
      JOIN da USING (a_id) JOIN db USING (b_id) JOIN bb USING (b_id)
      ORDER BY a_id""",

    "x90_bigram_logprob" -> """
      WITH toks AS (
        SELECT doc_id AS id, regexp_extract_all(lower(text), '\S+') AS t
        FROM documents),
      tokens AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM toks),
      bigrams AS (
        SELECT id, w1, w2 FROM (
          SELECT id, tok AS w1,
                 lead(tok) OVER (PARTITION BY id ORDER BY pos) AS w2
          FROM tokens)
        WHERE w2 IS NOT NULL),
      uni AS (SELECT tok AS w1, COUNT(*) AS c1 FROM tokens GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS v FROM tokens),
      bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
      logp AS (
        SELECT w1, w2, ln((c12 + 1.0) / (c1 + v)) AS logp
        FROM bi JOIN uni USING (w1) CROSS JOIN v)
      SELECT id, COUNT(*) AS n_bigrams, round(AVG(logp), 4) AS avg_logp2
      FROM bigrams JOIN logp USING (w1, w2)
      GROUP BY id ORDER BY id""",

    "x60_unigram_logprob" -> """
      WITH tokens AS (
        SELECT doc_id AS id,
               UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      vocab AS (SELECT tok, COUNT(*) AS cnt FROM tokens GROUP BY tok),
      tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS vsize FROM vocab),
      logp AS (SELECT tok, ln((cnt + 1.0) / (total + vsize)) AS logp
               FROM vocab CROSS JOIN tot)
      SELECT id, COUNT(*) AS n_toks, round(AVG(logp), 4) AS avg_logp
      FROM tokens JOIN logp USING (tok)
      GROUP BY id ORDER BY id""",

    "x61_source_drift" -> """
      WITH tokens AS (
        SELECT source, UNNEST(regexp_extract_all(lower(text), '\S+'))
          AS tok
        FROM documents),
      top AS (SELECT tok, COUNT(*) AS gcnt FROM tokens GROUP BY tok
              ORDER BY gcnt DESC, tok ASC LIMIT 50),
      gt AS (SELECT SUM(gcnt) AS gtotal FROM top),
      sc AS (SELECT source, tok, COUNT(*) AS scnt FROM tokens
             WHERE tok IN (SELECT tok FROM top) GROUP BY source, tok),
      grid AS (
        SELECT s.source, t.tok, t.gcnt, COALESCE(sc.scnt, 0) AS scnt
        FROM (SELECT DISTINCT source FROM sc) s
        CROSS JOIN top t
        LEFT JOIN sc ON sc.source = s.source AND sc.tok = t.tok),
      st AS (SELECT source, SUM(scnt) AS stotal FROM grid GROUP BY source)
      SELECT source, round(SUM(p * ln(p / q)), 4) AS kl_divergence,
             CAST(MAX(stotal) AS BIGINT) AS n_top_tokens
      FROM (
        SELECT g.source, (g.scnt + 1.0) / (st.stotal + 50) AS p,
               CAST(g.gcnt AS DOUBLE) / gt.gtotal AS q, st.stotal
        FROM grid g JOIN st USING (source) CROSS JOIN gt)
      GROUP BY source ORDER BY source""",

    "x58_leakage_safe_split" -> """
      WITH sp AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 AS cluster_fp,
               CASE WHEN CAST(('0x' || substring(md5(md5(regexp_replace(
                        trim(lower(text)), '\s+', ' ', 'g'))), 1, 4))
                        AS BIGINT) < 52428 THEN 'train'
                    WHEN CAST(('0x' || substring(md5(md5(regexp_replace(
                        trim(lower(text)), '\s+', ' ', 'g'))), 1, 4))
                        AS BIGINT) < 58982 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents),
      leak AS (
        SELECT MAX(ns) AS max_splits_per_cluster FROM (
          SELECT cluster_fp, COUNT(DISTINCT split) AS ns
          FROM sp GROUP BY cluster_fp))
      SELECT split, COUNT(*) AS n_docs,
             COUNT(DISTINCT cluster_fp) AS n_clusters,
             max_splits_per_cluster
      FROM sp CROSS JOIN leak
      GROUP BY split, max_splits_per_cluster ORDER BY split""",

    "x59_label_disagreement" -> """
      WITH qv AS (
        SELECT vec_id, label,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      nn AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY CAST(list_sum(list_transform(
                     range(1, len(q.qv) + 1),
                     i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])))
                     AS BIGINT) ASC, c.vec_id ASC) AS rank
          FROM qv q JOIN qv c ON q.vec_id <> c.vec_id)
        WHERE rank <= 5),
      maj AS (
        SELECT query_id, label AS maj_label FROM (
          SELECT v.query_id, v.label,
                 row_number() OVER (PARTITION BY v.query_id
                   ORDER BY v.votes DESC, v.label ASC) AS rk
          FROM (SELECT n.query_id, c.label, COUNT(*) AS votes
                FROM nn n JOIN qv c ON n.neighbor_id = c.vec_id
                GROUP BY n.query_id, c.label) v)
        WHERE rk = 1),
      per AS (
        SELECT e.vec_id, e.label, m.maj_label
        FROM qv e JOIN maj m ON e.vec_id = m.query_id)
      SELECT label, COUNT(*) AS n_vecs,
             CAST(SUM(CASE WHEN label <> maj_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_disagree,
             round(CAST(SUM(CASE WHEN label <> maj_label THEN 1 ELSE 0
               END) AS DOUBLE) / COUNT(*), 4) AS disagree_rate
      FROM per GROUP BY label ORDER BY label""",

    "e2e_medallion_mart" -> """
      SELECT c_mktsegment AS segment,
             CAST(year(o_orderdate) AS INT) AS year,
             CAST(quarter(o_orderdate) AS INT) AS quarter,
             COUNT(o_orderkey) AS n_reviews,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_rating
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        AND o_orderdate IS NOT NULL
      GROUP BY 1, 2, 3 ORDER BY segment, year, quarter""",

    "st1_stream_hourly" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
             event_type, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""",

    "st2_stream_sliding" -> """
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
             COUNT(*) AS n_events
      FROM (
        SELECT date_trunc('hour', ts) - to_hours(h) AS ws, event_type
        FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS h))
      GROUP BY 1, 2 ORDER BY bucket, event_type""",

    "st3_stream_dedup_users" -> """
      SELECT DISTINCT user_id FROM events ORDER BY user_id""",

    "st6_stream_upsert" -> """
      SELECT DISTINCT user_id FROM events ORDER BY user_id""",

    "st10_stream_left_join" -> """
      WITH v AS (SELECT user_id, event_id AS view_id, ts AS vts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, event_id AS click_id, ts AS cts
            FROM events WHERE event_type = 'click'),
      wm AS (SELECT least(
               (SELECT MAX(epoch_ns(vts) // 1000000) FROM v),
               (SELECT MAX(epoch_ns(cts) // 1000000) FROM c))
             - 3600000 AS w_ms),
      m AS (SELECT v.user_id, 1 AS pair, 0 AS unm
            FROM v JOIN c ON v.user_id = c.user_id
             AND c.cts >= v.vts
             AND c.cts <= v.vts + INTERVAL 24 HOURS),
      u AS (SELECT v.user_id, 0 AS pair, 1 AS unm
            FROM v, wm
            WHERE NOT EXISTS (
                    SELECT 1 FROM c WHERE c.user_id = v.user_id
                      AND c.cts >= v.vts
                      AND c.cts <= v.vts + INTERVAL 24 HOURS)
              AND epoch_ns(v.vts) // 1000000 + 86400000 < wm.w_ms)
      SELECT user_id, CAST(SUM(pair) AS BIGINT) AS n_pairs,
             CAST(SUM(unm) AS BIGINT) AS n_expired_unmatched
      FROM (SELECT * FROM m UNION ALL SELECT * FROM u)
      GROUP BY user_id ORDER BY user_id""",

    "st7_stream_stream_join" -> """
      SELECT user_id, COUNT(*) AS n_view_click_pairs FROM (
        SELECT v.user_id
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 24 HOURS)
      GROUP BY user_id ORDER BY user_id""",

    "st5_stream_static_join" -> """
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             c_mktsegment, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2 ORDER BY day, c_mktsegment""",

    "st4_stream_sessionize" -> """
      SELECT user_id, session_id, COUNT(*) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      FROM (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_sec IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT) - prev_sec > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev_sec
            FROM events)))
      GROUP BY user_id, session_id ORDER BY user_id, session_id""",

    "x14_frame_sample" -> """
      SELECT media_id, CAST(f AS INT) AS frame_no,
             md5(substring(txt, CAST(f * 64 + 1 AS BIGINT), 64)) AS frame_md5
      FROM (
        SELECT doc_id AS media_id, text AS txt,
               UNNEST(range(CAST(greatest(ceil(length(text) / 64.0), 1)
                 AS BIGINT))) AS f
        FROM documents)
      ORDER BY media_id, frame_no""",
  )
}
