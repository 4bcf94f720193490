package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Similarity search (x6/x7 onward): brute, LSH, IVF and
  * IVF-PQ search, the standing-index lifecycle, and the corpus-audit
  * rows that follow them in the catalog. */
private[graft] object AnnQueries {
  import QuerySupport._
  import graft.sources.ScratchRoot.tmpDir

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

  /** The standing-index contract as constants (x113 + st23): the
    * persisted version must be the full quantizer recipe, the encoded
    * state must hold all 2000 vectors at m=8 codes each (the ~100×
    * compression the ledger persists instead of raw vectors), and the
    * ledger-fed search must hold recall 1.0 against the exact twin —
    * any drift in persistence, versioning, stream assembly, or search
    * quality hash-mismatches. */
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

  /** Shared fixed-point brute-force L2 oracle for every exact-
    * degenerate ANN twin (x53b, x88b) and the auto-router on this
    * corpus (x93b, where the RC gate measures not-prunable and the
    * route IS the exact scan). */
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

  val specs: Seq[QuerySpec] = Seq(
    // ---- LLM-pipeline: similarity search (x6..x7) ----------------------
    QuerySpec("x6_ann_brute_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, """
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
      WHERE rank <= 5 ORDER BY query_id, rank"""),

    QuerySpec("x7_ann_lsh_topk", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_06
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x15_ann_ivf_topk", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_04
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x76_ivf_incremental", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_04
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x15b_ann_ivf_exact", (s, dir) => {
      // the SAME IVF operator at nprobe=nlist: every cell probed →
      // provably exact → shares the brute-force DuckDB oracle, so the
      // assignment/probe/score machinery itself is hash-checked
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 16)
        .orderBy(col("query_id"), col("rank"))
    }, """
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
      WHERE rank <= 5 ORDER BY query_id, rank"""),

    QuerySpec("x53_pq_ann_topk", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_08
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x53b_pq_exact", (s, dir) => {
      // the SAME PQ machinery with ksub = |corpus| (every subvector its
      // own codeword) → ADC sums are exact integer L2², so encode /
      // distance-table / ADC-join are hash-checked against the DuckDB
      // brute-force fixed-point oracle (the x15b pattern).
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5, m = 8,
          ksub = emb.count().toInt, trainIters = 0)
        .orderBy(col("query_id"), col("rank"))
    }, fixedPointBruteOracle),

    QuerySpec("x88_ivfpq_topk", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_08
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x92_ivfpq_incremental", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_08
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x93_ann_difficulty", (s, dir) => {
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
    }, """
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
      FROM m ORDER BY query_id"""),

    QuerySpec("x93b_ann_auto", (s, dir) => {
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
    }, fixedPointBruteOracle),

    QuerySpec("x112_clustered_route", (s, dir) => {
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
    }, """
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
             TRUE AS probed_le_025, CAST(375 AS BIGINT) AS rerank"""),

    QuerySpec("x112b_default_route", (s, dir) => {
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
    }, """
      -- the production-default call's contract as constants: route
      -- must be ivfpq on the clustered lake with recall 1.0 under
      -- the nlistFor/nprobeFor/rerankFor-sized defaults (measured:
      -- nlist=32, nprobe=4, rerank=375 at n=2000)
      SELECT 'ivfpq' AS route, CAST(80 AS BIGINT) AS n_exact,
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094"""),

    QuerySpec("x113_standing_ann_search", (s, dir) => {
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
    }, annIndexOracle),

    QuerySpec("st23_stream_ann_ingest", (s, dir) => {
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
      val (lake, cents, codebook, encoded, _, _) =
        graft.streaming.Streams.streamAnnIngest(s, n, nlist, m, ksub,
          splitFiles = 4)
      annIndexPane(lake, cents, codebook, encoded, n, nlist, nprobe,
        k, m, ksub)
    },
    // the stream-accreted index equals the batch-built state exactly
    // (per-row encode against a frozen definition + disjoint
    // batches), so st23 shares x113's oracle verbatim — the
    // batching-invariance discipline on the index tier
    annIndexOracle),

    QuerySpec("x116_index_drift", (s, dir) => {
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
    }, """
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
      ORDER BY scenario"""),

    QuerySpec("x117_sharded_ann", (s, dir) => {
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
    }, """
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
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094"""),

    QuerySpec("x118_index_rebuild", (s, dir) => {
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
    }, """
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
             CAST(1.0 AS DOUBLE) AS recall, TRUE AS recall_ge_094"""),

    QuerySpec("e2e_vector_store", (s, dir) => {
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
    }, """
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
             FALSE AS rebuild_recommended"""),

    QuerySpec("x119_ann_forget", (s, dir) => {
      annForgetPane(s, "-forget",
        (p, ids) => Similarity.annForget(p, ids))
    }, annForgetOracle),

    QuerySpec("st24_stream_forget", (s, dir) => {
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
    }, annForgetOracle),

    QuerySpec("x120_ann_compact", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x121_filtered_ann", (s, dir) => {
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
    }, """
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
      ORDER BY branch"""),

    QuerySpec("x122_ledger_vacuum", (s, dir) => {
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
      val rootPath = graft.sources.ScratchRoot.fresh("x122_root")
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
    }, """
      -- retention: the stale v1 bundle is swept, the kept v2 bundle
      -- stays complete, the meta-less in-flight dir is untouched
      -- (deleting it would race a writer), and a re-sweep is a no-op
      SELECT CAST(1 AS BIGINT) AS n_kept,
             CAST(1 AS BIGINT) AS n_deleted,
             FALSE AS stale_still_exists,
             TRUE AS kept_complete,
             TRUE AS inflight_preserved,
             CAST(1 AS BIGINT) AS n_kept_resweep,
             CAST(0 AS BIGINT) AS n_deleted_resweep"""),

    QuerySpec("x123_cell_pruned_search", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x124_ledger_promote", (s, dir) => {
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
      val (lake, _, _, accreted, defPath, encPath) =
        graft.streaming.Streams.streamAnnIngest(s, n, nlist, m, ksub,
          splitFiles = 4, tag = "x124")
      val version = Similarity.annIndexVersion(nlist, m, ksub)
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("e2e_index_lifecycle", (s, dir) => {
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
      val rootPath = graft.sources.ScratchRoot.fresh("e2e_lifecycle_root")
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x125_plan_audit", (s, dir) => {
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
      val j4 = SparkEntry.queries("j4_mart_flagship")(s, dir)
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
    }, """
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
             TRUE AS gate_refuses_cartesian"""),

    QuerySpec("x126_index_fsck", (s, dir) => {
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
    }, """
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
      ORDER BY branch"""),

    QuerySpec("x127_compact_advisor", (s, dir) => {
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
    }, """
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
      ORDER BY branch"""),

    QuerySpec("x128_filtered_pruned_ann", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x129_incremental_promote", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x130_sharded_lifecycle", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x131_gated_build", (s, dir) => {
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
    }, """
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
             TRUE AS undeclared_table_refused"""),

    QuerySpec("x132_boilerplate_drift", (s, dir) => {
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
    }, """
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
      GROUP BY t.md ORDER BY branch"""),

    QuerySpec("x133_dsir_drift", (s, dir) => {
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
    }, """
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
      ORDER BY branch"""),

    QuerySpec("x134_ops_console", (s, dir) => {
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
    }, """
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
      ORDER BY tier, ledger, action"""),

    QuerySpec("st25_stream_promote", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x135_filtered_sharded_ann", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x136_ops_loop", (s, dir) => {
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
    }, """
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
      ORDER BY tier, ledger, action"""),

    QuerySpec("x137_dsir_rebuild", (s, dir) => {
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
    }, """
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
             CAST(600 AS BIGINT) AS n_docs"""),

    QuerySpec("x138_boilerplate_rethreshold", (s, dir) => {
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
    }, """
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
      FROM derived"""),

    QuerySpec("st26_stream_sharded_promote", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x139_batched_pruned_ann", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x140_estate_reshard", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x136b_ops_loop_standing", (s, dir) => {
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
    }, """
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
      ORDER BY tier, ledger, action"""),

    QuerySpec("x141_filtered_batched_ann", (s, dir) => {
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
    }, """
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
             TRUE AS recall_ge_094"""),

    QuerySpec("x88b_ivfpq_exact", (s, dir) => {
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
    }, fixedPointBruteOracle),

    QuerySpec("x54_random_projection", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS cos_err_le_025
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
      JOIN embeddings c ON q.vec_id <> c.vec_id"""),

    QuerySpec("x55_bm25_search", (s, dir) => {
      // BM25 ranked retrieval over the corpus for a 3-term probe query
      // — scores only the probe's postings (filter before aggregate),
      // top-k via TakeOrderedAndProject; rounded-then-ranked so tie
      // order is engine-identical
      TextOps.bm25Search(t(s, dir, "documents"), col("doc_id"),
        col("text"), Seq("hash", "vector", "spark"), k = 10)
    }, """
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
      GROUP BY id ORDER BY bm25 DESC, id ASC LIMIT 10"""),

    QuerySpec("x56_sorted_neighborhood", (s, dir) => {
      // sorted-neighborhood candidate pairs (w=3) over part names,
      // verified by exact Levenshtein <= 4 — the sort-based third
      // blocking family next to LSH bands and postings joins
      Dedup.sortedNeighborhoodPairs(t(s, dir, "part"),
          col("p_partkey"), col("p_name"), w = 3, maxDist = 4)
        .orderBy(col("id_a"), col("id_b"))
    }, """
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
      WHERE dist <= 4 ORDER BY id_a, id_b"""),

    QuerySpec("x57_winnowing_pairs", (s, dir) => {
      // MOSS winnowing (SIGMOD'03): windowed-min k-gram fingerprints
      // (k=3, w=4, density ~2/(w+1)) + inverted-index postings join
      // with the x4b stop-fingerprint DF cutoff — the POSITIONAL
      // near-dup family next to MinHash (set) and SimHash (bitwise)
      TextOps.winnowingPairs(t(s, dir, "documents"), col("doc_id"),
          col("text"), k = 3, w = 4, minOverlap = 0.5, maxDocFreq = 100L)
        .orderBy(col("id_a"), col("id_b"))
    }, """
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
      ORDER BY id_a, id_b"""),

    QuerySpec("x58_leakage_safe_split", (s, dir) => {
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
    }, """
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
      GROUP BY split, max_splits_per_cluster ORDER BY split"""),

    QuerySpec("x59_label_disagreement", (s, dir) => {
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
    }, """
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
      FROM per GROUP BY label ORDER BY label"""),

    QuerySpec("x79_ccnet_buckets", (s, dir) => {
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
    }, """
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
      FROM b GROUP BY 1 ORDER BY bucket"""),

    QuerySpec("x60_unigram_logprob", (s, dir) => {
      // KenLM-lite statistical quality: corpus-trained add-one unigram
      // LM, docs scored by mean token log-prob — vocab stays a
      // distributed hash join, never a driver table
      TextOps.unigramLogProb(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }, """
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
      GROUP BY id ORDER BY id"""),

    QuerySpec("x90_bigram_logprob", (s, dir) => {
      // KenLM-lite order 2: bigram conditionals score word ORDER where
      // x60's unigram scores word choice — the second tier of the
      // statistical quality-filter stack. Bigrams come from array-
      // local adjacency (no doc-grain window shuffle)
      TextOps.bigramLogProb(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }, """
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
      GROUP BY id ORDER BY id"""),

    QuerySpec("x61_source_drift", (s, dir) => {
      // per-source KL(source ‖ corpus) over the global top-50 tokens —
      // the mixture-drift monitor; top-k is TakeOrderedAndProject, the
      // KL state is (sources × 50) rows
      TextOps.sourceTokenDrift(t(s, dir, "documents"), col("source"),
          col("text"))
        .orderBy(col("source"))
    }, """
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
      GROUP BY source ORDER BY source"""),

    QuerySpec("x62_integrity_report", (s, dir) => {
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
    }, """
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
      ORDER BY check_name"""),

    QuerySpec("x63_threshold_sweep", (s, dir) => {
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
    }, """
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
      FROM bk ORDER BY bucket DESC"""),

    QuerySpec("x87_lsh_plan", (s, dir) => {
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
    }, """
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
      FROM pick WHERE rn = 1 ORDER BY threshold"""),

    QuerySpec("x64_dedup_token_savings", (s, dir) => {
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
    }, """
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
      FROM f GROUP BY source ORDER BY source"""),

    QuerySpec("x65_cross_source_leakage", (s, dir) => {
      // which sources copy from each other: distinct 5-gram hash
      // postings, one self-join on the hash, |sources|²-bounded output
      // — the source-pairwise decontamination audit
      TextOps.crossSourceLeakage(t(s, dir, "documents"), col("source"),
          col("text"), n = 5)
        .orderBy(col("source_a"), col("source_b"))
    }, """
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
      ORDER BY source_a, source_b"""),

    QuerySpec("x66_dedup_pr_eval", (s, dir) => {
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
    }, """
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
      FROM j"""),

    QuerySpec("x67_balanced_shards", (s, dir) => {
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
    }, """
      WITH d AS (
        SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_toks
        FROM documents),
      r AS (
        SELECT doc_id, n_toks,
               row_number() OVER (ORDER BY -n_toks, doc_id) - 1 AS rn
        FROM d)
      SELECT rn % 8 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS shard_tokens
      FROM r GROUP BY shard ORDER BY shard"""),

    QuerySpec("x68_kfold_split", (s, dir) => {
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
    }, """
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
      GROUP BY fold, max_folds_per_cluster ORDER BY fold"""),

    QuerySpec("x69_k_anonymity", (s, dir) => {
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
    }, """
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
        FROM customer GROUP BY c_nationkey, c_mktsegment)
      SELECT COUNT(*) AS n_groups,
             CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_groups_below_k,
             CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             MIN(sz) AS min_group_size
      FROM g"""),

    QuerySpec("f17_nfc_normalize", (s, dir) => {
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
    },
    // suffix = ' Café 가 Å' built from codepoints so no literal-encoding
    // ambiguity: 0x301 combining acute, 0x1100/0x1161 Hangul jamo,
    // 0x30A combining ring — NFC composes all three
    """
      SELECT doc_id,
             nfc_normalize(text || ' Cafe' || chr(769) || ' ' ||
               chr(4352) || chr(4449) || ' A' || chr(778)) AS norm_text,
             CAST(length(nfc_normalize(text || ' Cafe' || chr(769) || ' ' ||
               chr(4352) || chr(4449) || ' A' || chr(778))) AS INT)
               AS n_chars_norm
      FROM documents WHERE doc_id < 40 ORDER BY doc_id"""),

    QuerySpec("x70_compression_ratio", (s, dir) => {
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
    }, """
      SELECT COUNT(*) AS n_docs, TRUE AS all_gt_02, TRUE AS all_le_13,
             TRUE AS probe_lt_third_mean
      FROM documents"""),

    QuerySpec("x71_sq8_ann_topk", (s, dir) => {
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
    }, """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ge_09
      FROM embeddings WHERE vec_id < 10"""),

    QuerySpec("x71b_sq8_exact", (s, dir) => {
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
    }, """
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
      WHERE rank <= 5 ORDER BY query_id, rank"""),

    QuerySpec("x72_temporal_split", (s, dir) => {
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
    }, """
      WITH ev AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, ts FROM events),
      b AS (SELECT MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM ev)
      SELECT CASE WHEN ts_us <= lo + CAST(floor((hi - lo) * 0.8) AS BIGINT)
                  THEN 'train' ELSE 'eval' END AS split,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT user_id) AS n_users,
             MIN(ts) AS min_ts, MAX(ts) AS max_ts
      FROM ev CROSS JOIN b
      GROUP BY 1 ORDER BY split"""),

    QuerySpec("x74_theta_overlap", (s, dir) => {
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
    }, thetaOverlapOracle),

    QuerySpec("x74b_theta_overlap_ledger", (s, dir) => {
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
    },
    // x74b runs the SAME screen sized from the standing ledger instead
    // of the token-count bound; both sizes are exact-mode at oracle
    // scale, so the two queries share one oracle.
    thetaOverlapOracle),

    QuerySpec("x89_freq_items_ledger", (s, dir) => {
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
    }, """
      WITH tokens AS (
        SELECT UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
        FROM documents),
      top AS (
        SELECT tok AS token, COUNT(*) AS exact_n
        FROM tokens GROUP BY tok
        ORDER BY exact_n DESC, token ASC LIMIT 5),
      s AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
      SELECT token, exact_n, n_sources, TRUE AS bounds_ok
      FROM top CROSS JOIN s ORDER BY token"""),

    QuerySpec("x85_source_quantiles", (s, dir) => {
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
    }, """
      SELECT source, COUNT(*) AS n_docs,
             TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      FROM documents GROUP BY source ORDER BY source"""),

    QuerySpec("x80_dedup_preflight", (s, dir) => {
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
    }, """
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
      FROM grams GROUP BY source ORDER BY source"""),

    QuerySpec("x75_theta_novelty", (s, dir) => {
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
    }, """
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
      FROM fs GROUP BY batch ORDER BY batch"""),

    QuerySpec("f20_approx_distinct_rule", (s, dir) => {
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
    }, """
      SELECT COUNT(DISTINCT user_id) AS exact_distinct,
             TRUE AS est_within_5pct, TRUE AS rule_fired
      FROM events"""),

    QuerySpec("f19_jaro_winkler", (s, dir) => {
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
    }, """
      WITH s AS (
        SELECT p_partkey AS id, p_name AS nm,
               substring(p_name, 1, 1) AS blk FROM part),
      l AS (SELECT id, nm, lead(nm, 1) OVER (PARTITION BY blk
              ORDER BY nm, id) AS nm2 FROM s)
      SELECT id, round(jaro_winkler_similarity(nm, nm2), 4) AS jw
      FROM l WHERE nm2 IS NOT NULL ORDER BY id"""),

    QuerySpec("x78_benford_audit", (s, dir) => {
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
    }, """
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
      FROM digits CROSS JOIN t ORDER BY d"""),

    QuerySpec("x77_zipf_fit", (s, dir) => {
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
    }, """
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
      FROM s"""),

    QuerySpec("x21_profile", (s, dir) => {
      // one-pass column profiling (nulls / exact distinct / lex min-max)
      Quality.profile(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
        .orderBy(col("column"))
    }, """
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
      ORDER BY "column""""),

    QuerySpec("x82_ann_tuning_curve", (s, dir) => {
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
    }, """
      SELECT nprobe, TRUE AS ok
      FROM (VALUES (1), (2), (4), (8), (16)) AS t(nprobe)
      ORDER BY nprobe"""),

    QuerySpec("x83_embed_norm_screen", (s, dir) => {
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
    }, """
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
      FROM e CROSS JOIN v ORDER BY vec_id"""),

    QuerySpec("x19_embed_quantize", (s, dir) => {
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
    }, """
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
      FROM q ORDER BY vec_id"""),
  )
}
