package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorExprs

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — LLM-pipeline surface (BASELINE.json north star).
  *
  * Two paths:
  *  - [[bruteTopK]]: exact cosine top-k via broadcast of the (small) query
  *    set against the full corpus — one scan of the corpus, no corpus
  *    shuffle; the right plan when |queries| ≪ |corpus| even at 100 TB.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing (sign sketch) so only
  *    same-bucket candidates are scored — the scale path when the query
  *    set itself is large. Hyperplane coefficients derive from
  *    xxhash64(plane, dim): deterministic, no driver-side randomness.
  *
  * Norms are precomputed per row; the per-pair dot product is the native
  * codegen'd [[graft.functions.DotProduct]] expression. cos =
  * dot/(norm_q*norm_c), arithmetically identical to the naive form (and
  * the DuckDB oracle).
  */
object Similarity {

  /** Deterministic ±1 hyperplane coefficient for (plane j, dimension i). */
  private def coef(j: Column, i: Column): Column =
    when(pmod(xxhash64(j, i), lit(2)) === 0, 1.0d).otherwise(-1.0d)

  /** (query_id, qv, qn) and (neighbor_id, cv, cn): the query and
    * corpus sides every cosine path scores from. */
  private def queryPrep(queries: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorExprs.norm(col(vecCol)).as("qn"))

  private def corpusPrep(corpus: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorExprs.norm(col(vecCol)).as("cn"))

  /** Query-to-neighbor cosine over the prep columns. */
  private def qcCos: Column =
    VectorExprs.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))

  private def scoreAndRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    // SLIM the window input first: callers' scored relations still
    // carry the qv/cv vector payloads (~1 KB/row), and a row_number
    // window SORTS its full input — at corpus grain that is
    // n·|q|·|vec| bytes of sort spill for three columns of output
    // (the ivfAssign fat-agg class, on the window tier). 24 B rows
    // sort instead; results identical.
    scored.select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Exact top-k neighbors for each query vector (cosine, descending;
    * ties broken by ascending corpus id for determinism). `queries` and
    * `corpus` both expose (`idCol`, `vecCol`). */
  def bruteTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    val scored = corpusPrep(corpus, idCol, vecCol).join(
      broadcast(queryPrep(queries, idCol, vecCol)),
      col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", qcCos)
    scoreAndRank(scored, k)
  }

  /** kNN label-disagreement audit (label-noise / mislabeled-example
    * detection, cf. confident learning): for each vector, take its
    * top-k neighbors' majority label; a vector whose own label differs
    * from the local majority is flagged as a likely annotation error —
    * the embedding-space sanity check a labeled training set runs
    * before fine-tuning.
    *
    * Consumes ANY (query_id, neighbor_id) top-k table, so it composes
    * with the whole ANN stack: [[bruteTopK]] as the exact diagnostic at
    * audit scale, [[ivfTopK]]/[[pqTopK]] as the 100 TB candidate path —
    * the audit itself is two hash aggregations on (query, label), never
    * quadratic. Majority ties break by ascending label for
    * determinism. Returns one row per query: (id, label, maj_label,
    * maj_votes, disagree). */
  def labelDisagreement(topk: DataFrame, labeled: DataFrame,
                        idCol: String, labelCol: String): DataFrame = {
    val lab = labeled.select(col(idCol).as("__nid"), col(labelCol).as("__nlab"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("__nlab").asc)
    val maj = topk
      .join(lab, col("neighbor_id") === col("__nid"))
      .groupBy(col("query_id"), col("__nlab"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("__nlab").as("maj_label"),
        col("votes").as("maj_votes"))
    labeled.select(col(idCol).as("id"), col(labelCol).as("label"))
      .join(maj, col("id") === col("query_id"))
      .select(col("id"), col("label"), col("maj_label"), col("maj_votes"),
        (col("label") =!= col("maj_label")).as("disagree"))
  }

  /** Sign-sketch bucket for LSH table `t` (each table uses a disjoint
    * slice of the hyperplane family: planes t*b .. t*b+b-1). */
  private def tableBucket(vec: Column, t: Column, planes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), j => {
        val plane = t * planes + j
        val dotj = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1),
            (x, i) => x.cast(DoubleType) * coef(plane, i)),
          lit(0.0d), (acc, v) => acc + v)
        struct(j.as("j"), when(dotj >= 0, 1L).otherwise(0L).as("bit"))
      }),
      lit(0L),
      (acc, s) => acc + s.getField("bit") * pow(lit(2.0d),
        s.getField("j").cast(DoubleType)).cast(LongType))

  /** Multi-table LSH ANN: `tables` independent sign sketches of `planes`
    * hyperplanes each; a candidate pair only needs to collide in ONE
    * table (the standard OR-amplification), so recall rises steeply with
    * `tables` while each table's bucket join stays selective. Candidates
    * are deduped before scoring; the bucket joins replace the cross
    * product — the only shuffles that scale with corpus size. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              planes: Int = 8, tables: Int = 4): DataFrame = {
    def sketch(df: DataFrame, id: String, vec: String, n: String) = df
      .select(col(idCol).as(id), col(vecCol).as(vec),
        VectorExprs.norm(col(vecCol)).as(n),
        // outer: `tables`-length array is never empty; the non-outer
        // form's inferred guard would re-run every table's projection
        posexplode_outer(transform(sequence(lit(0), lit(tables - 1)),
          t => tableBucket(col(vecCol), t, planes)))
          .as(Seq("table", "bucket")))
    val q = sketch(queries, "query_id", "qv", "qn")
    val c = sketch(corpus, "neighbor_id", "cv", "cn")
    val scored = c.join(q, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "qv", "qn", "cv", "cn")
      .dropDuplicates("query_id", "neighbor_id")   // OR across tables
      .withColumn("cos_sim", qcCos)
    scoreAndRank(scored, k)
  }

  /** Fixed-point (×1e7, half-up) quantization of a float vector to
    * longs — the shared exactness primitive behind [[assignCells]],
    * the x44 centroid means, and the x45 Lloyd step: integer sums and
    * L2² distances can never drift by float ulps across engines. */
  def quantize1e7(vec: Column): Column =
    transform(vec, v => floor(v.cast("double") * 1e7d + 0.5d).cast("long"))

  /** Exact-arithmetic centroid-cell assignment: vectors and the k seed
    * centroids (the first `k` ids) quantize to ×1e7 longs; L2²
    * distances are exact integer sums, so the argmin is deterministic
    * (ties break by centroid id). Broadcast centroids × one scan.
    * Returns (cid, `idName`, `vecName`) — input columns pass through. */
  def assignCells(df: DataFrame, idName: String, vecName: String,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = df.select(col(idName), col(vecName),
      quantize1e7(col(vecName)).as("__qv"))
    val cents = qv.filter(col(idName) < k)
      .select(col(idName).as("cid"), col("__qv").as("__cv"))
    // argmin over SLIM (id, cid, d2) rows, vectors joined back by id
    // after — the n×k window must not sort quantized-vector payloads
    // (the ivfAssign/scoreAndRank fat-row class; at corpus grain that
    // is n·k·|vec| bytes of sort spill for an id-to-cell mapping)
    val best = qv.crossJoin(broadcast(cents))
      .select(col(idName), col("cid"),
        intL2(col("__qv"), col("__cv")).as("__d2"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(idName))
          .orderBy(col("__d2").asc, col("cid").asc)))
      .filter(col("__rk") === 1)
      .select(col(idName), col("cid"))
    df.select(col(idName), col(vecName)).join(best, Seq(idName))
      .select(col("cid"), col(idName), col(vecName))
  }

  /** Per-vector symmetric int8 quantization — the memory/IO scale lever
    * for 100 TB embedding stores (4× smaller than float32, dot products
    * stay SIMD-friendly). scale = 127/max|x|; q_i = floor(x_i·scale+0.5)
    * (explicit half-up so any engine reproduces it bit-for-bit —
    * `round()` rounding modes differ across engines). Returns
    * (q: array<int>, scale: double); dequantize ≈ q/scale. */
  def quantizeInt8(vec: Column): Column = {
    val absMax = array_max(transform(vec, v => abs(v.cast(DoubleType))))
    val scale = when(absMax === 0.0d, lit(1.0d)).otherwise(lit(127.0d) / absMax)
    struct(
      transform(vec, v =>
        floor(v.cast(DoubleType) * scale + 0.5d).cast(IntegerType)).as("q"),
      scale.as("scale"))
  }

  /** Max reconstruction error |x − q/scale| of a quantized vector
    * against its source — the quality bound a pipeline asserts. */
  def dequantError(vec: Column, quant: Column): Column =
    array_max(zip_with(vec, quant.getField("q"),
      (x, q) => abs(x.cast(DoubleType) -
        q.cast(DoubleType) / quant.getField("scale"))))

  /** Per-subspace quantized subvectors of a ×1e7 fixed-point vector:
    * array of (sub, sv) structs, sub s covering dimensions
    * [floor(s·D/m), floor((s+1)·D/m)). Integer bounds work for any D,
    * divisible by `m` or not. */
  private def subvecs(qvec: Column, m: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val d = size(qvec)
      val st = floor(s.cast(DoubleType) * d / m).cast(IntegerType)
      val en = floor((s + lit(1)).cast(DoubleType) * d / m).cast(IntegerType)
      struct(s.as("sub"), slice(qvec, st + 1, en - st).as("sv"))
    })

  /** `rows` with the fixed-point vector `qvec` split into its `m`
    * [[subvecs]], one row per subspace: (keep…, sub, `svAs`). */
  private def splitSub(rows: DataFrame, keep: Seq[String], qvec: Column,
                       m: Int, svAs: String = "sv"): DataFrame =
    rows.select(keep.map(col) :+ explode(subvecs(qvec, m)).as("s"): _*)
      .select(keep.map(col) ++ Seq(col("s.sub").as("sub"),
        col("s.sv").as(svAs)): _*)

  /** The `n` rows with the smallest xxhash64(neighbor_id), ties broken
    * by id — the deterministic seed sample every quantizer here starts
    * from (no driver-side randomness). `__h` stays aboard, so a caller
    * can number the seeds in draw order. */
  private def seedDraw(rows: DataFrame, n: Int): DataFrame =
    rows.withColumn("__h", xxhash64(col("neighbor_id")))
      .orderBy(col("__h"), col("neighbor_id")).limit(n)

  /** Exact integer L2² between two equal-length long vectors. */
  private def intL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Product-quantization (PQ) ANN — the compression scale path
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). Where IVF prunes which vectors are scored,
    * PQ shrinks what a score costs: each vector is stored as `m`
    * byte-sized codes (here m subspace codewords of a ksub-entry
    * codebook), so a 100 TB float32 embedding store becomes ~100/16 TB
    * of codes, and scan-side scoring never touches the original
    * vectors — asymmetric distance (ADC) sums m table lookups.
    *
    * All arithmetic is ×1e7 fixed-point integer ([[quantize1e7]], the
    * x44/x45 primitive), so assignment argmins and ADC sums are exact
    * and deterministic — no float drift across partitionings/engines.
    *
    *  - Codebooks: per subspace, the subvectors of the `ksub` corpus
    *    rows with smallest xxhash64(id) (deterministic seed sample);
    *    `trainIters` Lloyd steps refine them with integer centroid
    *    means (half-up), each step one broadcast assign + one
    *    (sub, code, dim) aggregation. At 100 TB train on a sample —
    *    codebooks only need the distribution.
    *  - Encode: one broadcast codebook pass over the corpus; argmin
    *    integer L2² per (row, sub), ties → lowest code. The encoded
    *    table (id, sub, code) is the only corpus-sized state.
    *  - Search (ADC): per-query distance tables (query, sub, code,
    *    d2) — |q|·m·ksub rows, broadcast — hash-joined to the encoded
    *    corpus on (sub, code); one (query, neighbor) sum-aggregation
    *    ranks by approximate L2².
    *
    * With ksub ≥ |corpus| every subvector is its own codeword, ADC
    * degenerates to EXACT integer L2² and the result is hash-checked
    * against a DuckDB brute-force oracle (x53b, the x15b pattern) —
    * pinning encode/table/ADC machinery independent of training.
    * The approximate operating point is gated on a recall contract vs
    * exact L2 top-k (x53, the x7/x15 pattern).
    *
    * It is the one-cell case of [[ivfpqTopK]]: cell 0 holds every
    * vector and a residual is the quantized vector itself, so it
    * trains, encodes and scores through the IVFPQ steps. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             idCol: String, vecCol: String, k: Int,
             m: Int = 8, ksub: Int = 16,
             trainIters: Int = 0, rerank: Int = 0): DataFrame = {
    // the one-cell IVFPQ: every vector sits in cell 0 and there is no
    // centroid to subtract, so a residual is the quantized vector
    def oneCell(df: DataFrame, idAs: String): DataFrame =
      df.select(lit(0L).as("cell"), col(idCol).as(idAs),
        quantize1e7(col(vecCol)).as("__rv"))
    // trained paths read the residuals trainIters+1 times (each Lloyd
    // step and the encode) — materialize them once; quantizing is
    // cheap, so the untrained path reads them twice unmaterialized
    val resid0 = oneCell(corpus, "neighbor_id")
    val resid =
      if (trainIters > 0) resid0.localCheckpoint(true) else resid0
    val codebook = pqTrain(resid, m, ksub, trainIters)
    rankAndRerank(adcScan(oneCell(queries, "query_id"), col("__rv"),
        encodeResiduals(resid, codebook, m), codebook, m),
      queries, idCol, vecCol, k, rerank, Some(corpus))
  }

  /** Shared tail of [[pqTopK]] and [[ivfpqSearchEncoded]]: rank
    * (query_id, neighbor_id, approx_d2) ADC scores per query; when
    * `rerank` > 0 run the standard two-stage refinement — the
    * code-only scan shortlists `rerank` candidates per query, then
    * ONLY those |q|·rerank rows fetch their full vectors (from
    * `rerankSource`) for an exact integer-L2² re-score. At 100 TB the
    * exact pass touches a vanishing fraction of the store while
    * recall approaches exact search. */
  private def rankAndRerank(adc0: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String,
                            k: Int, rerank: Int,
                            rerankSource: Option[DataFrame]): DataFrame = {
    if (rerank <= 0) l2TopK(adc0, "approx_d2", k)
    else {
      val src = rerankSource.getOrElse(throw new IllegalArgumentException(
        "rerank > 0 needs rerankSource (the original vectors)"))
      exactL2TopK(Some(l2TopK(adc0, "approx_d2", rerank)
          .select(col("query_id"), col("neighbor_id"))),
        queries, src, idCol, vecCol, k)
    }
  }

  /** Exact ×1e7 fixed-point L2² top-k of `queries` against `corpus`,
    * over the candidate pairs `cand` (query_id, neighbor_id) when
    * given, else over every pair but the self pair — the one exact
    * scorer behind [[bruteTopKL2]] and every rerank tail. Queries
    * broadcast; the corpus is scanned once. */
  private def exactL2TopK(cand: Option[DataFrame], queries: DataFrame,
                          corpus: DataFrame, idCol: String,
                          vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      quantize1e7(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize1e7(col(vecCol)).as("cv"))
    val pairs = cand.fold(
      c.join(broadcast(q), col("query_id") =!= col("neighbor_id")))(
      _.join(c, Seq("neighbor_id")).join(broadcast(q), Seq("query_id")))
    // slim before the window (the scoreAndRank note): the sort carries
    // 24 B rows, not the two quantized vectors
    l2TopK(pairs.select(col("query_id"), col("neighbor_id"),
      intL2(col("qv"), col("cv")).as("approx_d2")), "approx_d2", k)
  }

  /** Per-query top-k by ascending `dCol` (ties → ascending
    * neighbor_id) as (query_id, rank, neighbor_id, approx_d2) — the
    * one rank tail every L2 search path ends in. */
  private def l2TopK(scored: DataFrame, dCol: String,
                     k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(dCol).asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col(dCol).as("approx_d2"))
  }

  /** IVF+PQ composed — the index structure 100 TB vector stores
    * actually deploy (Jégou et al., TPAMI 2011 §IV; FAISS `IVFPQ`):
    * [[ivfTopK]]'s coarse quantizer prunes WHICH vectors are scored
    * (nprobe of nlist cells) while PQ codes shrink what each score
    * COSTS — and the codes quantize the RESIDUAL vec − centroid, which
    * is the composition's whole point: residuals concentrate near 0,
    * so the same (m, ksub) code budget spends its resolution on the
    * within-cell geometry instead of re-encoding the coarse position
    * the cell id already carries.
    *
    * All arithmetic is ×1e7 fixed-point ([[quantize1e7]]); residuals
    * subtract INTEGER centroid from integer vector, so
    * ‖q₁ₑ₇ − c₁ₑ₇ − (x₁ₑ₇ − c₁ₑ₇)‖² = ‖q₁ₑ₇ − x₁ₑ₇‖² holds exactly
    * and the degenerate config (nprobe = nlist, ksub ≥ |corpus|,
    * x88b) hash-checks against the same DuckDB brute-force oracle as
    * x53b — pinning assign/residual/encode/ADC independent of
    * training. Search builds PER-(query, probed-cell) ADC tables from
    * the query's residual against that cell (|q|·nprobe·m·ksub
    * broadcast rows), hash-joins them to the encoded corpus on
    * (cell, sub, code), and sum-aggregates — one shuffle that scales
    * with the PROBED fraction of the corpus, not the corpus. Optional
    * exact rerank as in [[pqTopK]]. */
  def ivfpqTopK(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16,
                coarseIters: Int = 0, pqIters: Int = 0,
                rerank: Int = 0): DataFrame = {
    // train+encode share the corpus residual pass (the
    // ivfpqTrainEncode contract) — the two-call form paid the
    // assign+subtract scan twice
    val (cents, codebook, encoded) = ivfpqTrainEncode(corpus, idCol,
      vecCol, nlist, m, ksub, coarseIters, pqIters)
    ivfpqSearchEncoded(queries, idCol, vecCol, encoded, cents, codebook,
      k, nprobe, m, rerank, if (rerank > 0) Some(corpus) else None)
  }

  /** Integer residuals (cell, neighbor_id, __rv) of `batch` against
    * fixed centroids: assign by centroid cosine, subtract the
    * fixed-point centroid elementwise. */
  private def ivfpqResiduals(batch: DataFrame, idCol: String,
                             vecCol: String, cents: DataFrame): DataFrame = {
    val centQ = cents.select(col("cent_id").as("cell"),
      quantize1e7(col("cent_v")).as("cent_q"))
    ivfAssign(batch, idCol, vecCol, cents)
      .join(broadcast(centQ), Seq("cell"))
      .select(col("cell"), col("neighbor_id"),
        zip_with(quantize1e7(col("cv")), col("cent_q"),
          (a, b) => a - b).as("__rv"))
  }

  /** Train the IVFPQ index DEFINITION — (centroids, residual
    * codebook), the persistable state [[ivfpqEncode]] and
    * [[ivfpqSearchEncoded]] consume. At 100 TB train on a sample; the
    * definition is a few KB however big the corpus. */
  def ivfpqTrain(corpus: DataFrame, idCol: String, vecCol: String,
                 nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                 coarseIters: Int = 0, pqIters: Int = 0)
      : (DataFrame, DataFrame) = {
    val (cents, codebook, _) = ivfpqTrainCore(corpus, idCol, vecCol,
      nlist, m, ksub, coarseIters, pqIters, keepResid = false)
    (cents, codebook)
  }

  /** Train AND encode the SAME corpus, sharing the residual pass —
    * the build shape every fresh bundle pays (`ivfpqTrain` then
    * `ivfpqEncode` of the corpus just trained on): called separately,
    * the full-corpus assign+subtract pass runs TWICE (once inside the
    * train for the seed draw / refine, once again inside the encode);
    * at 100 TB that second pass is a whole extra corpus scan+shuffle.
    * This form materializes the residuals once (the train's existing
    * checkpoint grain) and feeds both consumers. Same expressions,
    * same fixed-point arithmetic — (cents, codebook, encoded) are
    * bit-identical to the two-call form (Round21Spec pins it). */
  def ivfpqTrainEncode(corpus: DataFrame, idCol: String,
                       vecCol: String, nlist: Int = 16, m: Int = 8,
                       ksub: Int = 16, coarseIters: Int = 0,
                       pqIters: Int = 0)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cents, codebook, resid) = ivfpqTrainCore(corpus, idCol,
      vecCol, nlist, m, ksub, coarseIters, pqIters, keepResid = true)
    (cents, codebook, encodeResiduals(resid, codebook, m))
  }

  private def ivfpqTrainCore(corpus: DataFrame, idCol: String,
                             vecCol: String, nlist: Int, m: Int,
                             ksub: Int, coarseIters: Int,
                             pqIters: Int, keepResid: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val cents = ivfTrain(corpus, idCol, vecCol, nlist, coarseIters)
    // trained paths consume the RESIDUALS (the full-corpus assign +
    // subtract pass) once for the seed draw plus pqIters refine
    // passes — truncate that lineage ONCE at the residual grain, so
    // neither the seed subtree nor any Lloyd step re-runs the assign
    // (re-exploding subvectors from the checkpoint is cheap; the
    // assign is not). Untrained path consumes residuals once (seeds)
    // and skips the materialization — unless the caller keeps the
    // residuals for the encode (ivfpqTrainEncode), which always
    // checkpoints so the shared pass runs exactly once.
    val resid0 = ivfpqResiduals(corpus, idCol, vecCol, cents)
    val resid = if (pqIters > 0 || keepResid)
      resid0.localCheckpoint(true) else resid0
    (cents, pqTrain(resid, m, ksub, pqIters), resid)
  }

  /** The PQ codebook (sub, code, cbv) of residual rows (cell,
    * neighbor_id, __rv), shared by [[pqTopK]] (raw vectors) and
    * [[ivfpqTopK]] (cell residuals). The `ksub` [[seedDraw]] rows,
    * numbered in draw order, are the seed codewords; each of `iters`
    * Lloyd steps assigns every (row, sub) to its nearest codeword,
    * then takes the integer mean per (sub, code, dim); empty codewords
    * drop (fewer, denser cells — fine for a quantizer, same stance as
    * ivfTopK training). The codebook is m·ksub KB-grain rows consumed
    * repeatedly (the encode's broadcast, every search batch's dtable
    * broadcast, the persist write) — materialized once at the
    * definition grain so consumers stop re-running the seed draw +
    * refine iterations (the ivfTrain checkpoint note, at the PQ
    * tier). */
  private def pqTrain(resid: DataFrame, m: Int, ksub: Int,
                      iters: Int): DataFrame = {
    val residSub = splitSub(resid, Seq("neighbor_id"), col("__rv"), m)
    // global window is fine: ≤ ksub rows survive the limit
    val seeds = splitSub(seedDraw(resid, ksub).withColumn("code",
        row_number().over(Window.orderBy("__h", "neighbor_id")) - 1),
      Seq("code"), col("__rv"), m, "cbv")
      .select(col("sub"), col("code"), col("cbv"))
    (1 to iters).foldLeft(seeds) { (cb, _) =>
      residSub.join(broadcast(cb), Seq("sub"))
        .groupBy(col("neighbor_id"), col("sub"))
        .agg(min(struct(intL2(col("sv"), col("cbv")).as("d2"),
            col("code"), col("sv"))).as("best"))
        .select(col("sub"), col("best.code").as("code"),
          posexplode(col("best.sv")).as(Seq("dim", "v")))
        .groupBy(col("sub"), col("code"), col("dim"))
        .agg(floor(sum(col("v")).cast(DoubleType) / count(lit(1)) + 0.5d)
          .cast(LongType).as("mv"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mv"))))
          .as("dm"))
        .select(col("sub"), col("code"),
          transform(col("dm"), e => e.getField("mv")).as("cbv"))
    }.localCheckpoint(true)
  }

  /** Encode a batch against a FIXED index definition — the
    * index-INSERT step (x76's ivfAssign discipline for IVFPQ):
    * one broadcast assign + one broadcast codebook argmin over
    * exactly the rows being inserted, so admitting a batch into a
    * standing IVFPQ index costs O(|batch|·m) — no retrain, no corpus
    * rescan. Returns the index STATE rows (cell, neighbor_id, sub,
    * code), which persist and accrete across ingests. */
  def ivfpqEncode(batch: DataFrame, idCol: String, vecCol: String,
                  cents: DataFrame, codebook: DataFrame,
                  m: Int = 8): DataFrame =
    encodeResiduals(ivfpqResiduals(batch, idCol, vecCol, cents),
      codebook, m)

  /** The code-assignment tail of [[ivfpqEncode]], split out so
    * [[ivfpqTrainEncode]] can feed it the train's already-
    * materialized residuals instead of re-running the assign pass. */
  private def encodeResiduals(resid: DataFrame, codebook: DataFrame,
                              m: Int): DataFrame =
    splitSub(resid, Seq("cell", "neighbor_id"), col("__rv"), m)
      .join(broadcast(codebook), Seq("sub"))
      .groupBy(col("cell"), col("neighbor_id"), col("sub"))
      .agg(min(struct(intL2(col("sv"), col("cbv")).as("d2"), col("code")))
        .getField("code").as("code"))

  /** Probe-and-ADC-score over pre-encoded index state (the standing
    * table [[ivfpqEncode]] accretes). Split from [[ivfpqTopK]] so
    * state persists across ingest batches; `rerankSource` supplies
    * original vectors when `rerank` > 0. */
  def ivfpqSearchEncoded(queries: DataFrame, idCol: String,
                         vecCol: String, encoded: DataFrame,
                         cents: DataFrame, codebook: DataFrame,
                         k: Int, nprobe: Int, m: Int = 8,
                         rerank: Int = 0,
                         rerankSource: Option[DataFrame] = None)
      : DataFrame =
    rankAndRerank(
      ivfpqAdc(queries, idCol, vecCol, encoded, cents, codebook,
        nprobe, m),
      queries, idCol, vecCol, k, rerank, rerankSource)

  /** The probe stage on its own: top-nprobe cells per query by
    * centroid cosine (the ivf rule), as (query_id, qv, qn, cell) —
    * ONE definition shared by the IVF and ADC scoring tails and the
    * layout-pruning consumers ([[ivfpqSearchPruned]],
    * [[ivfpqSearchPrunedBatched]]); a parallel re-derivation of the
    * probe ranking would be the silent-divergence class the repo's
    * witnessing discipline exists to kill. */
  private def probeAssign(queries: DataFrame, idCol: String,
                          vecCol: String, cents: DataFrame,
                          nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("probe_cos").desc, col("cent_id").asc)
    queryPrep(queries, idCol, vecCol).join(broadcast(cents))
      .withColumn("probe_cos", centCos(col("qv"), col("qn")))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"),
        col("cent_id").as("cell"))
  }

  /** The probe-and-ADC core of [[ivfpqSearchEncoded]]: (query_id,
    * neighbor_id, approx_d2) over the probed fraction of the encoded
    * state — shared by the single-stage (exact-rerank) and two-stage
    * ([[ivfpqSearchRefined]]) tails. */
  private def ivfpqAdc(queries: DataFrame, idCol: String,
                       vecCol: String, encoded: DataFrame,
                       cents: DataFrame, codebook: DataFrame,
                       nprobe: Int, m: Int): DataFrame = {
    val centQ = cents.select(col("cent_id").as("cell"),
      quantize1e7(col("cent_v")).as("cent_q"))
    adcScan(probeAssign(queries, idCol, vecCol, cents, nprobe)
        .join(broadcast(centQ), Seq("cell")),
      zip_with(quantize1e7(col("qv")), col("cent_q"), (a, b) => a - b),
      encoded, codebook, m)
  }

  /** The ADC scan every PQ search scores with: per-(query, cell)
    * distance tables from each `qRows` row's residual `qresid`
    * against that cell — (query_id, cell, sub, code, d2), |q|·cells·
    * m·ksub rows, broadcast — hash-joined to the encoded state on
    * (cell, sub, code), then one (query, neighbor) sum-aggregation:
    * (query_id, neighbor_id, approx_d2). */
  private def adcScan(qRows: DataFrame, qresid: Column,
                      encoded: DataFrame, codebook: DataFrame,
                      m: Int): DataFrame = {
    val dtable = splitSub(qRows, Seq("query_id", "cell"), qresid, m, "qsv")
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        intL2(col("qsv"), col("cbv")).as("d2"))
    encoded.join(broadcast(dtable), Seq("cell", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2")).as("approx_d2"))
  }

  /** Int8 codes for a corpus — the persistable REFINE-STAGE state
    * ([[ivfpqSearchRefined]]'s middle stage): one row per vector,
    * (neighbor_id, c8: struct(q array<int>, scale double)). In a
    * standing ledger these live as a fourth part next to the PQ
    * codes (1 byte/dim vs 4 — the refine stage then never touches
    * original vectors; only the final exact top-refineFor(k) does). */
  def sq8Encode(corpus: DataFrame, idCol: String,
                vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      quantizeInt8(col(vecCol)).as("c8"))

  /** TWO-STAGE refined search over the standing index — the
    * sub-linear-rerank frontier probe: [[ivfpqSearchEncoded]]'s exact
    * rerank re-scores the WHOLE rerankFor pool against full vectors
    * (~1.5× the probed return — recall-safe by construction, but the
    * full-vector fetch stays linear in n per query). Here the pool is
    * first re-ranked by SQ8 scalar-quantized distance — int8 codes, 4×
    * less memory traffic than float32 and persistable in the standing
    * ledger next to the PQ codes, so this stage never fetches original
    * vectors either — and only the top `refineTo` survivors pay the
    * exact fixed-point re-score. With an n-INDEPENDENT refineTo
    * holding the recall contract, per-query full-vector work becomes
    * O(refineTo) instead of O(n·nprobe/nlist).
    *
    * SQ8 distance: dequantized double L2² Σ(qxᵢ/sx − qyᵢ/sy)² — both
    * per-vector scales applied, IEEE-deterministic fold order, ties
    * broken by ascending id. The final exact stage reuses the ×1e7
    * fixed-point grid, so with refineTo ≥ pool the operator
    * degenerates to [[ivfpqSearchEncoded]]'s reranked form exactly
    * (the x15b/x53b degenerate-config gate, spec-pinned). Measured
    * sweep: SCALE.md round-9 two-stage table (20k and 200k lakes). */
  def ivfpqSearchRefined(queries: DataFrame, idCol: String,
                         vecCol: String, encoded: DataFrame,
                         cents: DataFrame, codebook: DataFrame,
                         k: Int, nprobe: Int, m: Int,
                         pool: Int, refineTo: Int,
                         corpus: DataFrame,
                         sq8Codes: Option[DataFrame] = None)
      : DataFrame = {
    require(pool > 0 && refineTo > 0,
      s"ivfpqSearchRefined: pool=$pool refineTo=$refineTo")
    val adc = ivfpqAdc(queries, idCol, vecCol, encoded, cents,
      codebook, nprobe, m)
    val cand = l2TopK(adc, "approx_d2", pool)
      .select(col("query_id"), col("neighbor_id"))
    // SQ8 refine: candidates meet int8 codes — read from the standing
    // ledger when supplied ([[sq8Encode]]'s shape, the 100 TB form:
    // the refine stage scans 1-byte codes, never original vectors);
    // otherwise quantized from `corpus` inline (same arithmetic,
    // spec-pinned equal) — queries broadcast either way
    val c8 = sq8Codes.getOrElse(sq8Encode(corpus, idCol, vecCol))
    val q8 = queries.select(col(idCol).as("query_id"),
      quantizeInt8(col(vecCol)).as("q8"))
    val refined = l2TopK(cand.join(c8, Seq("neighbor_id"))
      .join(broadcast(q8), Seq("query_id"))
      // slim before the window (the scoreAndRank note): the int8
      // code structs stay out of the refine sort
      .select(col("query_id"), col("neighbor_id"), aggregate(
        zip_with(col("q8").getField("q"), col("c8").getField("q"),
          (a, b) => {
            val x = a.cast(DoubleType) / col("q8").getField("scale")
            val y = b.cast(DoubleType) / col("c8").getField("scale")
            (x - y) * (x - y)
          }),
        lit(0.0d), (acc, v) => acc + v).as("sq8_d2")), "sq8_d2", refineTo)
      .select(col("query_id"), col("neighbor_id"))
    // exact fixed-point re-score of ONLY the refined survivors
    exactL2TopK(Some(refined), queries, corpus, idCol, vecCol, k)
  }

  /** Exact fixed-point L2² top-k (ascending distance, ties → ascending
    * id) — the ground truth PQ approximates; same broadcast-queries ×
    * one-corpus-scan shape as [[bruteTopK]]. */
  def bruteTopKL2(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame =
    exactL2TopK(None, queries, corpus, idCol, vecCol, k)

  /** SQ8 (scalar-quantized int8) ANN — the third compression point on
    * the ANN ladder, between full-precision brute force and PQ codes
    * (FAISS's `SQ8` flat index): the corpus is scanned as int8 vectors
    * (4× smaller than float32 — at 100 TB of embeddings that is the
    * difference between a memory-resident scan and a disk-bound one),
    * an integer-dot shortlist of `shortlist` candidates per query is
    * ranked, and the shortlist alone is re-scored against the original
    * float vectors for an exact top-k.
    *
    * The scale cancellation makes the shortlist score clean: with
    * symmetric per-vector quantization q_i = round(x_i·s), the cosine
    * of the DEQUANTIZED vectors is Σq_i·c_i / (‖q‖·‖c‖) — both scale
    * factors cancel, so the approximate score is pure int64 arithmetic
    * (deterministic across engines) with one double division at the
    * end. Unlike IVF/PQ this prunes nothing — it is a scan-cost
    * reducer, not a candidate pruner — so its honest 100 TB role is
    * composed INSIDE an IVF cell scan; standalone it keeps brute-force
    * exactness guarantees at a quarter of the memory traffic.
    *
    * Returns the [[bruteTopK]] shape; `cos_sim` is the EXACT reranked
    * cosine, so the quality gate is a recall contract against
    * [[bruteTopK]] (x71), and with shortlist ≥ |corpus| the operator
    * degenerates to exact brute force (the x15b/x53b-style gate). */
  def sq8TopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              shortlist: Int = 50): DataFrame = {
    def int8WithNorm(df: DataFrame, idAs: String, qAs: String, n2As: String) =
      df.select(col(idCol).as(idAs),
          quantizeInt8(col(vecCol)).getField("q").as(qAs))
        .withColumn(n2As, aggregate(
          transform(col(qAs), v => v.cast(LongType) * v.cast(LongType)),
          lit(0L), (acc, x) => acc + x))
    val cq = int8WithNorm(corpus, "neighbor_id", "cq", "cn2")
    val qq = int8WithNorm(queries, "query_id", "qq", "qn2")
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id").asc)
    val idot = aggregate(
      zip_with(col("qq"), col("cq"),
        (a, b) => a.cast(LongType) * b.cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    val short = cq.join(broadcast(qq), col("query_id") =!= col("neighbor_id"))
      // slim before the window (the scoreAndRank note): the int8
      // vectors stay out of the shortlist sort
      .select(col("query_id"), col("neighbor_id"),
        (idot.cast(DoubleType) / sqrt(col("qn2").cast(DoubleType)
          * col("cn2").cast(DoubleType))).as("approx_cos"))
      .withColumn("__rk", row_number().over(wA))
      .filter(col("__rk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val scored = short.join(corpusPrep(corpus, idCol, vecCol),
        Seq("neighbor_id"))
      .join(broadcast(queryPrep(queries, idCol, vecCol)), Seq("query_id"))
      .withColumn("cos_sim", qcCos)
    scoreAndRank(scored, k)
  }

  /** Johnson–Lindenstrauss random projection to `dOut` dimensions with
    * the deterministic ±1 hyperplane family ([[coef]] — xxhash64, no
    * driver randomness): y_j = Σ_i x_i·coef(j,i) / √dOut. Distances are
    * preserved within (1±ε) w.h.p. for dOut = O(log n / ε²) — the
    * cheap pre-LSH / pre-clustering dimension cut when D is large
    * (e.g. 4096-d embeddings → 64-d sketches = 64× less shuffle and
    * broadcast bytes on every downstream similarity op). One
    * projection is a per-row map — no shuffle; at 100 TB it rides the
    * ingest scan. */
  def randomProject(vec: Column, dOut: Int): Column =
    transform(sequence(lit(0), lit(dOut - 1)), j =>
      (aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast(DoubleType) * coef(j, i)),
        lit(0.0d), (acc, v) => acc + v)
        / sqrt(lit(dOut.toDouble))).cast(FloatType))

  /** IVF (inverted-file) ANN — the other classic scale path: a coarse
    * quantizer splits the corpus into `nlist` cells; each query probes
    * only its `nprobe` nearest cells.
    *
    *  - Centroids: the `nlist` corpus vectors with the smallest
    *    xxhash64(id) — a deterministic uniform sample, no driver-side
    *    randomness, no iterative k-means (good enough as a coarse
    *    quantizer; swappable for trained centroids).
    *  - Assignment: one broadcast pass over the corpus, cell = argmax
    *    cosine vs centroids (`max(struct(cos, id))` — no window shuffle).
    *  - Search: probe lists meet assigned cells in a hash join on
    *    cell id — the only shuffle that scales with corpus size.
    *
    * With nprobe = nlist this degenerates to exact brute force (every
    * cell probed), which the test suite uses as an equivalence oracle
    * — a property independent of how the centroids were obtained, so
    * it also pins the trained-centroid path.
    *
    * `trainIters` > 0 runs that many Lloyd (k-means) refinement steps
    * on the hash-sampled seeds: assign corpus vectors to their nearest
    * centroid, recompute each cell's elementwise mean. Each step is
    * one broadcast assignment pass + one (cell, dimension) aggregation
    * — at 100 TB train on a `sample()` of the corpus instead (the
    * centroids only need to see the distribution, not every row). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              trainIters: Int = 0): DataFrame = {
    val cents = ivfTrain(corpus, idCol, vecCol, nlist, trainIters)
    val assigned = ivfAssign(corpus, idCol, vecCol, cents)
    ivfSearchAssigned(queries, idCol, vecCol, assigned, cents, k, nprobe)
  }

  private def centCos(v: Column, n: Column): Column =
    VectorExprs.dot(v, col("cent_v")) / (n * col("cent_n"))

  /** Train the coarse quantizer: `nlist` hash-sampled seed vectors +
    * `trainIters` Lloyd steps. Returns (cent_id, cent_v, cent_n) —
    * the persistable index STATE ([[ivfAssign]] consumes it). */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, trainIters: Int = 0): DataFrame = {
    val c = corpusPrep(corpus, idCol, vecCol)
    val seeds = seedDraw(c, nlist)
      .select(col("neighbor_id").as("cent_id"), col("cv").as("cent_v"),
        col("cn").as("cent_n"))
    // the trained centroids are ≤ nlist KB-grain rows consumed MANY
    // times (the residual assign's broadcast, centQ, the probe
    // assign, the persist write) — without materialization every
    // consumer re-runs the seed draw + every Lloyd step (at corpus
    // scale each re-evaluation is a full n×nlist scoring pass).
    // Checkpoint ONCE at the definition grain: same rows, and every
    // consumer now reads one materialized evaluation — which also
    // pins the float centroid means to a single fold instead of one
    // per consumer.
    (1 to trainIters).foldLeft(seeds) { (cur, _) =>
      // one Lloyd step: every vector joins its nearest centroid's id,
      // then the elementwise mean per cell: explode to (cell, pos, v),
      // average, reassemble position-sorted — empty cells drop (fewer,
      // denser cells is fine for a coarse quantizer)
      c.select(col("neighbor_id"), col("cv"))
        .join(nearestCell(c, cur), Seq("neighbor_id"))
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cell").as("cent_id"),
          transform(col("pm"), e => e.getField("m").cast("float"))
            .as("cent_v"))
        .withColumn("cent_n", VectorExprs.norm(col("cent_v")))
    }.localCheckpoint(true)
  }

  /** Assign vectors to FIXED centroids — the index-INSERT step: one
    * broadcast argmax pass over exactly the rows being inserted, so
    * admitting a new batch into a standing IVF index costs O(|batch|),
    * never a corpus rescan or retrain (the x32/x41 incremental
    * discipline, for vectors). Returns (cell, neighbor_id, cv, cn). */
  def ivfAssign(batch: DataFrame, idCol: String, vecCol: String,
                cents: DataFrame): DataFrame = {
    val prep = corpusPrep(batch, idCol, vecCol)
    prep.join(nearestCell(prep, cents), Seq("neighbor_id"))
      .select(col("cell"), col("neighbor_id"), col("cv"), col("cn"))
  }

  /** The nearest centroid of each prep row (neighbor_id, cv, cn) by
    * cosine, ties to the larger cent_id: (neighbor_id, cell). The
    * argmax runs over SLIM rows — the n×nlist join output projects to
    * (id, cos, cent_id) ~24 B BEFORE the aggregation, and callers join
    * the vector payload back by id. Carrying cv through the agg (a
    * first(cv) form) made the struct-max sort-aggregate spill
    * n×nlist×|vec| bytes (~240 GB at 200k×2048, measured disk-full,
    * and the same fat shuffle at 100 TB). */
  private def nearestCell(prep: DataFrame, cents: DataFrame): DataFrame =
    prep.join(broadcast(cents))
      .select(col("neighbor_id"),
        struct(centCos(col("cv"), col("cn")).as("cos"),
          col("cent_id")).as("sc"))
      .groupBy(col("neighbor_id"))
      .agg(max(col("sc")).getField("cent_id").as("cell"))

  /** Probe-and-score over a pre-assigned corpus (the standing index
    * table). Split from [[ivfTopK]] so assignment state persists and
    * accretes across ingest batches. */
  def ivfSearchAssigned(queries: DataFrame, idCol: String, vecCol: String,
                        assigned: DataFrame, cents: DataFrame,
                        k: Int, nprobe: Int): DataFrame = {
    val probes = probeAssign(queries, idCol, vecCol, cents, nprobe)
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", qcCos)
    scoreAndRank(scored, k)
  }

  /** The [[annDifficulty]] verdict as one conservative scalar: true
    * only when EVERY probe query measures prunable — a single
    * concentrated probe downgrades the route to exact. The collect is
    * a 1-row scalar decision (admission-gate idiom), made once per
    * index deployment, not per query. */
  def annPrunable(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int = 5,
                  prunableAt: Double = 2.0): Boolean = {
    val rows = annDifficulty(corpus, queries, idCol, vecCol, k,
      prunableAt).agg(min(col("ivf_prunable"))).collect()
    rows.nonEmpty && !rows(0).isNullAt(0) && rows(0).getBoolean(0)
  }

  /** Executable rerank sizing for the IVFPQ route — the
    * lgkFor/bandsFor discipline applied to the rerank knob: the
    * exact-rerank pool must scale with what the probes RETURN
    * (nprobe cells × expected cell occupancy n/nlist), padded ×1.5
    * for cell-size skew, floored at 200 so tiny corpora keep a
    * meaningful pool. A FLAT rerank is the measured failure mode
    * (SCALE.md round-7 clustered rehearsal): rerank=200 holds
    * recall@5 = 1.000 at 31-vector cells and collapses to 0.638 at
    * 312-vector cells with RC unchanged — ADC quantization error
    * ranks the true neighbor below position 200 inside the probed
    * set, and a pool smaller than the probed return can't recover
    * it. Round15Spec pins the negative control: flat-200 FAILS the
    * ≥0.94 recall contract on the 20k clustered corpus where this
    * sizing holds it at 1.000. */
  def rerankFor(n: Long, nlist: Int, nprobe: Int): Int = {
    require(n >= 0 && nlist > 0 && nprobe > 0,
      s"rerankFor: n=$n nlist=$nlist nprobe=$nprobe")
    math.max(200, math.ceil(1.5d * nprobe * n.toDouble / nlist).toInt)
  }

  /** Executable IVF cell-count sizing — the rerankFor discipline
    * applied to the index GEOMETRY, closing the same class of gap:
    * a flat nlist=16 that reads fine at 2k vectors means a 1e9-vector
    * lake gets 62M-vector cells (nprobe of anything probes most of
    * the corpus — the index stops pruning). The rule:
    * min(4·√n, n/64) rounded UP to a power of two, clamped
    * [16, 65536] — 4√n is the published FAISS training guidance at
    * scale; the n/64 occupancy cap keeps cells trainable on small
    * corpora (below the n = 65536 crossover the cap binds, above it
    * √n does). Measured on the clustered rehearsal lake (SCALE.md
    * round 8): nlistFor(2000)=32 and nlistFor(20000)=512 both hold
    * recall@5 = 1.000 at 12.5% probed with the rerankFor pool. */
  def nlistFor(n: Long): Int = {
    require(n >= 0, s"nlistFor: n=$n")
    val target = math.ceil(
      math.min(4.0 * math.sqrt(n.toDouble), n.toDouble / 64.0)).toLong
    val t = math.min(65536L, math.max(16L, target))
    // exact integer power-of-two round-up — a log/log2 formulation
    // can flip the ceil at exact powers of two (Math.log is 1-ulp
    // accurate and platform-variable), doubling the geometry on some
    // JVMs; bit arithmetic is deterministic everywhere
    val hb = java.lang.Long.highestOneBit(t)
    val p2 = if (hb == t) t else hb << 1
    math.min(65536L, p2).toInt
  }

  /** Probe width for a sized cell count: nlist/8 = 12.5% of the
    * corpus probed (the operating point every rehearsal row holds
    * recall at), floored at 4 cells so tiny indexes keep a quorum. */
  def nprobeFor(nlist: Int): Int = {
    require(nlist > 0, s"nprobeFor: nlist=$nlist")
    math.max(4, nlist / 8)
  }

  /** n-INDEPENDENT exact-stage budget for the two-stage refined tail
    * ([[ivfpqSearchRefined]]): the SQ8 middle stage ranks the
    * rerankFor pool well enough that the exact fixed-point re-score
    * only needs a CONSTANT shortlist — measured recall@5 = 1.000 at
    * refineTo = 50 on both the 20k (pool 3750) and 200k (pool 37500)
    * clustered lakes (SCALE.md round-9 two-stage table), i.e. the
    * full-vector fetch per query drops from O(n·nprobe/nlist) to
    * O(refineFor(k)). 10·k keeps headroom above the measured point
    * for larger k; floored at 50. The ROUTER still prefers the
    * single-stage exact rerank: at in-memory scale the SQ8 stage's
    * extra join/window stages measured 3× slower than just exact-
    * scoring the pool (same table) — the two-stage tail is the
    * deployment choice when the exact stage's full-vector fetch is
    * IO-bound (remote store, cold cache) and the int8 codes are
    * persisted in the standing ledger next to the PQ codes. */
  def refineFor(k: Int): Int = {
    require(k > 0, s"refineFor: k=$k")
    math.max(50, 10 * k)
  }

  /** Over-fetch width for POST-FILTERED ANN search ([[
    * annTopKFilteredRouted]]'s ANN branch): fetch k/selectivity
    * candidates in expectation before the metadata filter, ×4 safety
    * for filter-geometry correlation (a filter that deletes whole
    * neighborhoods leaves fewer survivors among the NEAREST
    * candidates than the global rate predicts). Measured on the
    * clustered rehearsal lake (SCALE.md round-9 filtered-search
    * table): at sel = 0.25 with the geometry-UNcorrelated id-hash
    * filter, recall@5 = 1.0 at this width; the geometry-CORRELATED
    * whole-cluster filter is the measured hard case recorded next to
    * it (post-filter recall collapses when probes never reach
    * surviving cells — the PRE-filter exact branch exists precisely
    * for that regime, and [[annTopKFilteredRouted]] widens nprobe by
    * 1/sel so probes keep reaching survivors as selectivity drops). */
  def overfetchFor(k: Int, selectivity: Double): Int = {
    require(k > 0, s"overfetchFor: k=$k")
    require(selectivity > 0.0d && selectivity <= 1.0d,
      s"overfetchFor: selectivity=$selectivity must be in (0, 1]")
    math.max(k, math.ceil(4.0d * k / selectivity).toInt)
  }

  /** Shard count for a corpus too big for one index's cell budget —
    * the executable form of the above-clamp seam [[nlistFor]] leaves
    * prose-only: nlistFor clamps at 65536 cells, so once the UNCLAMPED
    * sizing target (min(4√n, n/64) — the same arithmetic nlistFor
    * rounds up) exceeds the clamp, per-cell occupancy grows linearly
    * with n and probes stop pruning. A deployment shards the corpus by
    * id hash into ceil(target/65536) independent standing indexes —
    * each shard's own nlistFor(n/shards) lands back inside the clamp,
    * builds parallelize per shard, and search is per-shard probe +
    * merged top-k ([[ivfpqMergeTopK]]). Crossovers at the default
    * clamp: 1 shard through n ≈ 268M vectors (where 4√n hits
    * 65536), 2 shards to ~1.07B, then √-growth — a 100 TB /
    * 1e10-vector lake is 7 shards. `cellClamp` parameterizes the
    * per-index cell budget (a capacity choice — executor memory,
    * per-node index residency); the default is [[nlistFor]]'s
    * clamp. */
  def annShardsFor(n: Long, cellClamp: Int = 65536): Int = {
    require(n >= 0, s"annShardsFor: n=$n")
    require(cellClamp > 0, s"annShardsFor: cellClamp=$cellClamp")
    val target = math.ceil(
      math.min(4.0 * math.sqrt(n.toDouble), n.toDouble / 64.0))
    math.max(1, math.ceil(target / cellClamp.toDouble).toInt)
  }

  /** Deterministic shard assignment for a sharded standing index:
    * uniform id-hash split, so every shard's occupancy tracks n/shards
    * and the SAME expression reroutes ingest batches and rebuild
    * backfills to their shard (the shard key belongs in the ledger
    * path next to the lake/quantizer recipe — [[hashBlobLakeKey]]'s
    * identity discipline). */
  def annShardKey(id: Column, shards: Int): Column =
    pmod(xxhash64(id), lit(shards.toLong))

  /** Merge per-shard top-k results into the global top-k: each shard's
    * [[ivfpqSearchEncoded]] already returns its local top-k ranked by
    * (reranked exact) distance, so the merge is a union of k·shards
    * rows per query re-ranked once — a window over ≤ k·shards rows,
    * never data-grain. With each shard's recall contract held, the
    * union contains the true top-k (every true neighbor lives in
    * exactly one shard and survives its shard's local top-k because
    * local rank ≤ global rank ≤ k), so sharded == unsharded search is
    * spec-pinned as EQUALITY on the deterministic lake, not merely a
    * recall bound (Round16Spec). */
  def ivfpqMergeTopK(perShard: Seq[DataFrame], k: Int): DataFrame = {
    require(perShard.nonEmpty, "ivfpqMergeTopK: no shards")
    l2TopK(perShard.map(_.select(col("query_id"), col("neighbor_id"),
      col("approx_d2"))).reduce(_.unionAll(_)), "approx_d2", k)
  }

  /** Standing-index GEOMETRY-DRIFT advisor — the x106/x61 drift-gate
    * discipline applied to the index tier, closing the accretion
    * lifecycle hole: st23's fold freezes the index DEFINITION (cents
    * + codebook, trained at the initial n) and accretes encoded
    * batches forever, so after heavy accretion nlist stays at
    * nlistFor(n₀) while nlistFor(n_now) wants far more cells — recall
    * HOLDS (rerankFor scales the exact pool with n) but per-query
    * cost grows linearly with occupancy, silently. This pane reads
    * ONLY the standing encoded state (cell, neighbor_id, …) — one
    * KB-per-cell aggregation, never the corpus — and recommends a
    * rebuild when the sizing rule's answer for the CURRENT population
    * has outgrown the trained geometry by `rebuildFactor` (2 = one
    * full power-of-two step of [[nlistFor]], so jitter around a
    * boundary can't flap the trigger). The 1-row collect is the
    * admission-gate scalar idiom: one decision per accretion audit,
    * not per row — [[nlistFor]] is the single owner of the sizing
    * arithmetic (re-deriving it in SQL would be the parallel-
    * derivation hole x112's rerank column had). */
  def indexGeometryDrift(encoded: DataFrame, trainedNlist: Int,
                         rebuildFactor: Int = 2): DataFrame = {
    require(trainedNlist > 0 && rebuildFactor >= 1,
      s"indexGeometryDrift: trainedNlist=$trainedNlist " +
        s"rebuildFactor=$rebuildFactor")
    val s = indexGeometryStats(encoded).head()
    val nNow = s.getLong(0)
    val (sized, rec) = geometryAdvice(nNow, trainedNlist,
      rebuildFactor)
    encoded.sparkSession.range(1).select(
      lit(nNow).as("n_now"),
      lit(s.getLong(1)).as("n_cells_occupied"),
      lit(s.getDouble(2)).as("mean_occ"),
      lit(s.getLong(3)).as("max_occ"),
      lit(trainedNlist.toLong).as("trained_nlist"),
      lit(sized.toLong).as("sized_nlist_now"),
      lit(rec).as("rebuild_recommended"))
  }

  /** [[indexGeometryDrift]]'s measured state as a LAZY 1-row
    * relation — (n_now, n_cells_occupied, mean_occ, max_occ) — so
    * the ops console can union one poll's stats across every
    * registered ledger and collect ONCE (one Spark action per poll,
    * not one per advisor — VERDICT r10). The advisor and the console
    * both derive their decision from this via [[geometryAdvice]];
    * neither re-derives the aggregation. */
  private[graft] def indexGeometryStats(encoded: DataFrame)
      : DataFrame =
    encoded
      .groupBy(col("cell"))
      .agg(countDistinct(col("neighbor_id")).as("occ"))
      .agg(coalesce(sum(col("occ")), lit(0L)).as("n_now"),
        count(lit(1)).as("n_cells_occupied"),
        coalesce(round(avg(col("occ")), 2), lit(0.0d)).as("mean_occ"),
        coalesce(max(col("occ")), lit(0L)).as("max_occ"))

  /** The geometry-drift DECISION from the measured stats —
    * [[nlistFor]] stays the single owner of the sizing arithmetic;
    * advisor pane and ops console both call this (a second
    * derivation would be the parallel-derivation hole the advisor
    * tier exists to close). Returns (sizedNlistNow, recommended). */
  private[graft] def geometryAdvice(nNow: Long, trainedNlist: Int,
                                    rebuildFactor: Int = 2)
      : (Int, Boolean) = {
    val sized = nlistFor(nNow)
    (sized, sized >= rebuildFactor.toLong * trainedNlist)
  }

  /** The router's RESOLVED decision: the branch taken plus the sized
    * knobs it actually used. On the exact route the geometry knobs
    * are 0 (no index exists to size). A pane publishing these columns
    * (x112) witnesses the router's own values — a parallel
    * re-derivation of rerankFor would keep a pane green even if the
    * router stopped calling it. */
  final case class AnnRoute(route: String, nlist: Int, nprobe: Int,
                            rerank: Int, result: DataFrame)

  /** RC-GATED ANN — the x93 preflight wired into the operator itself
    * (connectedComponentsAuto's discipline: measure, then route,
    * never assume): when the probe queries all measure prunable
    * (clustered corpus, RC ≥ gate) the IVFPQ index path runs; in the
    * concentration regime (the measured sf1 recall collapse — RC ≈
    * 1.3, recall 0.44 at 12.5% probed) cell pruning cannot hold
    * recall and the exact fixed-point scan IS the correct plan, so
    * that is what runs. Both branches emit the same
    * (query_id, rank, neighbor_id, approx_d2) shape.
    *
    * Id contract: queries and corpus share one id namespace (see
    * [[annDifficulty]] — the preflight's self-pair exclusion and both
    * branches' `query_id =!= neighbor_id` assume it); re-key
    * independently-numbered query sets before routing.
    *
    * The decision comes back as data ([[AnnRoute]]): `.result` is
    * the top-k, `.route` the branch the annPrunable vote took
    * ("ivfpq" | "exact"), plus the sized knobs — consumers publish
    * what the router resolved rather than re-deriving the sizing
    * rules. Knobs at 0 (the default) size from the corpus via
    * [[nlistFor]]/[[nprobeFor]]/[[rerankFor]] — flat constants are
    * the measured failure mode (a flat rerank collapses recall as
    * cells grow; a flat nlist stops pruning as the corpus grows);
    * positive pins the knob. Negative values are REJECTED — rerank =
    * 0 used to mean "no rerank" in ivfpqTopK's vocabulary, and a
    * stale caller passing a negative to disable reranking would get
    * silent ADC-only results. ADC-only search is deliberately not
    * expressible through the router (its recall contract assumes the
    * sized exact-rerank pool); call [[ivfpqTopK]] with rerank = 0
    * directly for that. */
  def annTopKAutoSized(queries: DataFrame, corpus: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nlist: Int = 0, nprobe: Int = 0, m: Int = 8,
                       ksub: Int = 16, rerank: Int = 0,
                       prunableAt: Double = 2.0,
                       probeCap: Int = 16): AnnRoute = {
    require(nlist >= 0 && nprobe >= 0 && rerank >= 0,
      s"annTopKAutoSized: knobs must be >= 0 (0 = size from corpus); " +
        s"got nlist=$nlist nprobe=$nprobe rerank=$rerank — a negative " +
        "rerank does NOT disable reranking here (use ivfpqTopK " +
        "directly for ADC-only search)")
    // the preflight prices one corpus scan PER PROBE — measuring with
    // the full query set would cost as much as the exact scan it
    // exists to avoid, so the verdict comes from a deterministic
    // STRATIFIED probe sample: one query per xxhash64(id) bucket
    // (smallest id wins the bucket — reproducible on any engine/
    // cluster). The round-6 form took the first probeCap by id, which
    // on an id-CORRELATED corpus (ids assigned cluster-by-cluster —
    // common for ingest-ordered lakes) measures one corner of the
    // space and can vote prunable for a corpus whose far side
    // concentrates; hash-bucketing spreads the probes across the id
    // space regardless of how ids were assigned (Round14Spec pins
    // verdict stability under id relabeling). A deployment amortizes
    // further by calling annPrunable once per index build.
    val probes = stratifiedProbes(queries, idCol, probeCap)
    if (annPrunable(corpus, probes, idCol, vecCol, k, prunableAt)) {
      // sizing geometry + rerank pool costs one count() — only paid
      // on the prunable branch AND only when a knob is actually left
      // to size (a caller supplying all three never pays the pass);
      // index training already makes several corpus passes, and a
      // deployment amortizes it with the annPrunable vote (once per
      // build, not per query batch)
      lazy val n = corpus.count()
      val nl = if (nlist > 0) nlist else nlistFor(n)
      val np = if (nprobe > 0) nprobe else nprobeFor(nl)
      val rr = if (rerank > 0) rerank else rerankFor(n, nl, np)
      AnnRoute("ivfpq", nl, np, rr,
        ivfpqTopK(queries, corpus, idCol, vecCol, k, nl,
          np, m, ksub, coarseIters = 1, pqIters = 1, rerank = rr))
    } else
      AnnRoute("exact", 0, 0, 0,
        bruteTopKL2(queries, corpus, idCol, vecCol, k))
  }

  /** `probedCells` is Some only on the ANN branch with
    * `pruneCells = true`: the distinct cells the FULL query batch's
    * probes pushed down as a partition filter — the witness list for
    * the files-read == cells-probed contract (x123's discipline on
    * the filtered path). None on the exact branches (no index is
    * probed) and on the unpruned ANN path. `cellUnionFrac` (same
    * branches) = probedCells.length / nlist — the DEGENERACY
    * witness (VERDICT r11 wrong #3): near 1.0 the partition filter
    * read the whole encoded estate and "pruning" saved nothing;
    * the pruning contract only holds while |batch|·nprobe ≪ nlist
    * (see [[ivfpqSearchPruned]]). `subbatchCells` (nonempty only
    * with `cellBudget` > 0) is the per-sub-batch cell unions of the
    * probe-locality batched scans — each scan opened ≤ budget cell
    * directories even when the batch union saturates. */
  final case class FilteredRoute(route: String, nSurvivors: Long,
                                 nprobe: Int, kPrime: Int,
                                 recallPreflight: Double,
                                 result: DataFrame,
                                 probedCells: Option[Array[Long]] = None,
                                 cellUnionFrac: Option[Double] = None,
                                 subbatchCells: Seq[Array[Long]] =
                                   Seq.empty)

  /** METADATA-FILTERED top-k over a standing index — the production
    * vector-store query shape ("nearest neighbors WHERE lang = 'en'
    * AND license = 'permissive'"), routed between the two honest
    * strategies (Weaviate/FAISS's pre- vs post-filter fork, as an
    * executable rule):
    *
    *  - PRE-FILTER EXACT when the filter is selective: count the
    *    survivors (one metadata-pruned scan — `pred`'s columns only,
    *    never the vectors) and, below `bruteCutoff`, brute-force the
    *    survivor set. EXACT by construction — at 2¹⁶ survivors the
    *    scan is small, and no over-fetch heuristic can beat exact on
    *    a set that fits one broadcast scan. This branch is also the
    *    only SAFE one when the filter correlates with geometry
    *    (deleting whole neighborhoods): probes can't miss survivors
    *    that are scored directly.
    *  - POST-FILTER ANN above the cutoff: search the standing index
    *    with k′ = [[overfetchFor]](k, sel) candidates per query and
    *    nprobe WIDENED by 1/sel (capped at nlist) — as selectivity
    *    drops, survivors thin out per cell, so both the candidate
    *    pool and the probed fraction must grow for survivors to keep
    *    appearing among candidates — then keep the top-k that satisfy
    *    `pred` (one broadcast join of the |q|·k′ candidate rows
    *    against the corpus's metadata projection; the corpus is
    *    never re-scanned at vector width).
    *
    * The filter evaluates on `corpus`'s metadata columns; results are
    * (query_id, rank, neighbor_id, approx_d2) like every search tail.
    * DELETION-STATE COUPLING: `corpus` must reflect the same
    * tombstone state as `encoded` — the EXACT branch scores
    * survivors from `corpus` directly, so a caller holding a
    * forgotten-from bundle must pass the lake anti-joined against
    * [[annTombstones]] too, or deleted ids resurface on exactly the
    * route that is supposed to be safest.
    *
    * The ANN branch is PREFLIGHT-GUARDED, because its failure mode is
    * invisible to the sizing rules: filter-GEOMETRY CORRELATION (a
    * predicate that deletes whole neighborhoods) pushes the nearest
    * survivors below any affordable over-fetch depth — measured 0.51
    * recall on the whole-cluster filter at 25% selectivity, while the
    * same-selectivity hash filter holds 1.0 (SCALE.md filtered-search
    * table). Selectivity is measurable up front; correlation is not —
    * so the router MEASURES the outcome on the deterministic
    * stratified probe sample (the [[annPrunable]] discipline): ANN
    * post-filter recall vs the exact filtered twin over ≤ probeCap
    * probes, one survivor-set scan at probe width. Below
    * `recallFloor` the whole batch reroutes to the exact survivor
    * scan (`exact_filtered_fallback`) — correct by construction,
    * costing what the over-fetch heuristic was failing to avoid.
    *
    * `pruneCells = true` COMPOSES the filtered router with the
    * cell-partitioned layout (x123): the ANN branch routes through
    * [[ivfpqSearchPruned]], so the router's own WIDENED nprobe (the
    * 1/sel rule) becomes a partition filter and the filtered path
    * prunes FILES, not just compute — the round-9 scale-killer (the
    * filtered router's row-level read of the whole encoded ledger)
    * closed by composition, not new machinery. Requires `encoded` to
    * be the cell-layout read ([[loadIndexCellLayout]]); on a
    * non-layout ledger the filter is a plain row filter (results
    * identical, no file pruning — equality is by construction, the
    * ADC join never matches outside probed cells). The PREFLIGHT runs
    * on the pruned path too: the measured recall that routes the
    * batch is measured on the exact plan the batch will run.
    *
    * `cellBudget` > 0 (with `pruneCells`) COMPOSES probe-locality
    * batching into the ANN branch ([[ivfpqSearchPrunedBatched]]):
    * the router's own 1/sel-widened nprobe times a production batch
    * width is exactly the regime where the single probe union
    * saturates and file pruning silently degenerates (SCALE.md
    * round-11 honest limit) — batched, each scan opens ≤ budget
    * cell directories at ANY batch width, rows identical (the
    * preflight measures on the batched plan too). */
  def annTopKFilteredRouted(queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String,
                            pred: Column, k: Int,
                            encoded: DataFrame, cents: DataFrame,
                            codebook: DataFrame, nlist: Int,
                            m: Int = 8,
                            bruteCutoff: Long = 65536L,
                            recallFloor: Double = 0.94,
                            probeCap: Int = 16,
                            pruneCells: Boolean = false,
                            cellBudget: Int = 0)
      : FilteredRoute = {
    // one shard at the caller's nlist: no bundle load, no cents count
    val (r, np) = filteredRouteCore("annTopKFilteredRouted", queries,
      corpus, idCol, vecCol, pred, k,
      Seq(ShardIndex(cents, codebook, encoded, nlist)), m, bruteCutoff,
      recallFloor, probeCap, pruneCells, cellBudget)
    FilteredRoute(r.route, r.nSurvivors, np.headOption.getOrElse(0),
      r.kPrime, r.recallPreflight, r.result, r.shardCells.headOption,
      r.shardCellFrac.headOption,
      r.shardSubbatchCells.headOption.getOrElse(Seq.empty))
  }

  /** [[FilteredRoute]] for the SHARDED estate: the route and the
    * batch-global knobs once, plus the per-shard witnesses —
    * `shardNprobe(s)` / `shardCells(s)` are shard s's widened probe
    * count and the distinct cells its pruned scan actually read
    * (empty on the exact branches, where no index is probed);
    * `shardCellFrac(s)` = shardCells(s).length / shard s's nlist,
    * the per-shard pruning-degeneracy witness (near 1.0 the shard's
    * scan read its whole encoded part — see [[ivfpqSearchPruned]]'s
    * file-pruning contract); `shardSubbatchCells(s)` (nonempty only
    * with `cellBudget` > 0) is shard s's per-sub-batch cell unions
    * under probe-locality batching — each of its scans opened ≤
    * budget directories even when its batch union saturates. */
  final case class ShardedFilteredRoute(
      route: String, nSurvivors: Long, kPrime: Int,
      recallPreflight: Double, result: DataFrame,
      shardNprobe: Seq[Int] = Seq.empty,
      shardCells: Seq[Array[Long]] = Seq.empty,
      shardCellFrac: Seq[Double] = Seq.empty,
      shardSubbatchCells: Seq[Seq[Array[Long]]] = Seq.empty)

  /** [[annTopKFilteredRouted]] composed with the SHARDED estate —
    * the production query shape ("nearest WHERE lang = 'en'") at the
    * scale sharding exists for (VERDICT r10 #1): above the cell
    * clamp (~268M vectors, [[annShardsFor]]) no single bundle can
    * hold the index, so the filtered router runs per shard and
    * merges — the same core as the single-bundle router, with one
    * leg per shard ([[filteredRouteCore]]):
    *
    *  - The ROUTE decides ONCE for the whole batch, from the GLOBAL
    *    survivor count — shards routing divergently would stitch
    *    exact rows to over-fetched ANN rows with no single recall
    *    statement. EXACT branches are shard-free.
    *  - The ANN branch probes each shard at its own widened nprobe
    *    (the 1/sel rule against ITS nlist, read from its cents —
    *    shards are sized independently) through
    *    [[ivfpqSearchPruned]] over its cell-layout bundle, so every
    *    shard prunes FILES like x128, then merges the per-shard k′
    *    candidate lists ([[ivfpqMergeTopK]] at k′: every global
    *    candidate survives its shard's local k′ because local rank ≤
    *    global rank) and post-filters the MERGED list. The PREFLIGHT
    *    measures recall on that merged plan.
    *
    * Per-shard rerank sizes against n/|shards| (the uniform
    * [[annShardKey]] split's expected occupancy) rather than
    * counting each shard — the router already pays two corpus-count
    * scans; |shards| more would double the preflight's scan bill at
    * estate scale for a number the hash split already determines.
    * `rerankSource` is the full corpus: rerank joins by candidate
    * id, and a shard's candidates only match its own rows.
    *
    * DELETION-STATE COUPLING (as [[annTopKFilteredRouted]]): each
    * shard's encoded state is tombstone-suppressed here, so `corpus`
    * must reflect the same deletes or the EXACT branches resurface
    * them. `shardPaths`/`versions` follow [[annForgetSharded]]'s
    * positional contract: shard s of the same hash split that routed
    * ingest. */
  def annTopKFilteredRoutedSharded(queries: DataFrame,
                                   corpus: DataFrame,
                                   idCol: String, vecCol: String,
                                   pred: Column, k: Int,
                                   shardPaths: Seq[String],
                                   versions: Seq[String],
                                   m: Int = 8,
                                   bruteCutoff: Long = 65536L,
                                   recallFloor: Double = 0.94,
                                   probeCap: Int = 16,
                                   cellBudget: Int = 0)
      : ShardedFilteredRoute = {
    require(shardPaths.nonEmpty,
      "annTopKFilteredRoutedSharded: no shard paths")
    require(versions.length == shardPaths.length,
      s"annTopKFilteredRoutedSharded: ${shardPaths.length} shard " +
        s"paths but ${versions.length} versions — the positional " +
        "contract needs one stamp per shard")
    val spark = corpus.sparkSession
    // per-shard geometry from each shard's own bundle: nlist is the
    // cents row count (ground truth, not a re-parse of the version
    // stamp), tombstones are the shard's own
    def loadShards = shardPaths.zip(versions).map { case (p, v) =>
      val (cents, codebook, live) = loadLiveIndex(spark, p, v)
      ShardIndex(cents, codebook, live, cents.count().toInt)
    }
    val (r, np) = filteredRouteCore("annTopKFilteredRoutedSharded",
      queries, corpus, idCol, vecCol, pred, k, loadShards, m,
      bruteCutoff, recallFloor, probeCap, pruneCells = true,
      cellBudget)
    // the per-shard nprobes are witnesses of the probes that ran:
    // surfaced on the ANN route only
    if (r.route == "ann_overfetch") r.copy(shardNprobe = np) else r
  }

  /** One shard of the standing index as [[filteredRouteCore]] reads
    * it: the definition, the live encoded state and its cell count. */
  private final case class ShardIndex(cents: DataFrame,
                                      codebook: DataFrame,
                                      encoded: DataFrame, nlist: Int)

  /** The ONE filtered-router core: a partition-local search per
    * shard, then one global merge (REPOSE's shape). The single-bundle
    * router is the one-shard case — no merge, so its plan is the
    * one-leg plan. `shards` is by-name, forced only on the ANN-sized
    * branches: the exact route never loads or counts an index. Each
    * leg runs [[ivfpqSearchPrunedBatched]] (`pruneCells` with
    * `cellBudget` > 0), [[ivfpqSearchPruned]] (`pruneCells`) or the
    * unpruned [[ivfpqSearchEncoded]] (no cell witnesses). Returns
    * the route with `shardNprobe` unset, plus the per-shard widened
    * nprobe (empty on the exact branch) for each public router to
    * report on the branches its contract names. */
  private def filteredRouteCore(who: String, queries: DataFrame,
                                corpus: DataFrame, idCol: String,
                                vecCol: String, pred: Column, k: Int,
                                shards: => Seq[ShardIndex], m: Int,
                                bruteCutoff: Long, recallFloor: Double,
                                probeCap: Int, pruneCells: Boolean,
                                cellBudget: Int)
      : (ShardedFilteredRoute, Seq[Int]) = {
    require(k > 0, s"$who: k=$k")
    require(bruteCutoff >= 0, s"$who: bruteCutoff=$bruteCutoff")
    require(recallFloor >= 0.0d && recallFloor <= 1.0d,
      s"$who: recallFloor=$recallFloor")
    val survivors = corpus.filter(pred)
    val nSurv = survivors.count()
    require(nSurv > 0, s"$who: the filter matches no corpus rows — " +
      "top-k over an empty survivor set is undefined; widen the " +
      "predicate")
    if (nSurv <= bruteCutoff)
      // exact by construction — recall 1.0 without measuring
      (ShardedFilteredRoute("exact_filtered", nSurv, k, 1.0d,
        bruteTopKL2(queries, survivors, idCol, vecCol, k)), Seq.empty)
    else {
      val n = corpus.count()
      val sel = nSurv.toDouble / n.toDouble
      val kPrime = overfetchFor(k, sel)
      val st = shards
      val nShard = math.max(1L, n / st.length)
      val nps = st.map(s =>
        math.min(s.nlist, math.ceil(nprobeFor(s.nlist) / sel).toInt))
      val meta = corpus.select(col(idCol).as("neighbor_id"),
        pred.as("__keep"))
      def annFiltered(qs: DataFrame)
          : (Seq[Option[Array[Long]]], Seq[Seq[Array[Long]]],
            DataFrame) = {
        val perShard = st.zip(nps).map { case (s, np) =>
          val rr = math.max(rerankFor(nShard, s.nlist, np), kPrime)
          if (pruneCells && cellBudget > 0) {
            // the composed production shape: the 1/sel-widened nprobe
            // is exactly the regime that saturates a single probe
            // union (SCALE.md round-11's honest limit), so the leg
            // runs the probe-locality batched scans — each one opens
            // ≤ budget cell directories regardless of batch width
            val (sub, g) = ivfpqSearchPrunedBatched(qs, idCol, vecCol,
              s.encoded, s.cents, s.codebook, kPrime, np, m,
              rerank = rr, rerankSource = Some(corpus),
              cellBudget = cellBudget)
            (Some(sub.flatten.distinct.sorted.toArray), sub, g)
          } else if (pruneCells) {
            val (cells, g) = ivfpqSearchPruned(qs, idCol, vecCol,
              s.encoded, s.cents, s.codebook, kPrime, np, m,
              rerank = rr, rerankSource = Some(corpus))
            (Some(cells), Seq.empty[Array[Long]], g)
          } else
            (None, Seq.empty[Array[Long]],
              ivfpqSearchEncoded(qs, idCol, vecCol, s.encoded, s.cents,
                s.codebook, kPrime, np, m, rerank = rr,
                rerankSource = Some(corpus)))
        }
        val merged =
          if (perShard.length == 1) perShard.head._3
          else ivfpqMergeTopK(perShard.map(_._3), kPrime)
        (perShard.map(_._1), perShard.map(_._2), l2TopK(
          merged.join(meta, Seq("neighbor_id")).filter(col("__keep")),
          "approx_d2", k))
      }
      val probes = stratifiedProbes(queries, idCol, probeCap)
        .localCheckpoint(true)
      val exactProbe = bruteTopKL2(probes, survivors, idCol, vecCol, k)
      val hit = exactProbe.as("b")
        .join(annFiltered(probes)._3.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id"), "left")
        .agg(count(lit(1)), count(col("l.neighbor_id")))
        .head() // 1-row preflight decision (the advisor idiom)
      val recallEst =
        if (hit.getLong(0) == 0L) 1.0d
        else hit.getLong(1).toDouble / hit.getLong(0).toDouble
      if (recallEst >= recallFloor) {
        val (cells, subCells, result) = annFiltered(queries)
        val pruned = cells.flatten
        (ShardedFilteredRoute("ann_overfetch", nSurv, kPrime, recallEst,
          result, Seq.empty, pruned,
          // per-shard degeneracy witness: cells probed / the shard's
          // own nlist (VERDICT r11 wrong #3)
          pruned.zip(st).map { case (cs, s) =>
            cs.length.toDouble / s.nlist.toDouble },
          if (pruneCells && cellBudget > 0) subCells else Seq.empty),
          nps)
      } else
        (ShardedFilteredRoute("exact_filtered_fallback", nSurv, kPrime,
          recallEst, bruteTopKL2(queries, survivors, idCol, vecCol, k)),
          nps)
    }
  }

  /** The standing ANN index's VERSION STRING (the
    * Learn.qualityModelVersion discipline on the index tier): the
    * full quantizer recipe — cell count, PQ geometry, training
    * iterations, the ×1e7 fixed-point — baked into the ledger
    * identity, so a search can never silently probe cells or decode
    * codes built under a different recipe (a codebook trained at
    * m=8 read back as m=16 would ADC-score garbage with no error). */
  def annIndexVersion(nlist: Int, m: Int, ksub: Int,
                      coarseIters: Int = 1, pqIters: Int = 1): String =
    s"ivfpq-nl$nlist-m$m-ks$ksub-ci$coarseIters-pi$pqIters-fp1e7"

  /** Persist a trained+encoded IVFPQ index as the VERSIONED standing
    * ledger (the x97b/x104b pattern applied to the ANN tier: build
    * once per (lake, recipe), let every search consumer read standing
    * state instead of re-running train+assign+encode per query
    * batch). Three parts: `cents` and `codebook` are the KB-scale
    * index DEFINITION; `encoded` is the index STATE — one
    * (cell, id, sub, code) row set that [[ivfpqEncode]] accretes on
    * ingest and [[ivfpqSearchEncoded]] probes. At 100 TB the encoded
    * state is the corpus compressed ~100× (m bytes per vector), the
    * only corpus-sized thing this surface ever persists. */
  def persistIndex(path: String, version: String, cents: DataFrame,
                   codebook: DataFrame, encoded: DataFrame): Unit =
    graft.sources.VersionedState.write(path, version,
      "cents" -> cents, "codebook" -> codebook, "encoded" -> encoded)

  /** Persist just the index DEFINITION (centroids + codebook, KBs) —
    * the form an INGEST pipeline freezes once and every encode fold
    * reads (st23): the encoded state then accretes separately as the
    * batchId-partitioned ledger the folds write, rather than being
    * snapshotted into this bundle ([[persistIndex]] is the
    * search-consumer snapshot form that carries all three). */
  def persistIndexDef(path: String, version: String, cents: DataFrame,
                      codebook: DataFrame): Unit =
    graft.sources.VersionedState.write(path, version,
      "cents" -> cents, "codebook" -> codebook)

  /** Read the standing definition back as (cents, codebook), failing
    * fast on a version mismatch. */
  def loadIndexDef(spark: SparkSession, path: String, version: String)
      : (DataFrame, DataFrame) = {
    val ps = graft.sources.VersionedState.readParts(spark, path,
      version, "cents", "codebook") // one version gate for the bundle
    (ps(0), ps(1))
  }

  /** True when a COMPLETE standing index of exactly `version` exists
    * at `path` (S10 exists-guard). */
  def indexExists(spark: SparkSession, path: String,
                  version: String): Boolean =
    graft.sources.VersionedState.exists(spark, path, version)

  /** Read the standing index back as (cents, codebook, encoded),
    * failing fast on a version mismatch — the versioned-state
    * contract (a recipe change invalidates every old ledger instead
    * of ADC-scoring against it). */
  def loadIndex(spark: SparkSession, path: String, version: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ps = graft.sources.VersionedState.readParts(spark, path,
      version, "cents", "codebook", "encoded") // one gate, three parts
    (ps(0), ps(1), ps(2))
  }

  // ---- cell-partitioned PHYSICAL LAYOUT (probe → file pruning) ----------

  /** [[persistIndex]] with the encoded part laid out ONE DIRECTORY
    * PER CELL (hive-partitioned on `cell`, pre-shuffled so each cell
    * is one task's write → one file per cell): the physical layout
    * that turns the IVF probe decision into FILE pruning. Row-level
    * reality without it: the ADC join only SCORES probed cells, but
    * the scan still READS the whole encoded ledger to find them. With
    * the layout, a consumer filter `cell IN (probed)` is a partition
    * filter — at 100 TB a query batch probing 128 of 65536 cells
    * opens 128 directories instead of the full m-bytes-per-vector
    * corpus. This is how deployed vector stores lay out IVF lists
    * (FAISS's inverted lists, one file region per list, re-expressed
    * as lake partitioning). */
  def persistIndexCellLayout(path: String, version: String,
                             cents: DataFrame, codebook: DataFrame,
                             encoded: DataFrame): Unit =
    graft.sources.VersionedState.writeLayout(path, version,
      Map("encoded" -> Seq("cell")),
      "cents" -> cents, "codebook" -> codebook,
      "encoded" -> encoded.repartition(col("cell")))

  /** Read a cell-layout bundle back. The partition column round-trips
    * through directory names, where Spark infers INT — re-cast to
    * LONG so joins against cent_id (a vec_id-derived LONG) keep their
    * types without runtime coercion. */
  def loadIndexCellLayout(spark: SparkSession, path: String,
                          version: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cents, codebook, encoded) = loadIndex(spark, path, version)
    (cents, codebook,
      encoded.withColumn("cell", col("cell").cast(LongType)))
  }

  /** The tombstone-aware read of a standing bundle in either layout:
    * [[loadIndexCellLayout]], then [[liveEncoded]] against the
    * bundle's own [[annTombstones]] — what every search consumer of
    * standing state reads (the x119 contract). On a flat bundle `cell`
    * is already LONG, so the optimizer drops the cast and the plan is
    * the flat [[loadIndex]] read's. */
  def loadLiveIndex(spark: SparkSession, path: String, version: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cents, codebook, encoded) =
      loadIndexCellLayout(spark, path, version)
    (cents, codebook, liveEncoded(encoded, annTombstones(spark, path)))
  }

  /** [[ivfpqSearchEncoded]] over a cell-layout ledger with the probe
    * set pushed down as a PARTITION FILTER: collect the batch's
    * probed cells, restrict the encoded scan to those directories,
    * search as usual — [[ivfpqSearchPrunedBatched]] with an unbounded
    * budget (one sub-batch; an empty batch returns no rows). EQUAL to
    * the unpruned search by construction — the ADC join never
    * matches rows outside probed cells anyway (Round17Spec pins the
    * row equality; x123 pins files-read == cells-probed) — the
    * pruning changes what is READ, not what is scored. Returns
    * (probedCells, result) so consumers can witness the pruning that
    * actually happened.
    *
    * FILE-PRUNING CONTRACT (the 200k-rehearsal honest limit,
    * SCALE.md round-11): the probe UNION grows with the batch —
    * pruning saves files only while |batch|·nprobe ≪ nlist. A broad
    * batch (or a 1/sel-widened nprobe) saturates the union toward
    * all of nlist and the "pruned" scan degenerates to reading the
    * whole encoded estate while still witnessing `probedCells`.
    * Consumers should check cells.length against nlist (the
    * routers surface this as a union fraction); the batched form
    * [[ivfpqSearchPrunedBatched]] restores per-scan pruning at any
    * batch width by splitting on probe locality. */
  def ivfpqSearchPruned(queries: DataFrame, idCol: String,
                        vecCol: String, encodedCellLayout: DataFrame,
                        cents: DataFrame, codebook: DataFrame,
                        k: Int, nprobe: Int, m: Int = 8,
                        rerank: Int = 0,
                        rerankSource: Option[DataFrame] = None)
      : (Array[Long], DataFrame) = {
    val (unions, result) = prunedSubBatches(queries, idCol, vecCol,
      encodedCellLayout, cents, codebook, k, nprobe, m, rerank,
      rerankSource, Int.MaxValue)
    (unions.head, result)
  }

  /** PROBE-LOCALITY BATCHING for the pruned search — the executable
    * form of the SCALE.md round-11 deployment rule ("group query
    * batches by probe locality, or cap batch size near
    * nlist/nprobe"; VERDICT r11 missing #2). The production batch
    * shape — thousands of queries at a (possibly 1/sel-widened)
    * nprobe — ALWAYS saturates the single probe union, so
    * [[ivfpqSearchPruned]]'s partition filter stops pruning files
    * exactly when pruning matters most. This operator restores the
    * contract at any batch width:
    *
    *  1. ONE probe assignment for the whole batch (the same
    *     [[probeAssign]] ranking the ADC tail re-derives — ≤
    *     |batch|·nprobe (query, cell) longs, driver-grain).
    *  2. Greedy locality packing, driver-side: queries ordered by
    *     their sorted probe-cell lists (lexicographic — queries
    *     probing the same leading cells pack together; nearby
    *     queries probe nearly-identical cell sets, so the shared
    *     prefix is the locality signal), then packed sequentially
    *     into sub-batches while the running cell UNION stays within
    *     `cellBudget` (default nlist/8 — the nprobeFor fraction; a
    *     single query wider than the budget gets its own
    *     sub-batch).
    *  3. Each sub-batch runs [[ivfpqSearchEncoded]] over the
    *     encoded scan partition-filtered to ITS OWN union — files
    *     read per scan ≤ budget directories, not nlist — and the
    *     per-query results union back together.
    *
    * ROW-EQUAL to the unbatched search by construction: each query
    * lives in exactly one sub-batch, its probe set is deterministic
    * (same ranking, same ties), and its sub-batch's partition
    * filter contains every cell it probes — the same
    * never-matches-outside-probed-cells argument as the unbatched
    * pruning, per sub-batch. Cost shape at 100 TB: the batch pays
    * one extra driver-grain collect (the assignment it would
    * compute anyway) and |subbatches| scans that each open ≤ budget
    * cell directories, instead of one scan that opens ~all of
    * them; sub-batches are independent jobs a scheduler can run
    * concurrently.
    *
    * WHAT THE WIN IS (and is not): total file-opens across the
    * sub-batch scans is Σ|sub-union| ≥ the single batch union —
    * cells shared by queries in DIFFERENT sub-batches are re-read
    * per scan, and no scheme can read less than the union (every
    * probed cell must be scored for some query). The win is the
    * BOUNDED PER-SCAN WORKING SET (≤ budget directories of shuffle/
    * memory footprint instead of the whole estate in one job) and
    * scheduling independence. The amplification Σ|sub-union| /
    * |union| is the workload's LOCALITY witness — near 1 when
    * queries arrive correlated (the production norm: a tenant, a
    * session, a shard of a crawl), up to |subbatches| on a
    * spread-out batch, where a deployment should prefer the single
    * unbatched scan if one job can hold the estate. Callers compute
    * it from the returned unions; the x139/x141 panes pin it.
    *
    * Returns (per-sub-batch cell unions, result);
    * `rerank`/`rerankSource` pass through per sub-batch (rerank
    * joins candidates by id against the full source — sub-batching
    * queries does not change any query's candidate pool). */
  def ivfpqSearchPrunedBatched(queries: DataFrame, idCol: String,
                               vecCol: String,
                               encodedCellLayout: DataFrame,
                               cents: DataFrame, codebook: DataFrame,
                               k: Int, nprobe: Int, m: Int = 8,
                               rerank: Int = 0,
                               rerankSource: Option[DataFrame] = None,
                               cellBudget: Int = 0)
      : (Seq[Array[Long]], DataFrame) = {
    require(cellBudget >= 0,
      s"ivfpqSearchPrunedBatched: cellBudget=$cellBudget")
    val budget =
      if (cellBudget > 0) cellBudget
      else math.max(nprobe, (cents.count() / 8L).toInt)
    val (unions, result) = prunedSubBatches(queries, idCol, vecCol,
      encodedCellLayout, cents, codebook, k, nprobe, m, rerank,
      rerankSource, budget)
    require(unions.head.nonEmpty,
      "ivfpqSearchPrunedBatched: empty query batch — nothing to " +
        "pack; top-k over no queries is undefined")
    (unions, result)
  }

  /** The pruned search under a RESOLVED cell budget — the one probe
    * collect and sub-batch plan behind [[ivfpqSearchPruned]]
    * (unbounded budget: one sub-batch) and
    * [[ivfpqSearchPrunedBatched]]. Returns (per-sub-batch cell
    * unions, result); an empty batch gives one empty union and an
    * empty result. */
  private def prunedSubBatches(queries: DataFrame, idCol: String,
                               vecCol: String,
                               encodedCellLayout: DataFrame,
                               cents: DataFrame, codebook: DataFrame,
                               k: Int, nprobe: Int, m: Int,
                               rerank: Int,
                               rerankSource: Option[DataFrame],
                               budget: Int)
      : (Seq[Array[Long]], DataFrame) = {
    // one driver-grain probe assignment for the whole batch —
    // ≤ |batch|·nprobe (query_id, cell) pairs
    val perQuery: Seq[(Long, Seq[Long])] =
      probeAssign(queries, idCol, vecCol, cents, nprobe)
        .select(col("query_id"), col("cell")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) =>
          (q, rs.map(_.getLong(1)).distinct.sorted.toSeq)
        }.toSeq
    import scala.math.Ordering.Implicits.seqOrdering
    val ordered = perQuery.sortBy { case (q, cs) => (cs, q) }
    // greedy sequential packing under the union budget
    val packed = scala.collection.mutable
      .ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[Long],
        scala.collection.mutable.SortedSet[Long])]
    ordered.foreach { case (q, cs) =>
      val fits = packed.lastOption.exists { case (_, union) =>
        cs.count(!union.contains(_)) + union.size <= budget
      }
      if (fits) {
        val (qs, union) = packed.last
        qs += q; union ++= cs
      } else packed += ((scala.collection.mutable.ArrayBuffer(q),
        scala.collection.mutable.SortedSet(cs: _*)))
    }
    if (packed.isEmpty)
      packed += ((scala.collection.mutable.ArrayBuffer.empty[Long],
        scala.collection.mutable.SortedSet.empty[Long]))
    // each sub-batch leg is ADC-ONLY over its own pruned scan; the
    // rank/rerank tail runs ONCE over the unioned scores instead of
    // once per sub-batch (round 13): every query lives in exactly one
    // sub-batch, so ranking the union per query_id is row-identical
    // to ranking each leg — and the plan sheds |subbatches|−1 rerank
    // joins and top-k windows (the r12 event-log profile showed the
    // batched route's job count dominated by the per-leg tails)
    val subResults = packed.toSeq.map { case (qids, union) =>
      val cells = union.toArray
      // a lone sub-batch holds every query: no query-id filter
      val qsub =
        if (packed.length == 1) queries
        else queries.filter(col(idCol).isInCollection(qids))
      val pruned = encodedCellLayout
        .filter(col("cell").isInCollection(cells))
      (cells, ivfpqAdc(qsub, idCol, vecCol, pruned, cents,
        codebook, nprobe, m))
    }
    (subResults.map(_._1),
      rankAndRerank(subResults.map(_._2).reduce(_.unionAll(_)),
        queries, idCol, vecCol, k, rerank, rerankSource))
  }

  /** COMPACTION advisor — the "when" rule for [[annCompact]], the
    * [[indexGeometryDrift]] discipline applied to the delete tier:
    * a deployment should not compact on a cron guess but when the
    * ledger's own state says the debt is real. Two measured debts,
    * each with an executable threshold:
    *  - TOMBSTONE debt: live tombstones (ids still present in the
    *    encoded state — an orphan from a pre-compacted forget does
    *    not count) as a fraction of vectors; at `tsFracThreshold`
    *    (default 1%) the logical anti-join is carrying real deleted
    *    mass every search, and compliance clocks on physical erasure
    *    start mattering.
    *  - FILE debt: data files beyond `fileFactor`× the byte-advised
    *    count ([[annCompact]]'s own 128 MB sizing) — the
    *    small-file accretion a long ingest leaves.
    * Reads ledger state only (KB/vector grain + one FS listing).
    * Returns the 1-row advisor pane; `compact_recommended` with its
    * `reason` is the action's input (the x118 witnessing rule). */
  def compactAdvisor(spark: SparkSession, path: String,
                     version: String,
                     tsFracThreshold: Double = 0.01,
                     fileFactor: Int = 4,
                     targetBytes: Long = 128L * 1024 * 1024)
      : DataFrame = {
    require(tsFracThreshold > 0 && fileFactor >= 1 && targetBytes > 0,
      s"compactAdvisor: tsFracThreshold=$tsFracThreshold " +
        s"fileFactor=$fileFactor targetBytes=$targetBytes")
    val s = compactStats(spark, path, version).head()
    val (nVec, tsLive) = (s.getLong(0), s.getLong(1))
    val (nFiles, bytes, nCellDirs) = compactFsStats(spark, path)
    val a = compactAdvice(nVec, tsLive, nFiles, bytes, nCellDirs,
      tsFracThreshold, fileFactor, targetBytes)
    spark.range(1).select(
      lit(version).as("version"),
      lit(nVec).as("n_vectors"),
      lit(tsLive).as("n_tombstoned_live"),
      lit(a.tsFraction).as("ts_fraction"),
      lit(a.fileDebt).as("files_over_budget"),
      lit(a.advisedFiles).as("advised_files"),
      lit(a.reason).as("reason"),
      lit(a.recommended).as("compact_recommended"))
  }

  /** [[compactAdvisor]]'s measured LEDGER state as a LAZY 1-row
    * relation — (n_vectors, n_tombstoned_live) — the console-poll
    * unit (see [[indexGeometryStats]]). The filesystem half of the
    * advisor's evidence ([[compactFsStats]]) is a driver-side
    * listing, not a Spark job, so it stays out of the unioned
    * plan. */
  private[graft] def compactStats(spark: SparkSession, path: String,
                                  version: String): DataFrame =
    compactStatsOf(spark, path, graft.sources.VersionedState
      .read(spark, path, version, "encoded"))

  /** [[compactStats]] over an already-loaded encoded relation — the
    * console's batched-validation form (it reads the part
    * unvalidated and folds a [[graft.sources.VersionedState
    * .versionProbe]] into the same collect). JOIN-FREE by design: a
    * broadcast (or nested-loop) join materializes its build side as
    * its OWN Spark job even with AQE off, so a join-shaped stats
    * branch would re-introduce per-bundle jobs into the poll the
    * one-collect contract exists to prevent — the tombstone
    * intersection is a tagged union + two-level aggregation instead
    * (pure shuffle stages, all inside the poll's single job). */
  private[graft] def compactStatsOf(spark: SparkSession, path: String,
                                    encoded: DataFrame): DataFrame =
    encoded.select(col("neighbor_id").as("id")).distinct()
      .select(col("id"), lit(0).as("src"))
      .unionAll(annTombstones(spark, path)
        .select(col("vec_id").as("id"), lit(1).as("src")))
      .groupBy(col("id"))
      .agg(min(col("src")).as("mn"), max(col("src")).as("mx"))
      .agg(count(when(col("mn") === 0, 1)).as("n_vectors"),
        count(when(col("mn") === 0 && col("mx") === 1, 1))
          .as("n_tombstoned_live"))

  /** True when the bundle's encoded part is the cell-partitioned
    * physical layout ([[persistIndexCellLayout]]) — detected from
    * its own directories, so every maintenance op that REWRITES the
    * bundle (compact, the ops loop's rebuild) can preserve the
    * probe→file-pruning contract instead of silently flattening it
    * (the ADVICE-r9 layout-loss class). Driver-side FS probe. */
  private[graft] def isCellLayoutBundle(spark: SparkSession,
                                        path: String): Boolean = {
    val enc = new org.apache.hadoop.fs.Path(s"$path/encoded")
    val f = enc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(enc) && f.listStatus(enc).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("cell="))
  }

  /** The compact advisor's FILE-debt evidence: (dataFiles, bytes,
    * cellDirs) under `path/encoded` — one recursive driver-side
    * listing (KB of metadata; never a Spark job). `cellDirs` is the
    * cell-layout partition count (0 on a flat bundle): the layout's
    * own MINIMUM file count, which the file-debt rule must floor its
    * advised count at — a cell layout carries one file per live cell
    * BY DESIGN, and measuring that against the byte-advised count
    * would fire file-debt forever on a bundle no compact can shrink
    * (found by the round-11 rebuild-carry pin). */
  private[graft] def compactFsStats(spark: SparkSession,
                                    path: String)
      : (Long, Long, Long) = {
    val enc = new org.apache.hadoop.fs.Path(s"$path/encoded")
    val f = enc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = graft.sources.Lake.dataFiles(f, enc)
    // a live cell directory holds at least one data file (the
    // partitioned write's one-file-per-cell shape), so the cell count
    // comes from the same listing
    val nCellDirs = files.map(_.getParent.getName)
      .filter(_.startsWith("cell=")).distinct.size
    (files.size.toLong, f.getContentSummary(enc).getLength,
      nCellDirs.toLong)
  }

  /** The when-to-compact DECISION from the measured stats — single
    * owner of the debt arithmetic; advisor pane and ops console both
    * call this (see [[geometryAdvice]]). */
  private[graft] final case class CompactAdvice(tsFraction: Double,
                                                advisedFiles: Long,
                                                fileDebt: Boolean,
                                                reason: String,
                                                recommended: Boolean)
  private[graft] def compactAdvice(nVec: Long, tsLive: Long,
                                   nFiles: Long, bytes: Long,
                                   nCellDirs: Long = 0L,
                                   tsFracThreshold: Double = 0.01,
                                   fileFactor: Int = 4,
                                   targetBytes: Long =
                                     128L * 1024 * 1024)
      : CompactAdvice = {
    // floor the advised count at the cell layout's own partition
    // count — its structural minimum (see compactFsStats)
    val advised = math.max(nCellDirs, math.max(1L,
      math.ceil(bytes.toDouble / targetBytes).toLong))
    val tsFrac = if (nVec == 0) 0.0 else tsLive.toDouble / nVec
    val tsDebt = tsFrac >= tsFracThreshold
    val fileDebt = nFiles > fileFactor * advised
    val reason = (tsDebt, fileDebt) match {
      case (true, true)  => "tombstones+files"
      case (true, false) => "tombstones"
      case (false, true) => "files"
      case _             => "none"
    }
    CompactAdvice(math.rint(tsFrac * 10000) / 10000, advised,
      fileDebt, reason, tsDebt || fileDebt)
  }

  /** Index FSCK — the consistency verifier for a standing bundle,
    * closing the crash-recovery loop the write discipline opens:
    * [[graft.sources.VersionedState.rewritePart]] guarantees a
    * reader never validates MID-swap, but a bundle restored from a
    * backup, hand-copied between stores, or written by a buggy
    * producer can be internally inconsistent while its meta stamp
    * reads fine. One pass over the encoded state (KB/vector grain,
    * never the corpus) checks the structural invariants every
    * consumer silently assumes:
    *  - every vector carries EXACTLY m sub-codes (a partial encode —
    *    the mid-crash shape — ADC-scores with missing terms and
    *    silently ranks wrong);
    *  - every code is within [0, ksub) (an out-of-range code makes
    *    the dtable join silently DROP that term — same failure);
    *  - every cell is a known centroid (an unknown cell is
    *    unreachable by any probe — the row is dead weight that also
    *    breaks occupancy-based drift advice);
    *  - tombstones that reference no encoded row are counted
    *    (EXPECTED after a compact folded them — informational, not a
    *    failure).
    * Returns a 1-row pane; `clean` is the deploy gate. */
  def annFsck(spark: SparkSession, path: String, version: String,
              m: Int, ksub: Int): DataFrame = {
    val (cents, _, encoded) = loadIndex(spark, path, version)
    val perVec = encoded.groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("nrows"),
        countDistinct(col("sub")).as("nsubs"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("nrows") =!= m || col("nsubs") =!= m, 1L)
          .otherwise(0L)).as("n_bad_subshape"))
    val badCodes = encoded
      .filter(col("code") < 0 || col("code") >= ksub)
      .agg(count(lit(1)).as("n_bad_codes"))
    val unknownCells = encoded.join(
        broadcast(cents.select(col("cent_id").as("cell"))),
        Seq("cell"), "left_anti")
      .agg(count(lit(1)).as("n_unknown_cells"))
    val ts = annTombstones(spark, path)
    val orphanTs = ts.join(encoded.select(col("neighbor_id")
        .as("vec_id")), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_orphan_tombstones"))
    perVec
      .join(badCodes, lit(true), "left") // 1-row pane join idiom
      .join(unknownCells, lit(true), "left")
      .join(orphanTs, lit(true), "left")
      .select(lit(version).as("version"), col("n_vectors"),
        col("n_bad_subshape"), col("n_bad_codes"),
        col("n_unknown_cells"), col("n_orphan_tombstones"),
        (col("n_bad_subshape") === 0L && col("n_bad_codes") === 0L &&
          col("n_unknown_cells") === 0L).as("clean"))
  }

  /** PROMOTE an accreted ingest ledger into the standing bundle —
    * the bridge between the index state's two storage forms. The
    * fold form ([[graft.streaming.Streams.annIngestFold]]) is
    * WRITE-optimized: each micro-batch owns its `__bid` partition,
    * so replay is confined and ingest never rewrites history — but a
    * long-running stream accretes one directory per batch and the
    * cell a row belongs to is scattered across all of them. The
    * bundle form is READ-optimized: one directory per cell
    * ([[persistIndexCellLayout]]), so probes prune files. Promotion
    * reads the frozen definition version-checked, strips the batch
    * bookkeeping, and persists the three-part bundle — content
    * unchanged by construction (spec-pinned as row equality), only
    * the LAYOUT moves from ingest-grain to probe-grain. Production
    * cadence: ingest accretes all day, promote runs in the
    * maintenance window next to [[annCompact]]/vacuum, consumers
    * flip to the bundle path. */
  def promoteIngestLedger(spark: SparkSession, definitionPath: String,
                          version: String, encodedPath: String,
                          outPath: String): Unit = {
    val (cents, codebook) = loadIndexDef(spark, definitionPath, version)
    val ledger = spark.read.parquet(encodedPath)
    // DELETE PROPAGATION: the ingest ledger never hears about
    // bundle-level forgets, so once a compact has folded the
    // bundle's tombstones, a re-promote (crash recovery, or just the
    // next full promote) would RESURRECT physically-erased vectors
    // from the ledger with nothing left to suppress them. Forgets
    // against a promoted estate therefore tombstone the LEDGER too
    // ([[annForgetPromoted]]), and every promote anti-joins the
    // ledger's own tombstone set here — erased ids can never re-enter
    // a bundle from history.
    val encoded = liveEncoded(
      ledger.select(col("cell"), col("neighbor_id"), col("sub"),
        col("code")),
      annLedgerTombstones(spark, encodedPath))
    persistIndexCellLayout(outPath, version, cents, codebook, encoded)
    // stamp the promoted high-water batch id so the INCREMENTAL form
    // can take over from here; written after the bundle's meta (a
    // crash between leaves a valid bundle with no watermark, which
    // the incremental path treats as "fold everything" — idempotent
    // by the merge's key-dedup, never wrong)
    val hwm = ledger
      .agg(coalesce(max(col("__bid").cast(LongType)), lit(-1L)))
      .head().getLong(0)
    stampPromoteHighWater(spark, outPath, hwm)
  }

  private def promoteHwmPath(outPath: String): String =
    s"$outPath/promote_hwm"

  /** The bundle's promoted high-water ingest batch id — None when the
    * bundle predates watermarking (or the stamp was lost to a crash);
    * the incremental promote treats that as -1 (every batch is
    * "new"), which its key-deduped merge makes a correct, if full,
    * fold. Lives OUTSIDE the versioned parts for the same reason
    * tombstones do: it is bookkeeping about the ingest ledger's
    * position, not about the index recipe. A TORN or unparsable
    * stamp reads as None too, and a watermark written before the
    * text stamp (a parquet `hwm LONG` relation) still reads — the
    * [[graft.sources.VersionedState.readStamp]] contract. */
  def promoteHighWater(spark: SparkSession, outPath: String)
      : Option[Long] =
    graft.sources.VersionedState.readStamp(spark,
      promoteHwmPath(outPath), "hwm.txt", "hwm LONG")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  private def stampPromoteHighWater(spark: SparkSession,
                                    outPath: String, hwm: Long): Unit =
    graft.sources.VersionedState.writeStamp(spark,
      promoteHwmPath(outPath), "hwm.txt", hwm.toString)

  /** INCREMENTAL promotion — the maintenance window stops paying for
    * history: [[promoteIngestLedger]] rewrites the whole bundle every
    * run, so at 100 TB a nightly promote re-shuffles and re-writes
    * the entire m-bytes-per-vector ledger to fold in one day's
    * batches. This form diffs the ingest ledger against the bundle's
    * promoted high-water batch id and rewrites ONLY TOUCHED CELLS:
    *
    *   1. new rows = ledger partitions `__bid > hwm` (a PARTITION
    *      filter on the batch-partitioned ingest layout — the read
    *      side prunes too);
    *   2. touched = the distinct cells those rows land in (driver
    *      list, ≤ nlist longs — the pruned search's probe-collect idiom);
    *   3. merged = bundle's touched-cell rows ∪ new rows, key-deduped
    *      on (cell, neighbor_id, sub) — deterministic encode makes
    *      replayed rows byte-identical, so a stale/lost watermark
    *      re-folds to the same state instead of duplicating;
    *   4. one dynamic-partition-overwrite of exactly those cell
    *      directories (s18's partitionOverwriteMode machinery),
    *      inside the invalidate-first meta window, merged
    *      materialized BEFORE the write (the rewritePart self-read
    *      rule); untouched cell files are never opened or rewritten
    *      (byte-identical — x128b pins content hashes);
    *   5. stamp the new watermark, then re-stamp meta LAST.
    *
    * Equal to a full re-promote by construction on the LIVE
    * (tombstone-suppressed) state, and byte-equal on every TOUCHED
    * cell (both merge sides anti-join the ledger tombstones — ADVICE
    * r10); untouched cells may physically carry rows erased since
    * the last promote until the compact folds the still-standing
    * bundle tombstone, which is the same deferred-erasure window
    * [[annForget]] itself documents. Cost scales with the DELTA's
    * cell footprint, not the corpus. Returns
    * (nNewBatches, nTouchedCells, newHwm). */
  def promoteIngestLedgerIncremental(spark: SparkSession,
                                     definitionPath: String,
                                     version: String,
                                     encodedPath: String,
                                     outPath: String)
      : (Long, Long, Long) = {
    if (!indexExists(spark, outPath, version)) {
      promoteIngestLedger(spark, definitionPath, version, encodedPath,
        outPath)
      val ledger = spark.read.parquet(encodedPath)
      val nB = ledger.select(col("__bid")).distinct().count()
      val nC = ledger.select(col("cell")).distinct().count()
      return (nB, nC, promoteHighWater(spark, outPath).getOrElse(-1L))
    }
    val hwm = promoteHighWater(spark, outPath).getOrElse(-1L)
    val ledger = spark.read.parquet(encodedPath)
    val delta = ledger.filter(col("__bid") > hwm)
    // batch count and the new watermark from ONE aggregate over the
    // partition-pruned DELTA slice — the round-10 review caught the
    // first draft computing max(__bid) over the FULL ledger, which
    // at estate scale reads every historical partition on every
    // cadence promote. __bid is the partition column — INT from
    // directory names (the loadIndexCellLayout re-cast note).
    val head = delta
      .agg(countDistinct(col("__bid")).as("nb"),
        max(col("__bid").cast(LongType)).as("hw"))
      .head()
    val newBatches = head.getLong(0)
    if (newBatches == 0L) return (0L, 0L, hwm)
    val newHwm = head.getLong(1)
    // ledger-level forgets ([[annForgetPromoted]]) must hold through
    // promotion: an erased id's historical code rows never re-enter
    // the bundle
    val ledgerTs = annLedgerTombstones(spark, encodedPath)
      .localCheckpoint(true) // one evaluation, two anti-joins
    val newRows = liveEncoded(
      delta.select(col("cell"), col("neighbor_id"), col("sub"),
        col("code")),
      ledgerTs)
    val touched = newRows.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val (_, _, bundleEnc) = loadIndexCellLayout(spark, outPath, version)
    // the BUNDLE side of the merge anti-joins the ledger tombstones
    // too (ADVICE r10): an id erased via [[annForgetPromoted]] after
    // the last promote still has code rows in the bundle's touched
    // cells (physical erasure waits for the compact), and merging
    // them raw would re-write the erased rows into the FRESH cell
    // files — diverging from [[promoteIngestLedger]], which
    // anti-joins everything. With both sides filtered, a touched
    // cell comes out exactly as a full re-promote would write it;
    // UNTOUCHED cells may still physically carry erased rows until
    // the compact folds the still-standing bundle tombstone, so the
    // full-bundle equality contract is on the LIVE (tombstone-
    // suppressed) state, and on raw bytes for the touched cells.
    val merged = liveEncoded(
      bundleEnc
        .filter(col("cell").isInCollection(touched.toSeq))
        .select(col("cell"), col("neighbor_id"), col("sub"),
          col("code")),
      ledgerTs)
      .unionByName(newRows)
      .dropDuplicates("cell", "neighbor_id", "sub")
      .repartition(col("cell")) // one task → one file per cell
      .localCheckpoint(true) // materialize BEFORE overwriting source
    graft.sources.VersionedState.commit(spark, outPath, version) {
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(s"$outPath/encoded")
      stampPromoteHighWater(spark, outPath, newHwm)
    }
    (newBatches, touched.length.toLong, newHwm)
  }

  // ---- standing-index DELETE lifecycle (tombstone → compact) ------------
  //
  // The missing half of a vector store's lifecycle: ingest accretes
  // (st23), drift advises a rebuild (x116/x118) — and DELETION must
  // work too, because at 100 TB the encoded ledger is derived
  // personal data and right-to-be-forgotten requests arrive daily
  // (the x114 PII discipline extended from the corpus to its derived
  // state). Two-phase, like every real store:
  //   1. [[annForget]] — LOGICAL delete: append ids to a tombstone
  //      relation next to the bundle. O(|ids|) write, instant; every
  //      search consumer anti-joins the (broadcast, KB-scale)
  //      tombstone set via [[liveEncoded]] so forgotten vectors stop
  //      appearing immediately.
  //   2. [[annCompact]] — PHYSICAL erasure: rewrite the encoded part
  //      without tombstoned rows (VersionedState.rewritePart's
  //      crash-safe swap), sized to a target file count — which also
  //      pays down the small-file debt a long-running st23 ingest
  //      accretes (one parquet dir per micro-batch) — then clear the
  //      tombstones. Until compaction runs, the bytes still exist on
  //      disk; after it, they are gone — the part GDPR actually asks
  //      for, on the store's own maintenance schedule.

  /** LOGICAL delete: append `ids` (one LONG column, any name) to the
    * bundle's tombstone set at `path/tombstones`. Append-mode +
    * distinct-on-read makes redelivery idempotent; the set is
    * expected KB-scale (deletes are rare relative to the corpus), so
    * consumers pay one broadcast anti-join. Tombstones deliberately
    * live OUTSIDE the versioned bundle parts: they are facts about
    * the DATA (these ids must not surface), not about the index
    * recipe, and must survive [[VersionedState.write]]'s
    * all-parts rewrite on rebuild — a rebuild from a source lake
    * that still contains the vectors re-encodes them, and the
    * standing tombstones keep them suppressed until the source-level
    * delete propagates. */
  def annForget(path: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"annForget: expected one id column, got " +
        ids.columns.mkString(","))
    ids.select(col(ids.columns.head).cast(LongType).as("vec_id"))
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** The tombstone set's current DATA FILES (sorted) — the snapshot
    * unit [[annCompact]] folds and deletes by. File-level granularity
    * is what makes compaction safe against a concurrent
    * [[annForget]]/streamForget (the documented "stream deletes all
    * day, compact nightly" cadence): an id appended during the
    * rewrite window lands in a NEW file this list never saw, so the
    * compact deletes only what it folded and the late id survives to
    * suppress searches and fold next time (ADVICE r9 — the round-9
    * form deleted the whole directory, destroying concurrent appends
    * unfolded). */
  private[graft] def tombstoneDataFiles(spark: SparkSession,
                                        path: String): Array[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    graft.sources.Lake.dataFiles(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(_.toString).toArray.sorted
  }

  /** Read a tombstone file list back as the distinct (vec_id)
    * relation; empty list → empty relation. The explicit schema
    * matters: after a compact deletes exactly the files it folded,
    * the directory can legitimately hold zero data files, and a
    * schema-inferring read would throw instead of reading empty. */
  private def tombstonesFromFiles(spark: SparkSession,
                                  files: Array[String]): DataFrame =
    if (files.isEmpty) spark.range(0).select(col("id").as("vec_id"))
    else spark.read.schema("vec_id LONG")
      .parquet(files.toIndexedSeq: _*)
      .select(col("vec_id")).distinct()

  /** The bundle's current tombstone set as a 1-column (vec_id)
    * relation — empty (not an error) when nothing was ever
    * forgotten. Distinct, so append-mode redelivery never
    * double-counts. */
  def annTombstones(spark: SparkSession, path: String): DataFrame =
    tombstonesFromFiles(spark, tombstoneDataFiles(spark, path))

  /** An ingest LEDGER's delete-tracking root: a sibling of the
    * `__bid`-partitioned directory — tombstones nested INSIDE the
    * ledger root would be swept into its partition discovery as
    * data. */
  private def ledgerDeleteRoot(encodedPath: String): String =
    s"$encodedPath.deletes"

  /** The tombstone set recorded against an ingest ledger (write
    * form) — what every promote anti-joins so history can never
    * resurrect an erased vector. */
  def annLedgerTombstones(spark: SparkSession,
                          encodedPath: String): DataFrame =
    annTombstones(spark, ledgerDeleteRoot(encodedPath))

  /** Right-to-be-forgotten against a PROMOTED estate — the delete
    * recorded at BOTH storage forms, because each fails differently
    * alone: the bundle tombstone suppresses searches instantly but is
    * CLEARED by the compact that erases its rows, after which a
    * re-promote (lost meta, stale watermark — routine crash seams the
    * recovery paths exist for) would re-materialize the vector from
    * the ingest ledger with nothing left to suppress it; the ledger
    * tombstone is anti-joined by every promote, so history stays
    * erased. Forget-on-a-promoted-estate means calling THIS, not bare
    * [[annForget]] (spec-pinned: compact → forced full re-promote →
    * the forgotten id does not resurface). */
  def annForgetPromoted(bundlePath: String, encodedPath: String,
                        ids: DataFrame): Unit = {
    val idc = ids
      .select(col(ids.columns.head).cast(LongType).as("vec_id"))
      .localCheckpoint(true) // one evaluation, two appends
    annForget(bundlePath, idc)
    annForget(ledgerDeleteRoot(encodedPath), idc)
  }

  /** [[annForget]] for a SHARDED standing index (x117's deployment
    * form): a right-to-be-forgotten id belongs to exactly one shard —
    * the SAME [[annShardKey]] hash that routed its ingest — so each
    * shard's tombstone set receives only its own ids and every
    * per-shard consumer ([[liveEncoded]], [[compactAdvisor]],
    * [[annCompact]]) keeps working unchanged per shard. Routing by
    * anything else (or broadcasting all ids to all shards) would
    * either lose deletes or inflate every shard's anti-join with ids
    * it can never match. `shardPaths(s)` is shard s's bundle path;
    * the ids relation is KB-scale by the forget contract, so the
    * per-shard split is |shards| filters over one checkpointed read.
    *
    * ORDERING CONTRACT: `shardPaths(s)` must be shard s of the SAME
    * hash split that routed ingest — routing is positional, so a
    * lexicographic directory listing (shard10 before shard2) or a
    * path subset silently sends an id's tombstone to a shard that
    * never held it (an invisible orphan) while its true shard keeps
    * surfacing it (round-10 review). `verifyRouting = true` closes
    * the seam mechanically: each shard's routed ids left-semi-join
    * that shard's encoded set and the call FAILS if any id is absent
    * — one encoded-grain scan per shard, the right price at ops
    * cadence for a right-to-be-forgotten write (leave it off only
    * when ids may legitimately predate the index).
    *
    * `versions` is PER SHARD, aligned with `shardPaths`: shards are
    * sized independently ([[nlistFor]] over per-shard counts), so a
    * healthy estate can legitimately carry different version stamps
    * per shard — a single shared version would fail the forget on
    * exactly that estate (ADVICE r10). A one-element list is
    * broadcast to every shard for the uniform-estate call sites. */
  def annForgetSharded(shardPaths: Seq[String], ids: DataFrame,
                       verifyRouting: Boolean = false,
                       versions: Seq[String] = Seq.empty): Unit = {
    require(shardPaths.nonEmpty, "annForgetSharded: no shard paths")
    require(shardPaths.distinct.length == shardPaths.length,
      "annForgetSharded: duplicate shard paths — the positional " +
        "routing contract is broken")
    require(ids.columns.length == 1,
      s"annForgetSharded: expected one id column, got " +
        ids.columns.mkString(","))
    require(!verifyRouting || versions.length == 1 ||
      versions.length == shardPaths.length,
      "annForgetSharded: verifyRouting reads each shard's encoded " +
        "part and needs the bundle version per shard (one element " +
        "to broadcast, or one aligned with each shardPath)")
    val shards = shardPaths.length
    def versionOf(sh: Int): String =
      if (versions.length == 1) versions.head else versions(sh)
    val idc = ids
      .select(col(ids.columns.head).cast(LongType).as("vec_id"))
      .withColumn("__sh", annShardKey(col("vec_id"), shards))
      .localCheckpoint(true)
    shardPaths.zipWithIndex.foreach { case (p, sh) =>
      val mine = idc.filter(col("__sh") === sh.toLong)
        .select(col("vec_id"))
      if (verifyRouting) {
        val enc = graft.sources.VersionedState
          .read(idc.sparkSession, p, versionOf(sh), "encoded")
        val missing = mine.join(
          enc.select(col("neighbor_id").as("vec_id")),
          Seq("vec_id"), "left_anti").count()
        require(missing == 0L,
          s"annForgetSharded: $missing id(s) routed to shard $sh " +
            s"($p) are absent from its encoded set — shardPaths is " +
            "mis-ordered or not the ingest split; the delete would " +
            "orphan")
      }
      annForget(p, mine)
    }
  }

  /** The re-shard DECISION from the estate's measured live total —
    * [[annShardsFor]] stays the single owner of the shard-sizing
    * arithmetic; the ops console derives its `reshard` row through
    * this (the geometryAdvice discipline one tier up). GROW-ONLY:
    * firing only when the sized count EXCEEDS the current one —
    * under-sharding is the scale cliff (per-shard populations blow
    * past the cell clamp and probes stop pruning), while an
    * over-sharded estate after mass deletes still answers correctly
    * at some merge overhead; shrinking is a cost optimization a
    * deployment schedules deliberately, not a maintenance fire.
    * `cellClamp` is the deployment's per-index cell budget —
    * [[nlistFor]]'s 65536 default reflects this box's training
    * budget, but the clamp is a capacity choice (executor memory,
    * per-node index residency), so the estate registration may
    * carry its own. Returns (sizedShardsNow, recommended). */
  private[graft] def reshardAdvice(totalLive: Long,
                                   currentShards: Int,
                                   cellClamp: Int = 65536)
      : (Int, Boolean) = {
    val sized = annShardsFor(totalLive, cellClamp)
    (sized, sized > currentShards)
  }

  /** RE-SHARD the standing estate — the executor for the console's
    * `reshard` action (VERDICT r11 missing #3): when the estate's
    * live population outgrows shards × the cell clamp, rebuilding a
    * shard WIDER in place stops working ([[nlistFor]] is already
    * clamped) — the correct action is ADDING shards, which changes
    * the [[annShardKey]] routing hash and therefore re-routes every
    * id. That makes a re-shard a RE-ENCODE FROM THE LAKE (the
    * `dsirLedgerRebuild` discipline on the ANN tier: hash-routed
    * state is not re-routable in place — replay the source at the
    * new width), not a shuffle of the old bundles:
    *
    *  - each NEW shard trains its own geometry at
    *    [[nlistFor]](its population) — shards are sized
    *    independently, exactly as a fresh build would size them —
    *    and lands as a cell-layout bundle (the probe→file-pruning
    *    contract survives the re-shard);
    *  - the old estate's STANDING TOMBSTONES move with it, routed
    *    by the NEW hash (the opsLoop rebuild-carry rule: the lake
    *    still holds forgotten vectors, so a re-encode would serve
    *    them again without the carry), and each new bundle lands
    *    pre-compacted — carried deletes PHYSICALLY erased, no
    *    maintenance debt on day one;
    *  - the OLD bundles are left in place untouched for the
    *    caller's retention sweep ([[graft.sources.VersionedState]]
    *    vacuum discipline): the cutover is the caller swapping the
    *    registration to the returned paths, and a crash mid-reshard
    *    leaves the old estate fully serviceable.
    *
    * `pathFor(shard, nlist)` names each new bundle — both the shard
    * ordinal and the trained geometry belong in the path (the x118
    * version-moves-with-geometry rule, plus the positional routing
    * contract: shard s of the RETURNED seq is shard s of the new
    * hash split). Returns (newPaths, newVersions), aligned. */
  def annReshard(spark: SparkSession, shardPaths: Seq[String],
                 lake: DataFrame, idCol: String, vecCol: String,
                 m: Int, ksub: Int, newShards: Int,
                 pathFor: (Int, Int) => String,
                 coarseIters: Int = 1, pqIters: Int = 1)
      : (Seq[String], Seq[String]) = {
    require(shardPaths.nonEmpty, "annReshard: no shard paths")
    require(newShards > 0, s"annReshard: newShards=$newShards")
    require(newShards != shardPaths.length,
      s"annReshard: newShards=$newShards equals the current shard " +
        "count — same-count maintenance is the rebuild action " +
        "(routing unchanged), not a re-shard")
    // the estate's standing deletes, KB-grain by the forget
    // contract; old shards' sets are disjoint by the old routing
    val carried = shardPaths
      .map(p => annTombstones(spark, p))
      .reduce(_.unionAll(_))
      .withColumn("__sh", annShardKey(col("vec_id"), newShards))
      .localCheckpoint(true)
    // each new shard is an independent estate landing in its own
    // paths — build them CONCURRENTLY (graft.Par, guide §2.6): the
    // serial form leaves the pool idle through every shard's
    // driver-side train/commit windows, and at cluster scale the
    // shards are exactly the "independent date partitions" case the
    // overlap pattern exists for. Per-shard work, rows, and layouts
    // are unchanged.
    val built = graft.Par.run((0 until newShards).map { sh => () =>
      val subset = lake
        .filter(annShardKey(col(idCol), newShards) === sh.toLong)
      val nl = nlistFor(subset.count())
      val v = annIndexVersion(nl, m, ksub, coarseIters, pqIters)
      val p = pathFor(sh, nl)
      // train+encode share the shard's residual pass (one subset
      // scan, not two — the ivfpqTrainEncode contract)
      val (c, cb, enc) = ivfpqTrainEncode(subset, idCol, vecCol, nl,
        m, ksub, coarseIters = coarseIters, pqIters = pqIters)
      persistIndexCellLayout(p, v, c, cb, enc)
      annForget(p,
        carried.filter(col("__sh") === sh.toLong).select(col("vec_id")))
      annCompact(spark, p, v)
      (p, v)
    })
    (built.map(_._1), built.map(_._2))
  }

  /** The encoded state a consumer may actually surface: `encoded`
    * minus tombstoned ids. One broadcast anti-join — the tombstone
    * set is KB-scale by the [[annForget]] contract, so this rides
    * the probe scan; no corpus shuffle. Every standing-index search
    * path goes through this (the x119 pane pins that a forgotten
    * id that WAS a top-k neighbor stops appearing). */
  def liveEncoded(encoded: DataFrame, tombstones: DataFrame): DataFrame =
    encoded.join(broadcast(tombstones.select(col("vec_id"))),
      encoded("neighbor_id") === tombstones("vec_id"), "left_anti")

  /** PHYSICAL erasure + small-file compaction, in one crash-safe
    * swap: rewrite the bundle's encoded part without tombstoned rows
    * at `nFiles` output files ([[VersionedState.rewritePart]] stages
    * BEFORE invalidating meta and re-stamps last, so a reader never
    * validates mid-swap), then drop the folded tombstones. Clearing
    * tombstones AFTER the re-stamp is deliberate: a crash between
    * the two leaves tombstones over already-compacted state, and the
    * next [[liveEncoded]] anti-join (or the next compact) is a
    * no-op on them — idempotent, never resurrecting. Returns
    * (rowsBefore, rowsAfter, dataFilesAfter). The KB definition
    * parts (cents/codebook) are untouched — deletion changes index
    * STATE, not the recipe, so the version stamp survives and
    * consumers keep validating. */
  def annCompact(spark: SparkSession, path: String, version: String,
                 nFiles: Int = 0,
                 targetBytes: Long = 128L * 1024 * 1024)
      : (Long, Long, Int) =
    annCompactWith(spark, path, version, nFiles, targetBytes, () => ())

  /** [[annCompact]] with an injection seam after the tombstone
    * snapshot — the point a concurrent [[annForget]] lands in the
    * "stream deletes all day, compact nightly" race. Production code
    * calls [[annCompact]]; the seam exists so Round18Spec can pin the
    * ADVICE-r9 contract deterministically: an id forgotten mid-compact
    * survives (its file was never snapshotted, so it is neither folded
    * nor deleted) and keeps suppressing searches. */
  private[graft] def annCompactWith(spark: SparkSession, path: String,
                                    version: String, nFiles: Int,
                                    targetBytes: Long,
                                    midCompact: () => Unit)
      : (Long, Long, Int) = {
    require(nFiles >= 0 && targetBytes > 0,
      s"annCompact: nFiles=$nFiles targetBytes=$targetBytes")
    val vs = graft.sources.VersionedState
    // snapshot the tombstone FILE LIST first, fold exactly those
    // files, and delete exactly those files after the swap — ids
    // appended concurrently land in files outside this snapshot and
    // survive the compact unfolded (ADVICE r9; see
    // [[tombstoneDataFiles]])
    val tsFiles = tombstoneDataFiles(spark, path)
    val ts = tombstonesFromFiles(spark, tsFiles).localCheckpoint(true)
    midCompact() // test seam: a concurrent forget lands here
    val before = vs.read(spark, path, version, "encoded")
    val nBefore = before.count()
    val live = liveEncoded(before, ts)
    val enc = new org.apache.hadoop.fs.Path(s"$path/encoded")
    val f = enc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a cell-layout bundle ([[persistIndexCellLayout]]) must come out
    // of compaction still cell-partitioned, or the probe → file
    // pruning contract (x123) silently stops holding after the first
    // compact (ADVICE r9) — detect the layout from the live part's
    // own directories and have rewritePart preserve it
    val isCellLayout = isCellLayoutBundle(spark, path)
    // a caller-pinned file count cannot be honored on a cell-layout
    // bundle (the partitioned rewrite's file count IS the live cell
    // count) — fail fast instead of silently ignoring the pin
    // (ADVICE r10: the x120-style deterministic single-file pin
    // stops holding the moment a bundle adopts the layout, and a
    // caller relying on it must find out here, not in production)
    require(!(nFiles > 0 && isCellLayout),
      s"annCompact: nFiles=$nFiles cannot be honored on a " +
        "cell-layout bundle — the partitioned rewrite emits one " +
        "file per live cell; drop the pin (nFiles = 0)")
    // sized output, not guessed (the writeAdvised discipline):
    // nFiles = 0 (default) sizes from the live part's bytes at the
    // 128 MB parquet sweet spot — at a 1 TB encoded ledger that is
    // ~8k files, at the test bundle it is 1; a positive nFiles pins
    // it (x120's deterministic single-file pin). The cell layout
    // sizes itself (one file per live cell).
    val sized =
      if (nFiles > 0 || isCellLayout) math.max(1, nFiles)
      // cell layout sizes itself (one file per live cell) — don't
      // pay the recursive getContentSummary walk for a number
      // rewritePart would ignore (round-10 review)
      else {
        val bytes = f.getContentSummary(enc).getLength
        math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      }
    vs.rewritePart(path, version, "encoded", live, sized,
      if (isCellLayout) Seq("cell") else Seq.empty)
    tsFiles.foreach(p =>
      f.delete(new org.apache.hadoop.fs.Path(p), false))
    val after = vs.read(spark, path, version, "encoded")
    (nBefore, after.count(), graft.sources.Lake.dataFiles(f, enc).size)
  }

  /** [[hashBlobLake]]'s RECIPE VERSION — part of any standing-state
    * key derived from the generated lake (x113's ledger path): the
    * corpus recipe is as much a part of a persisted index's identity
    * as the quantizer recipe — a tweak to the grid/jitter constants
    * below must move the ledger path, or a stale index of the OLD
    * corpus would version-validate against the NEW lake's exact twin
    * and present as an ANN regression instead of ledger staleness.
    * Bump this when changing the generator; SHAPE parameters
    * (n, nClusters, dims) are identity-bearing too and belong in the
    * key alongside it — [[hashBlobLakeKey]] builds the full key. */
  val hashBlobRecipeVersion: String = "hashblob-v1-u1m-j20x1e3"

  /** The full standing-state key for a generated lake: recipe
    * version + every shape parameter — any of them changing moves
    * the ledger path instead of letting a stale index of a
    * different-shaped corpus validate. */
  def hashBlobLakeKey(n: Long, nClusters: Int = 64,
                      dims: Int = 64): String =
    s"$hashBlobRecipeVersion-c$nClusters-d$dims-n$n"

  /** Deterministic CLUSTERED rehearsal lake — the hash-grid blob
    * recipe the round-7 Scratch rehearsal measured (64 tight blobs
    * far apart relative to jitter ⇒ RC ≈ 50, the prunable regime the
    * synthetic near-uniform embeddings never reach): cluster k's
    * center coordinate c(k,d) ~ U(-1,1) from xxhash64(k,d); point
    * jitter ±0.02 from xxhash64(id,d,7). Pure column arithmetic over
    * `spark.range` — reproducible on any cluster at any n, no driver
    * arrays — so the ANN router's IVFPQ branch gets a corpus with
    * KNOWN structure to hold its recall contract against (x112,
    * Round15Spec, Scratch clustered_ann). */
  def hashBlobLake(spark: SparkSession, n: Long,
                   nClusters: Int = 64, dims: Int = 64): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
        pmod(col("id"), lit(nClusters.toLong)).as("ck"))
      .select(col("vec_id"), expr(
        s"""transform(sequence(0, ${dims - 1}), d ->
           CAST(pmod(xxhash64(ck, d), 2000001) / 1000000.0 - 1.0
             + (pmod(xxhash64(vec_id, d, 7), 41) - 20) * 0.001
             AS FLOAT))""").as("embedding"))

  /** [[annTopKAutoSized]]'s deterministic stratified probe sample: one
    * query per xxhash64(id) bucket, smallest id winning its bucket —
    * ≤ probeCap rows, reproducible on any engine/cluster, and spread
    * across the id space no matter how ids were assigned. */
  private[graft] def stratifiedProbes(queries: DataFrame, idCol: String,
                                      probeCap: Int): DataFrame = {
    val wb = Window.partitionBy(col("__bk")).orderBy(col(idCol).asc)
    queries
      .withColumn("__bk", pmod(xxhash64(col(idCol)), lit(probeCap.toLong)))
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") === 1).drop("__bk", "__rn")
  }

  /** ANN-difficulty PREFLIGHT — per-query relative contrast RC_k
    * (He, Kumar, Niyogi, Chang, "On the Difficulty of Nearest
    * Neighbor Search", ICML 2012): E[d(q, X)] over the corpus divided
    * by the mean distance to q's k nearest neighbors. RC ≈ 1 means
    * distances CONCENTRATE: a query's true neighbors are barely
    * closer than arbitrary points, so they scatter across any
    * coarse-quantizer partition and NO cell/bucket index (IVF, LSH)
    * can prune aggressively without losing recall — the regime the
    * round-6 sf1 sweep measured on the shifted-copy synthetic lake
    * (RC ≈ 1.3; IVFPQ recall 0.44 at 12.5% probed, 0.90 even probing
    * every cell). RC ≫ 1 (clustered corpora — the common case for
    * real embedding models) is where the IVF scale path holds. This
    * probe is the go/no-go a pipeline runs BEFORE paying for an index
    * build: prunable=false routes to the exact scan (x6/sq8) or a
    * higher nprobe, the same decide-from-a-measurement discipline as
    * SketchFns.lgkFor and Dedup.bandsFor.
    *
    * Contract (same as [[bitextMarginMining]]'s): `queries` and
    * `corpus` draw ids from ONE namespace — the self-pair exclusion
    * is `query_id =!= neighbor_id`, so a query whose id happens to
    * equal an UNRELATED corpus row's id would silently lose that one
    * legitimate neighbor (skewing mean_nn_dist and RC). Probing with
    * corpus rows themselves (x93's shape) satisfies this by
    * construction; independently-keyed query sets must be re-keyed
    * (offset or tag) into the corpus's namespace first.
    *
    * Shape: |Q| probe queries broadcast against ONE corpus scan; the
    * all-points mean is a decimal sum and the kNN mean rides the same
    * aggregation through the bounded-heap [[graft.functions.TopKAgg]]
    * (KB state, map-side combine) — no corpus sort, no data-grain
    * window. Distances live on the ×1e7 integer grid (exact sums,
    * IEEE sqrt, round-to-6dp before decimal aggregation) so both
    * engines hash-match. */
  def annDifficulty(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int = 5,
                    prunableAt: Double = 2.0): DataFrame = {
    import graft.functions.TopKAgg
    require(corpus.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"annDifficulty: idCol '$idCol' must be numeric — the heap " +
        "tiebreak negates it arithmetically; hash or re-key string " +
        "ids before probing")
    val dec = DecimalType(28, 6)
    val q = queries.select(col(idCol).as("query_id"),
      quantize1e7(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantize1e7(col(vecCol)).as("cv"))
    val d = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(sqrt(intL2(col("qv"), col("cv")).cast(DoubleType)) / 1e7d,
          6).as("dist"))
    // top-k SMALLEST distances via the max-heap: negate both the key
    // and the id tiebreak (smaller dist first, then smaller id)
    val heap = struct((-col("dist")).as("nd"),
      (-col("neighbor_id")).as("nid"))
    d.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_corpus"),
        sum(col("dist").cast(dec)).as("__sum"),
        TopKAgg.topK(heap, k).as("__top"))
      .select(col("query_id"), col("n_corpus"),
        round(col("__sum").cast(DoubleType) / col("n_corpus"), 4)
          .as("mean_dist"),
        round(aggregate(col("__top"), lit(0).cast(dec),
          // decimal + widens precision per SQL rules — cast the
          // accumulator result back so the lambda type stays fixed
          (acc, e) => (acc + (-e.getField("nd")).cast(dec)).cast(dec))
          // the heap holds min(k, n_corpus) entries — dividing by a
          // flat k understates the kNN mean on tiny corpora and
          // inflates rc toward a false "prunable"
          .cast(DoubleType) / least(lit(k.toLong), col("n_corpus")),
          4).as("mean_nn_dist"))
      // duplicate-heavy corpora can round the whole kNN set to dist
      // 0: rc is undefined there (null, honestly), and the VERDICT
      // must read false — total distance concentration is the exact
      // regime where cell pruning loses recall, and a null must not
      // silently drop out of annPrunable's min() vote
      .withColumn("rc", when(col("mean_nn_dist") > 0.0d,
        round(col("mean_dist") / col("mean_nn_dist"), 4)))
      .withColumn("ivf_prunable",
        when(col("mean_nn_dist") > 0.0d, col("rc") >= prunableAt)
          .otherwise(false))
  }

  /** Margin-based bitext candidate mining (Artetxe & Schwenk 2019's
    * ratio margin, the CCMatrix/LASER alignment criterion): for each
    * side-A vector, its best side-B neighbor is scored by
    * cos(x,y) / (avgNN_k(x)/2 + avgNN_k(y)/2) — the margin discounts
    * "hub" vectors that are close to everything, which plain cosine
    * cannot. A pair is `accepted` when it is a MUTUAL best match and
    * its margin clears `threshold`.
    *
    * Shape: ONE scored pair relation (side-B rows × broadcast side-A
    * — the [[bruteTopK]] idiom, no corpus shuffle) feeds both rank
    * directions as two window passes; every downstream aggregate is
    * k-bounded. At 100 TB the pair relation is replaced by the ANN
    * stack's top-k tables ([[annTopKAutoSized]] in both directions — the
    * x59 "consumes any top-k table" discipline); margins, mutuality,
    * and acceptance read only those k·|A|+k·|B| rows. Determinism:
    * ranks order by round(cos,4) with id tiebreaks, and the margin
    * denominators are exact DECIMAL sums of the rounded cosines over
    * exact integer candidate counts, so the accept gate compares
    * operand-identical doubles on any engine (the x90/x94
    * decimal-sum recipe).
    *
    * Contract: both sides draw ids from ONE namespace (x96: doc_id);
    * an id appearing on both sides is the same item and is excluded
    * as a self-pair. Sides numbered from independent sequences must
    * be re-keyed (offset or tag) first, or colliding candidate pairs
    * are dropped from the scored relation. */
  def bitextMarginMining(a: DataFrame, b: DataFrame, idCol: String,
                         vecCol: String, k: Int = 4,
                         threshold: Double = 1.05): DataFrame = {
    val qa = a.select(col(idCol).as("a_id"), col(vecCol).as("av"),
      VectorExprs.norm(col(vecCol)).as("an"))
    val qb = b.select(col(idCol).as("b_id"), col(vecCol).as("bv"),
      VectorExprs.norm(col(vecCol)).as("bn"))
    val scored = qb.join(broadcast(qa), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VectorExprs.dot(col("av"), col("bv")) /
          (col("an") * col("bn")), 4).as("cos4"))
    val wA = Window.partitionBy(col("a_id"))
      .orderBy(col("cos4").desc, col("b_id").asc)
    val wB = Window.partitionBy(col("b_id"))
      .orderBy(col("cos4").desc, col("a_id").asc)
    val ranked = scored.withColumn("ra", row_number().over(wA))
      .withColumn("rb", row_number().over(wB))
    marginTail(
      ranked.select(col("a_id"), col("b_id"), col("cos4"),
        col("ra").as("r")),
      ranked.select(col("b_id"), col("a_id"), col("cos4"),
        col("rb").as("r")),
      k, threshold)
  }

  /** x96's 100 TB form: the same margin/mutual/accept algebra fed by
    * PRE-COMPUTED top-k tables from the ANN stack ([[bruteTopK]],
    * [[annTopKAutoSized]], IVFPQ — anything emitting (query_id, rank,
    * neighbor_id, cos_sim)), run once in each direction. Only
    * k·|A| + k·|B| rows ever reach this function — candidate
    * generation is the index's job. The incoming ranks are NOT
    * trusted: candidates are re-ranked here by the canonical
    * (round-4 cos desc, id asc) order [[bitextMarginMining]] uses —
    * a window over ≤k rows per query — because an index that ranks
    * by RAW cosine (bruteTopK does) can order a cross-rounding tie
    * differently and silently flip top-1 selection. With that
    * re-rank, feeding exact brute top-k tables reproduces
    * [[bitextMarginMining]] row-for-row (spec-pinned) unless a
    * rounding tie straddles the index's k-boundary — and there the
    * substituted candidate carries an identical rounded cosine, so
    * denominators agree; only the degenerate k=1 boundary tie can
    * alter which pair is scored. Swapping in an approximate index
    * changes candidate QUALITY only, never the acceptance algebra.
    * Tables must carry the side's full top-k (rank 1..k, cos rounded
    * to 4 — the stack's contract). */
  def bitextMarginFromTopK(fwdTopK: DataFrame, bwdTopK: DataFrame,
                           k: Int = 4,
                           threshold: Double = 1.05): DataFrame = {
    val wA = Window.partitionBy(col("a_id"))
      .orderBy(col("cos4").desc, col("b_id").asc)
    val wB = Window.partitionBy(col("b_id"))
      .orderBy(col("cos4").desc, col("a_id").asc)
    marginTail(
      fwdTopK.select(col("query_id").as("a_id"),
          col("neighbor_id").as("b_id"), col("cos_sim").as("cos4"))
        .withColumn("r", row_number().over(wA)),
      bwdTopK.select(col("query_id").as("b_id"),
          col("neighbor_id").as("a_id"), col("cos_sim").as("cos4"))
        .withColumn("r", row_number().over(wB)),
      k, threshold)
  }

  /** Margin acceptance over ranked cross-lingual candidates.
    * `fwd` = (a_id, b_id, cos4, r) ranked per a; `bwd` = (b_id, a_id,
    * cos4, r) ranked per b. All aggregates are k-bounded. */
  private def marginTail(fwd: DataFrame, bwd: DataFrame, k: Int,
                         threshold: Double): DataFrame = {
    val dec = DecimalType(18, 4)
    // each mean divides by the side's ACTUAL candidate count, not a
    // flat k — a side with < k candidates (tiny or heavily-filtered
    // corpus) would otherwise get an understated denominator and a
    // systematically inflated margin (the annDifficulty
    // least(k, n_corpus) lesson applied to the Artetxe-Schwenk
    // formula, which assumes k neighbors always exist)
    val denA = fwd.filter(col("r") <= k).groupBy(col("a_id"))
      .agg(sum(col("cos4").cast(dec)).as("sa"), count(lit(1)).as("na"))
    val denB = bwd.filter(col("r") <= k).groupBy(col("b_id"))
      .agg(sum(col("cos4").cast(dec)).as("sb"), count(lit(1)).as("nb"))
    val bBest = bwd.filter(col("r") === 1)
      .select(col("b_id"), col("a_id").as("b_top1_a"))
    val margin = col("cos4") /
      ((col("sa").cast(DoubleType) / col("na")
        + col("sb").cast(DoubleType) / col("nb")) / lit(2.0d))
    fwd.filter(col("r") === 1)
      .join(denA, Seq("a_id")).join(denB, Seq("b_id"))
      .join(bBest, Seq("b_id"))
      .withColumn("mutual", col("b_top1_a") === col("a_id"))
      // gate on the RAW margin (the x87 lesson); round only the
      // displayed column — operands are identical in both engines
      .withColumn("accepted", col("mutual") && margin > lit(threshold))
      .select(col("a_id"), col("b_id"), col("cos4").as("cos_sim"),
        round(margin, 4).as("margin"), col("mutual"), col("accepted"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of ranked-retrieval
    * branches: rrf(q,d) = Σ_branches 1/(c + rank_b(q,d)), a doc absent
    * from a branch contributing 0. The standard hybrid-retrieval
    * combiner (BM25 ⊕ dense ANN) because it needs no score
    * calibration across branches — only ranks, which are integers and
    * therefore engine-exact. Each input exposes
    * (query_id, doc_id, rank); output keeps one rank column per named
    * branch (0 = absent) plus the fused rank.
    *
    * Shape: branches arrive k-bounded (top-k per query each), so the
    * fusion joins touch ≤ Σk rows per query regardless of corpus
    * size; the final per-query window orders ≤ Σk rows. */
  def rrfFuse(branches: Seq[(String, DataFrame)], c: Int = 60,
              topK: Int = 10): DataFrame = {
    val renamed = branches.map { case (name, df) =>
      name -> df.select(col("query_id"), col("doc_id"),
        col("rank").as(s"rank_$name"))
    }
    val joined = renamed.map(_._2)
      .reduce(_.join(_, Seq("query_id", "doc_id"), "full_outer"))
    val rrf = renamed.map { case (name, _) =>
      when(col(s"rank_$name").isNotNull,
        lit(1.0d) / (lit(c.toDouble) + col(s"rank_$name")))
        .otherwise(lit(0.0d))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    joined.withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(Seq(col("query_id"), col("rank"), col("doc_id"),
        round(col("rrf"), 6).as("rrf")) ++
        renamed.map { case (name, _) =>
          coalesce(col(s"rank_$name"), lit(0)).as(s"rank_$name") }: _*)
  }
}
