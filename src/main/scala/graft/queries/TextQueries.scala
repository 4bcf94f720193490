package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Text analysis (x8..x11 onward): language id, quality
  * rules and classifiers, tokenizers, PCA and corpus selection. */
private[graft] object TextQueries {
  import QuerySupport._
  import graft.sources.ScratchRoot.tmpDir

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

  /** x102's GENERATED oracle: the unrolled power-iteration recurrence
    * (Learn.powerIterationMicro + varianceAlongMicro) in the
    * FIXED-POINT discipline — every value an exact BIGINT in 1e-6
    * micro-units, every cut a floor() on IEEE-identical doubles,
    * every sum exact integer — so engine and oracle agree
    * bit-for-bit with no rounding-tie analysis (see Learn.q6
    * scaladoc for why round(…,6) cannot be used mid-chain here). */
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

  /** x97's oracle, GENERATED: the Learn.logisticTrain iteration is
    * deterministic DataFrame algebra, so its DuckDB replay is the
    * same recurrence unrolled — one (z, p, g, w) CTE quartet per GD
    * step, emitted by this builder so oracle and engine can only
    * diverge in the recurrence definition, never in a hand-copied
    * step. Feature/hash CTEs replicate TextOps.dsirFeatures (the
    * shared tokenizer); bias/preconditioner/rounding mirror
    * Learn.scala line for line. */
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

  val specs: Seq[QuerySpec] = Seq(
    // ---- LLM-pipeline: text analysis (x8..x11) -------------------------
    QuerySpec("x8_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }, """
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
      ORDER BY doc_id"""),

    QuerySpec("x86_quality_curriculum", (s, dir) => {
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
    }, """
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
      FROM c GROUP BY 1 ORDER BY phase"""),

    QuerySpec("x91_gopher_rules", (s, dir) => {
      // the published Gopher heuristic bundle (Rae et al. 2021 App. A)
      // as one doc-grain flag table — the concrete rule set most
      // corpus pipelines start from, full hash oracle per rule
      TextOps.gopherRules(t(s, dir, "documents"), col("doc_id"),
          col("text"))
        .orderBy(col("id"))
    }, """
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
      FROM m ORDER BY id"""),

    QuerySpec("x91b_gopher_audit", (s, dir) => {
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
    }, """
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
      FROM u GROUP BY rule ORDER BY rule"""),

    QuerySpec("x95_hybrid_rrf", (s, dir) => {
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
    }, """
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
      WHERE rank <= 10 ORDER BY query_id, rank"""),

    QuerySpec("x96_bitext_margin", (s, dir) => {
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
    }, """
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
      ORDER BY a_id"""),

    QuerySpec("x97_quality_classifier", (s, dir) => {
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
    }, x97OracleStr),

    QuerySpec("x97b_ledger_score", (s, dir) => {
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
    },
    // the ledger-fed consumers score against standing state that the
    // fixed-point discipline makes bit-identical to a fresh retrain,
    // so they share the self-contained twins' oracles VERBATIM — a
    // ledger/retrain divergence shows up as a hash mismatch here
    // (and as a Round14Spec failure before that)
    x97OracleStr),

    QuerySpec("x98b_ledger_audit", (s, dir) => {
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
    }, x98OracleStr),

    QuerySpec("e2e_select_corpus", (s, dir) => {
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
    }, x97Oracle(iters = Learn.qualityIters,
      lr = Learn.qualityLr.toString, e2eSelectTail)),

    QuerySpec("e2e_select_corpus_b", (s, dir) => {
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
    },
    // ledger-fed capstone scores against the standing model, which
    // the fixed-point discipline makes bit-identical to the inline
    // retrain (Round14Spec) — oracle shared verbatim
    x97Oracle(iters = Learn.qualityIters,
      lr = Learn.qualityLr.toString, e2eSelectTail)),

    QuerySpec("x100_tokenid_export", (s, dir) => {
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
    }, """
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
      ORDER BY id"""),

    QuerySpec("x115_vocab_roundtrip", (s, dir) => {
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
    }, """
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
      ORDER BY id"""),

    QuerySpec("x101_bpe_train", (s, dir) => {
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
    }, (x101Chain(merges = 12) +
      x101MergeTail(merges = 12))),

    QuerySpec("x102_pca_power", (s, dir) => {
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
    }, x102Oracle(iters = 8, dims = 64)),

    QuerySpec("x103_embed_abtt", (s, dir) => {
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
    }, x103Oracle(iters = 8, dims = 64)),

    QuerySpec("x104_bpe_encode", (s, dir) => {
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
    }, (x101Chain(merges = 12) +
      x104EncodeTail(merges = 12))),

    QuerySpec("x104b_ledger_encode", (s, dir) => {
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
    },
    // ledger-fed encode applies a standing merge table that the
    // deterministic argmax makes identical to a fresh train's, so it
    // shares x104's oracle verbatim (the x97b discipline)
    (x101Chain(merges = 12) +
      x104EncodeTail(merges = 12))),

    QuerySpec("x106_tokenizer_drift", (s, dir) => {
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
    }, (x101Chain(merges = 12,
      wfWhere = "WHERE lang = 'en'") +
      x106DriftTail(merges = 12, th = "1.05"))),

    QuerySpec("e2e_embed_pipeline", (s, dir) => {
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
    }, (x102Chain(iters = 8, dims = 64,
      prefix = e2eCanaryChain) + residPrefix(iters = 8) +
      e2eEmbedTail)),

    QuerySpec("x109_salt_advisor", (s, dir) => {
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
    }, """
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
      FROM tot CROSS JOIN mk"""),

    QuerySpec("x108_partition_advisor", (s, dir) => {
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
    }, """
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
      FROM adv ORDER BY tbl"""),

    QuerySpec("x108b_advised_write", (s, dir) => {
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
    }, """
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
      FROM adv"""),

    QuerySpec("x110_domain_reweight", (s, dir) => {
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
    }, """
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
      FROM wpane ORDER BY domain"""),

    QuerySpec("x111_boilerplate_strip", (s, dir) => {
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
    }, x111OracleStr),

    QuerySpec("x114_pii_scrub", (s, dir) => {
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
    }, """
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
      FROM s4 GROUP BY source ORDER BY source"""),

    QuerySpec("st22_stream_boilerplate", (s, dir) => {
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
    },
    // st22 shares x111's oracle VERBATIM: the ledger's per-batch
    // distinct counts are additive, so blacklist and strip output
    // equal the batch form exactly for any stream split
    x111OracleStr),

    QuerySpec("st21_stream_bpe", (s, dir) => {
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
    }, (x101Chain(merges = 12) +
      x101MergeTail(merges = 12))),

    QuerySpec("x107_pca_deflate", (s, dir) => {
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
    }, x107Oracle(iters = 8, dims = 64)),

    QuerySpec("x105_gram_pca", (s, dir) => {
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
    }, x105OracleStr),

    QuerySpec("st20_stream_pca", (s, dir) => {
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
    }, x105OracleStr),

    QuerySpec("j21_join_auto", (s, dir) => {
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
    }, """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
             'broadcast' AS route
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QuerySpec("x98_calibration_audit", (s, dir) => {
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
    }, x98OracleStr),

    QuerySpec("x99_hard_negatives", (s, dir) => {
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
    }, """
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
      ORDER BY p.query_id"""),

    QuerySpec("st19_stream_score", (s, dir) => {
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
    }, x97OracleStr),

    QuerySpec("x94_dsir_selection", (s, dir) => {
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
    }, dsirSelectionOracle),

    QuerySpec("st18_stream_dsir", (s, dir) => {
      // x94's STREAMING twin: the DSIR model trains as the corpus
      // streams in (bucket counts fold into a batchId-idempotent
      // ledger — Streams.streamDsirWeights), then the same selection
      // pane runs against the LEDGER model. Shares x94's oracle
      // verbatim — the additive-sufficient-statistic batching-
      // invariance proof (final ledger model == batch model for any
      // stream split).
      dsirPane(s, dir, graft.streaming.Streams.streamDsirWeights(s, dir))
    }, dsirSelectionOracle),

    QuerySpec("x9_quality_score", (s, dir) => {
      TextOps.qualityFeatures(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"))
    }, """
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
      ORDER BY id"""),

    QuerySpec("x10_token_counts", (s, dir) => {
      TextOps.tokenCounts(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"))
    }, """
      SELECT doc_id AS id,
             len(regexp_extract_all(text, '\S+')) AS ws_tokens,
             len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
      FROM documents ORDER BY id"""),

    QuerySpec("x11_fingerprints", (s, dir) => {
      TextOps.fingerprints(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"))
    }, """
      SELECT doc_id AS id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS md5_fp,
             CAST(('0x' || substring(md5(regexp_replace(trim(lower(text)),
               '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp60
      FROM documents ORDER BY id"""),

    QuerySpec("x16_pii_scrub", (s, dir) => {
      // PII masking over documents with deterministic injected PII (the
      // corpus itself carries none, so the injection makes the op visible)
      val d = t(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          lit(" reach user"), col("doc_id").cast(StringType),
          lit("@example.com or 555-867-5309 from 10.0.0."),
          (col("doc_id") % 256).cast(StringType)))
      TextOps.scrubPii(d, col("doc_id"), col("text2"))
        .orderBy(col("id"))
    }, """
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
      ORDER BY id"""),

    QuerySpec("x17_chunk_tokens", (s, dir) => {
      TextOps.chunkTokens(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"), col("chunk_no"))
    }, """
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
      FROM st ORDER BY id, chunk_no"""),

    QuerySpec("x18_tfidf_topk", (s, dir) => {
      TextOps.tfidfTopTerms(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"), col("rank"))
    }, """
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
      WHERE rank <= 3 ORDER BY id, rank"""),
  )
}
