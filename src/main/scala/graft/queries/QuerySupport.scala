package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.sources.ScratchRoot

/** Helpers shared by more than one query family: table loads, exact
  * sums, the row-set and recall contracts, and the standing ledgers
  * (model, tokenizer, ANN index). The ANN query side rests on three
  * of them: [[standingAnnBundle]] guards and builds a bundle in
  * either layout, `Similarity.loadLiveIndex` is its tombstone-aware
  * read ([[standingAnnIndex]] is the two together), and
  * [[recallTally]] counts how much of the exact twin a search
  * returned. Scratch dirs come from [[graft.sources.ScratchRoot]]. */
private[graft] object QuerySupport {

  def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** sum over exact DECIMAL(18,2), surfaced as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** The embeddings long-form prologue shared by the PCA-tier
    * queries: (id, d, x double) with d = pos + 1 — BASE-1 to match
    * the oracles' generate_subscripts convention, defined once. */
  def embLong(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("id"), (col("pos") + 1).as("d"),
        col("xf").cast(DoubleType).as("x"))

  /** Multiset row equality in ONE Spark action: the
    * `a.exceptAll(b).count == 0 && b.exceptAll(a).count == 0` idiom
    * unioned into a single symmetric-difference count (both
    * directions empty ⇔ the union counts 0 — same predicate, half
    * the actions; on green queries both counts always ran). Callers
    * pass CHECKPOINTED operands when the inputs are expensive lazy
    * plans — exceptAll evaluates each side per direction, so an
    * un-materialized operand would otherwise be recomputed. */
  def rowSetEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty

  /** The exact twin left-joined to an approximate result on
    * (query_id, neighbor_id), as `b` and `l`: a `b` row whose
    * `l.neighbor_id` is null is an exact neighbor the search missed. */
  private def twinJoin(exact: DataFrame, got: DataFrame): DataFrame =
    exact.as("b").join(got.as("l"),
      col("b.query_id") === col("l.query_id") &&
        col("b.neighbor_id") === col("l.neighbor_id"), "left")

  /** One row (n_exact, n_hit): the exact twin's (query, neighbor)
    * pairs, and how many of them the approximate result `got` also
    * returned. Callers derive their own recall columns from it. */
  def recallTally(exact: DataFrame, got: DataFrame): DataFrame =
    twinJoin(exact, got).agg(count(lit(1)).as("n_exact"),
      count(col("l.neighbor_id")).as("n_hit"))

  /** Quality-contract row for an approximate ANN result: macro-average
    * recall@5 vs the exact top-k twin `exact` (cosine `bruteTopK` or
    * fixed-point `bruteTopKL2`, whichever metric the search ranks
    * by), reduced to a boolean bound the SQL oracle can assert (the
    * a4/a8b pattern for operators whose internals aren't
    * SQL-expressible). One row: (n_queries, <flag> = avg recall ≥
    * bound). */
  def annRecallContract(approx: DataFrame, exact: DataFrame,
                        bound: Double, flag: String): DataFrame =
    twinJoin(exact, approx)
      .groupBy(col("b.query_id"))
      .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
        .as("recall"))
      .agg(count(lit(1)).as("n_queries"),
        (avg(col("recall")) >= lit(bound)).as(flag))

  /** Data files a read of `encoded` restricted to `cells` opens: on a
    * cell-layout bundle, the witness that the probe filter prunes
    * files (callers compare it with the probed-cell count). */
  def filesRead(encoded: DataFrame, cells: Array[Long]): Long =
    encoded.filter(col("cell").isInCollection(cells.toSeq))
      .select(input_file_name()).distinct().count()

  /** Shared x111/st22 footer-canary injection: the synthetic corpus
    * has no newline structure, so one deterministic web-furniture
    * line per doc (doc_id % 3) makes the boilerplate gate provably
    * live at every scale (the x26/x106 discipline). ONE definition
    * for the batch query, the streaming twin's micro-batches, and
    * its strip input — and the generated oracle mirrors it. */
  def footerInject(df: DataFrame): DataFrame =
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
  def standingQualityModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = ScratchRoot.path(
      s"model_${Learn.qualityModelVersion()}_$key")
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
  def standingBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedState
    val key = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val path = ScratchRoot.path(s"tok_${Tokenize.bpeModelVersion}_$key")
    if (!VersionedState.exists(s, path, Tokenize.bpeModelVersion)) {
      val wf = Tokenize.wordFreq(t(s, dir, "documents"), col("text"))
      VersionedState.write(path, Tokenize.bpeModelVersion,
        "merges" -> Tokenize.bpeTrain(wf, merges = 12))
    }
    VersionedState.read(s, path, Tokenize.bpeModelVersion, "merges")
  }

  /** ONE path derivation for a standing ANN ledger — shared by the
    * exists-guarded builder below and the lifecycle consumers that
    * address the same bundle directly (x119's tombstone append): two
    * parallel string-formats would be the silent-divergence class
    * the version contract exists to kill, with the failure mode
    * "tombstones land next to a path nobody reads". */
  def annLedgerPath(version: String, lakeKey: String): String =
    ScratchRoot.path(s"ann_${version}_$lakeKey")

  /** The STANDING ANN-index ledger (x113): trained centroids +
    * residual codebook + the encoded corpus persist as version-keyed
    * parquet ([[graft.sources.VersionedState]] — the same form the
    * classifier and tokenizer ledgers use), S10 exists-guarded, first
    * caller builds with the fixed recipe (one coarse and one PQ
    * iteration). Completes the amortization trio: every trained
    * artifact in the engine (model, tokenizer, index) now has a
    * standing form whose consumers pay only the read + search, never
    * the build. `lakeKey` names the corpus INCLUDING its recipe
    * version (the ledger is per (lake recipe, quantizer recipe) —
    * either changing must move the path, or a stale index of an old
    * corpus/quantizer would silently serve; the model ledger's
    * (dir, recipe) discipline). `cellLayout` persists the encoded
    * part one directory per cell (`persistIndexCellLayout`, the
    * probe-prunable form); callers give such bundles their own key.
    * Returns (path, version) and reads nothing back. */
  def standingAnnBundle(s: SparkSession, lakeKey: String,
                        lake: DataFrame, nlist: Int, m: Int, ksub: Int,
                        cellLayout: Boolean = false): (String, String) = {
    val version = Similarity.annIndexVersion(nlist, m, ksub)
    val path = annLedgerPath(version, lakeKey)
    if (!Similarity.indexExists(s, path, version)) {
      val (cents, codebook, encoded) = Similarity.ivfpqTrainEncode(
        lake, "vec_id", "embedding", nlist, m, ksub,
        coarseIters = 1, pqIters = 1)
      if (cellLayout)
        Similarity.persistIndexCellLayout(path, version, cents,
          codebook, encoded)
      else Similarity.persistIndex(path, version, cents, codebook,
        encoded)
    }
    (path, version)
  }

  /** [[standingAnnBundle]] read back through `Similarity.loadLiveIndex`:
    * EVERY guarded consumer is tombstone-aware, so forgotten ids stop
    * surfacing from any search path, not just the one that deleted
    * them (the x119 contract). A never-forgotten bundle anti-joins an
    * empty broadcast set — plan noise, zero rows moved. */
  def standingAnnIndex(s: SparkSession, lakeKey: String,
                       lake: DataFrame, nlist: Int, m: Int, ksub: Int,
                       cellLayout: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val (path, version) = standingAnnBundle(s, lakeKey, lake, nlist, m,
      ksub, cellLayout)
    Similarity.loadLiveIndex(s, path, version)
  }
}
