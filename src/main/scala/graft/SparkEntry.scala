package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** One driver-contract query: its key, its Spark formulation over a
  * scale-factor directory, and the DuckDB SQL its output must
  * hash-match. */
final case class QuerySpec(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: String)

/** Driver contract (see SURVEY.md §7 + builder prompt).
  *
  * Each entry in [[registry]] exercises one operator row of SURVEY.md
  * §2 (key prefix = the §2 id), a reference pipeline chain (`ref*`),
  * or an LLM-pipeline operator (`x*` keys), implemented via the graft
  * library modules, and carries the DuckDB-equivalent SQL for the
  * driver's hash-match gate next to it — every query has one. The
  * entries live in one object per catalog family under
  * `graft/queries/`; [[queries]] and [[oracleSql]] are name-keyed
  * views of the registry. Engine-specific
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

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the
    * mart-review-trends shape — fact ⋈ dim ⋈ dim, multi-key group-by,
    * COUNT + rounded average (reference
    * `gmaps/d_gmaps_mart_review_trends.py:70-106`). */
  def entry(spark: SparkSession): DataFrame =
    queries("j4_mart_flagship")(spark, "/root/testdata/sf0.001")

  /** Every query in declaration order, family by family. */
  lazy val registry: Seq[QuerySpec] = {
    val all = Seq(SourceQueries.specs, RelationalQueries.specs,
      DedupQueries.specs, AnnQueries.specs, TextQueries.specs,
      MultimodalQueries.specs, GraphQueries.specs,
      PipelineQueries.specs, StreamQueries.specs).flatten
    val dups = all.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
