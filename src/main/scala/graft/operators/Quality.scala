package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks — the reference's relational contract
  * (`sql/init.sql` primary keys, NOT NULL columns, FK references) has no
  * enforcement in Spark or BigQuery; both reduce it to checks the
  * pipeline runs after a build (SURVEY §1.1). Each check is one
  * aggregation pass returning violation counts — at 100 TB they are the
  * same partial+final hash aggregations as any other query, and several
  * checks on one table fuse into a single pass via [[report]].
  */
object Quality {

  /** Primary-key violation count: rows minus distinct keys (0 = unique).
    * Null key components count as violations (SQL PKs forbid null).
    * One aggregation job, one scan: total rows, null-key rows, and the
    * exact distinct count of non-null keys fuse into a single pass
    * (the previous formulation ran three jobs over the table). */
  def pkViolations(df: DataFrame, keys: Seq[String]): Long = {
    val nullKey = keys.map(c => col(c).isNull).reduce(_ || _)
    val row = df.select(
      count(lit(1)).as("total"),
      coalesce(sum(when(nullKey, 1L).otherwise(0L)), lit(0L)).as("null_rows"),
      countDistinct(when(!nullKey, struct(keys.map(col): _*))).as("nd"))
      .head()
    val (total, nullRows, nd) = (row.getLong(0), row.getLong(1), row.getLong(2))
    nullRows + (total - nullRows - nd)
  }

  /** FK containment: child rows whose non-null key has no parent row.
    * One left-anti join on the key — the scale-canonical referential
    * check. */
  def fkOrphans(child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")

  /** Range/predicate violations (CHECK-constraint shape). */
  def checkViolations(df: DataFrame, predicate: Column): Long =
    df.filter(!coalesce(predicate, lit(false))).count()

  /** One-pass combined report over a table: per-column null counts +
    * total rows, as a single-row DataFrame (fused aggregation). */
  def report(df: DataFrame, notNullCols: Seq[String]): DataFrame =
    df.select(count(lit(1)).as("n_rows") +:
      notNullCols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")): _*)

  /** Star-schema integrity report: evaluate a set of named violation
    * sets lazily and union their counts into one (check_name, table_name,
    * n_violations) table — the post-build validation run the
    * reference's MySQL DDL constraints reduce to (SURVEY §1.1,
    * `sql/init.sql`). Each entry is (check name, table name, DataFrame
    * whose ROWS are the violations — e.g. [[fkOrphans]] output, a
    * duplicate-key set, a failed-predicate filter).
    *
    * The union of per-check 1-row aggregates stays one Spark job;
    * each check is its own scan/join subtree, so the planner
    * parallelizes them and nothing funnels through the driver. */
  def integrityReport(checks: Seq[(String, String, DataFrame)]): DataFrame = {
    require(checks.nonEmpty,
      "integrityReport: empty check list — pass at least one " +
        "(check_name, table_name, violations) entry")
    checks.map { case (name, tbl, viol) =>
      viol.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), lit(tbl).as("table_name"),
          col("n_violations"))
    }.reduce(_ unionAll _)
  }

  /** Duplicate-key rows as a SET (for [[integrityReport]]): one row per
    * key value that appears more than once (null components included —
    * SQL PKs forbid null). */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)

  /** Key-skew report: the `topN` heaviest values of a key column with
    * their row share and rank — the diagnostic that decides between a
    * plain shuffle join, AQE skew handling, and explicit salting
    * ([[Relational.saltedJoin]]). One aggregation + a tiny top-N window
    * over the (already reduced) group counts; at 100 TB the groupBy is
    * the only data-scaling shuffle and the window runs over distinct
    * keys only. */
  def keySkew(df: DataFrame, key: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(col(key).as("key"))
      .agg(count(lit(1)).as("n"))
    val total = sum(col("n")).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    counts
      // explicit half-up (cross-engine reproducible, see
      // Similarity.quantizeInt8)
      .withColumn("share", floor(col("n") / total * 1e6d + 0.5d) / 1e6d)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("key").asc)))
      .filter(col("rank") <= topN)
  }

  /** Equi-width histogram over a numeric column: `nBuckets` buckets of
    * width (hi−lo)/nBuckets with the two tails clamped into the edge
    * buckets. One partial+final hash aggregation — the profile query a
    * 100 TB column scan answers in a single pass (bucket ids reduce
    * map-side, so the shuffle carries ≤ nBuckets rows per task). Bucket
    * arithmetic is plain IEEE double ops, identical across engines. */
  def histogram(df: DataFrame, value: Column,
                lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(nBuckets > 0 && hi > lo, "need hi > lo and nBuckets > 0")
    val width = (hi - lo) / nBuckets
    val bucket = least(greatest(floor((value - lo) / width), lit(0L)),
      lit(nBuckets - 1L)).cast("long")
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(value).as("min_v"), max(value).as("max_v"))
      .withColumn("bucket_lo", lit(lo) + col("bucket") * lit(width))
  }

  /** Z-score outlier report per group: population mean/stddev from
    * exact decimal sums (engine-order-independent), then the count of
    * rows beyond `z` standard deviations. One aggregation to get the
    * moments per group, one broadcast join back for the flag count —
    * two passes, both full scans, no row blowup; the standard streaming
    * data-cleaning shape. */
  def zscoreOutliers(df: DataFrame, group: Column, value: Column,
                     z: Double = 2.5): DataFrame = {
    val moments = df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(value.cast("decimal(18,2)")).as("s1"),
        sum((value.cast("decimal(18,2)") * value.cast("decimal(18,2)"))
          .cast("decimal(28,4)")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("sd", sqrt(col("s2").cast("double") / col("n")
        - col("mean") * col("mean")))
    df.select(group.as("grp"), value.as("v"))
      .join(broadcast(moments), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(abs(col("v") - col("mean")) > lit(z) * col("sd"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(first(col("mean")), 4).as("mean"),
        round(first(col("sd")), 4).as("sd"))
  }

  /** Column profile in long format: one output row per profiled column
    * with null count, exact distinct count, and lexicographic min/max
    * (values stringified so heterogeneous columns share a schema). All
    * columns profile in ONE aggregation job; the multiple exact
    * DISTINCTs expand the aggregate (Spark's Expand operator) — at
    * 100 TB swap `countDistinct` for `approx_count_distinct`. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c).cast("string")).as(s"${c}__min"),
      max(col(c).cast("string")).as(s"${c}__max")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_s"),
        col(s"${c}__max").as("max_s"))): _*)).as("p"))
      .select("p.*")
  }
}
