package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Medallion

class PipelineSpec extends GraftSuite {

  test("medallion chain builds all layers and the mart; rerun is idempotent") {
    val lake = graft.sources.ScratchRoot.path("test_medallion")
    val mart = Medallion.run(spark, SparkTestBase.sfDir, lake)
    assert(mart.count() > 0)
    // every layer materialized
    for (t <- Medallion.tables)
      assert(new java.io.File(s"$lake/${t.layer}/${t.name}").exists(), t.qualified)
    // ods is date-partitioned (S9) at year granularity — matched to the
    // table's data density (see Medallion.odsReviews scaladoc)
    val odsDirs = new java.io.File(s"$lake/ods/reviews").listFiles()
    assert(odsDirs.exists(_.getName.startsWith("published_year=")))
    // exactly one file per partition dir (repartition-before-write)
    val parts = odsDirs.filter(_.getName.startsWith("published_year="))
    assert(parts.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
    // full-refresh rerun yields the identical mart (materialize the
    // first result before the overwrite invalidates its files)
    val first = mart.orderBy(mart.columns.map(col): _*).collect().toSeq
    val again = Medallion.run(spark, SparkTestBase.sfDir, lake)
    assert(again.orderBy(again.columns.map(col): _*).collect().toSeq === first)
  }

  test("mart equals the collapsed single-plan equivalent") {
    val lake = graft.sources.ScratchRoot.path("test_medallion2")
    val mart = Medallion.run(spark, SparkTestBase.sfDir, lake)
    val o = Tables.load(spark, SparkTestBase.sfDir, "orders")
    val c = Tables.load(spark, SparkTestBase.sfDir, "customer")
    val collapsed = o
      .filter(col("o_orderkey").isNotNull && col("o_custkey").isNotNull &&
        col("o_orderdate").isNotNull)
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        year(col("o_orderdate")).as("year"),
        quarter(col("o_orderdate")).as("quarter"))
      .agg(count(col("o_orderkey")).as("n_reviews"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1)), 2).as("avg_rating"))
    assert(mart.exceptAll(collapsed).count() === 0)
    assert(collapsed.exceptAll(mart).count() === 0)
  }
}
