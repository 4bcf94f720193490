package graft

import org.apache.spark.sql.functions._
import graft.pipelines.{Gmaps, ReferenceOds, ReferenceWarehouse}

/** End-to-end build of the SURVEY §1.4 table inventory over the
  * FIXTURES.md inputs — the runner that mirrors the reference's whole
  * Airflow warehouse (trigger/sensor graph → topological build). */
class ReferenceWarehouseSpec extends GraftSuite {

  private val fx = "src/test/resources/fixtures"

  private def readCsv(path: String) =
    spark.read.option("header", "true").csv(path)

  private def sources = {
    import spark.implicits._
    val reviewsRaw = Seq(
      // every convertRelDate branch + an unresolvable string (kept, null
      // date) + a null review_id (dropped by the ods filter)
      ("台北塔樓", "r1", 5L, "好看",  "3天前",    "2024-05-01 08:00:00", "u1", "http://u/1"),
      ("台北塔樓", "r2", 4L, "不錯",  "2週前",    "2024-05-01 08:00:00", "u2", "http://u/2"),
      ("木柵動物園", "r3", 3L, "可愛", "5個月前",  "2024-05-01 08:00:00", "u1", "http://u/1"),
      ("木柵動物園", "r4", 4L, "好玩", "1年前",    "2024-05-01 08:00:00", "u3", "http://u/3"),
      ("台北塔樓", "r5", 2L, "普通",  "10分鐘前", "2024-05-01 08:00:00", "u2", "http://u/2"),
      ("台北塔樓", "r6", 1L, "怪",    "昨天",     "2024-05-01 08:00:00", "u4", "http://u/4"),
      ("木柵動物園", null, 9L, "孤兒", "3天前",   "2024-05-01 08:00:00", "u9", "http://u/9"))
      .toDF("place_name", "review_id", "rating", "review_text",
        "published_at", "extracted_at", "user_name", "user_url")
    Map(
      "tripadvisor_raw" ->
        ReferenceOds.withRowIds(readCsv(s"$fx/src_tripadvisor.csv")),
      "taipei_raw" ->
        ReferenceOds.withRowIds(readCsv(s"$fx/src_taipei.csv")),
      "gmaps_places_raw" -> spark.read.schema(Gmaps.placesRawSchema)
        .json(s"$fx/places/*/*.jsonl")
        .withColumn("__file", input_file_name()),
      "gmaps_reviews_raw" -> reviewsRaw,
      "fb_posts_raw" ->
        readCsv(s"$fx/postsInformation_TaipeiTower_2024-05-01.csv")
          .withColumn("__file", input_file_name()),
      "weather_raw" -> readCsv(s"$fx/weatherInfoDW.csv"),
      "hashtag_ids" -> Seq(("河畔夜市", "tag-id-1"))
        .toDF("name", "attraction_id"))
  }

  test("§1.4 inventory: every table builds, keyed and non-empty") {
    val lake = graft.sources.ScratchRoot.path("test_refwh")
    val mart = ReferenceWarehouse.run(spark, sources, lake)
    val ctx = new ReferenceWarehouse.Ctx(spark, Map.empty, lake)

    // every table of the inventory materialized and non-empty
    for (t <- ReferenceWarehouse.tables) {
      assert(new java.io.File(ctx.path(t.qualified)).exists(), t.qualified)
      assert(ctx.read(t.qualified).count() > 0, s"${t.qualified} is empty")
    }

    // ods.gmaps_reviews is date-partitioned, one file per date (S9)
    val parts = new java.io.File(ctx.path("ods.gmaps_reviews")).listFiles()
      .filter(_.getName.startsWith("published_at="))
    assert(parts.nonEmpty)
    assert(parts.forall(
      _.listFiles().count(_.getName.endsWith(".parquet")) == 1))

    // null-key review dropped; unresolvable date kept with null date
    val ods = ctx.read("ods.gmaps_reviews")
    assert(ods.count() === 6)
    assert(ods.filter(col("published_at").isNull).count() === 1)

    // the id-mapping dims carry the reference md5(name) convention
    val hashtag = ctx.read("dim.attraction_hashtag")
    val towerId = hashtag.filter(col("name") === "台北塔樓")
      .head().getAs[String]("attraction_id")
    assert(towerId === java.security.MessageDigest.getInstance("MD5")
      .digest("台北塔樓".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // INSERT-missing folded in: the hashtag-only name arrives via M2
    assert(hashtag.filter(col("name") === "河畔夜市").count() === 1)

    // fact.attraction_history: visitors keyed to ids (PK id+year+month)
    val hist = ctx.read("fact.attraction_history")
    assert(hist.filter(col("attraction_id").isNull).count() === 0)
    assert(hist.select("attraction_id", "year", "month").distinct().count()
      === hist.count())

    // the mart rolls up reviews against both dims
    assert(mart.count() > 0)
    assert(mart.columns.contains("avg_rating"))
    val towerRows = mart.filter(col("place_name") === "台北塔樓")
    assert(towerRows.count() > 0)
  }
}
