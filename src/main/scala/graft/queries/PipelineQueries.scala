package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference pipeline chains (§3.2) and the end-to-end
  * medallion pipeline (§3.1). */
private[graft] object PipelineQueries {
  import QuerySupport._
  import graft.sources.ScratchRoot.tmpDir

  val specs: Seq[QuerySpec] = Seq(
    // ---- reference pipeline chains (§3.2) ------------------------------
    QuerySpec("ref1_tripadvisor_chain", (s, dir) => {
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
    }, """
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
      ORDER BY attraction_name, rating"""),

    QuerySpec("ref2_gmaps_chain", (s, dir) => {
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
    }, {
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
    }),

    // ---- end-to-end medallion pipeline (§3.1) --------------------------
    QuerySpec("e2e_medallion_mart", (s, dir) => {
      // src → ods → dim/fact → mart chain with a dependency-ordered
      // runner and per-layer parquet materialization; returns the mart
      graft.pipelines.Medallion.run(s, dir, tmpDir("medallion_lake"))
        .orderBy(col("segment"), col("year"), col("quarter"))
    }, """
      SELECT c_mktsegment AS segment,
             CAST(year(o_orderdate) AS INT) AS year,
             CAST(quarter(o_orderdate) AS INT) AS quarter,
             COUNT(o_orderkey) AS n_reviews,
             round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 2) AS avg_rating
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        AND o_orderdate IS NOT NULL
      GROUP BY 1, 2, 3 ORDER BY segment, year, quarter"""),
  )
}
