package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** Sources, sinks and projections: the §2.1 scan/write
  * round-trips and the §2.2 projection, filter and sampling rows. */
private[graft] object SourceQueries {
  import QuerySupport._
  import graft.sources.ScratchRoot.tmpDir

  val specs: Seq[QuerySpec] = Seq(
    // ---- scans / sources / sinks (§2.1) --------------------------------
    QuerySpec("s1_csv_roundtrip", (s, dir) => {
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
    }, """
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    QuerySpec("s3_jsonl_roundtrip", (s, dir) => {
      // S3+S6: jsonl write/read round-trip
      val out = tmpDir("s3_jsonl")
      t(s, dir, "customer").write.mode("overwrite").json(out)
      val schema = t(s, dir, "customer").schema
      s.read.schema(schema).json(out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("balance"))
        .orderBy(col("c_mktsegment"))
    }, """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QuerySpec("s9_partitioned_write", (s, dir) => {
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
    }, """
      SELECT CAST(month(o_orderdate) AS INT) AS o_month, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE month(o_orderdate) BETWEEN 3 AND 6
      GROUP BY 1 ORDER BY o_month"""),

    QuerySpec("s7_sql_over_views", (s, dir) => {
      // S7+S15+S16: external-table views + SQL text in, DataFrame out
      Tables.createViews(s, dir)
      s.sql("""
        SELECT n.n_name AS nation, COUNT(*) AS n_cust,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n.n_name""")
    }, """
      SELECT n.n_name AS nation, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY nation"""),

    QuerySpec("s8_managed_table", (s, dir) => {
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
    }, """
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      ORDER BY n_nationkey"""),

    QuerySpec("s14_jdbc_roundtrip", (s, dir) => {
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
    }, """
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      ORDER BY n_nationkey"""),

    QuerySpec("s10_idempotent_guard", (s, dir) => {
      // S10: exists-guard via mode("ignore") — second write is a no-op
      val out = tmpDir("s10_guard")
      val src = t(s, dir, "region")
      src.write.mode("overwrite").parquet(out)
      src.limit(1).write.mode("ignore").parquet(out) // ignored: exists
      s.read.parquet(out).select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    }, """
      SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"""),

    QuerySpec("s19_lake_ops", (s, dir) => {
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
    }, """
      SELECT r_regionkey, r_name,
             'region_dim-prod' AS dataset,
             2 AS n_versions_listed,
             TRUE AS v2_archived
      FROM region ORDER BY r_regionkey"""),

    QuerySpec("s20_compact_small_files", (s, dir) => {
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
    }, """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance,
             TRUE AS files_collapsed
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QuerySpec("s21_orc_roundtrip", (s, dir) => {
      // ORC write/read round-trip — the second columnar format Spark
      // ships natively (a lake ingesting external ORC drops needs no
      // extra code); schema carried by the format itself.
      val out = tmpDir("s21_orc")
      t(s, dir, "orders").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }, """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    QuerySpec("s22_config_layering", (s, dir) => {
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
    },
    // the oracle states every layered value INDEPENDENTLY of the Scala
    // resolution code: default-literal survival (region), env-override
    // resolution (project), env>file suffix precedence (env_suffix =
    // stg, not dev), table/blob suffixing + path re-rooting, and the
    // ENV_-escape suffix exemption (warehouse.table.secret)
    """
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
      ORDER BY conf_key"""),

    QuerySpec("s24_partition_evolution", (s, dir) => {
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
    }, """
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
             COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
             COUNT(DISTINCT strftime(o_orderdate, '%Y')) AS n_years
      FROM orders"""),

    QuerySpec("s23_orc_roundtrip", (s, dir) => {
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
    }, """
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---- projections / filters (§2.2) ----------------------------------
    QuerySpec("p1_drop_columns", (s, dir) => {
      Relational.dropCols(t(s, dir, "lineitem"),
          Seq("l_tax", "l_linestatus", "l_comment" /* absent → tolerated */))
        .withColumn("l_shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, """
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_returnflag,
             strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    QuerySpec("p2_drop_cols_regex", (s, dir) => {
      Relational.dropColsRegex(t(s, dir, "orders"), "^o_order(status|priority)$")
        .withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey, o_custkey, o_totalprice,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
      FROM orders ORDER BY o_orderkey"""),

    QuerySpec("p3_rename_columns", (s, dir) => {
      Relational.renameAll(t(s, dir, "customer"),
          Map("c_name" -> "name", "c_acctbal" -> "balance",
              "c_mktsegment" -> "segment"))
        .select(col("c_custkey"), col("name"), col("balance"), col("segment"))
        .orderBy(col("c_custkey"))
    }, """
      SELECT c_custkey, c_name AS name, c_acctbal AS balance,
             c_mktsegment AS segment
      FROM customer ORDER BY c_custkey"""),

    QuerySpec("p4_overwrite_keep_raw", (s, dir) => {
      Relational.overwriteKeepRaw(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderpriority",
          regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).cast(IntegerType))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey,
             CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS INT)
               AS o_orderpriority,
             o_orderpriority AS o_orderpriority_raw
      FROM orders ORDER BY o_orderkey"""),

    QuerySpec("p5_project_filter", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 25)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, """
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25
      ORDER BY l_orderkey, l_linenumber"""),

    QuerySpec("p6_dropna_all", (s, dir) => {
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
    }, """
      SELECT event_id, v1, v2 FROM (
        SELECT event_id,
               CASE WHEN value < 50 THEN NULL ELSE value END AS v1,
               CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS v2
        FROM events)
      WHERE v1 IS NOT NULL OR v2 IS NOT NULL ORDER BY event_id"""),

    QuerySpec("p7_dropna_subset", (s, dir) => {
      t(s, dir, "events")
        .withColumn("value_or_null",
          when(col("value") < 50, lit(null)).otherwise(col("value")))
        .na.drop(Seq("value_or_null"))
        .select(col("event_id"), col("value_or_null"))
        .orderBy(col("event_id"))
    }, """
      SELECT event_id, v AS value_or_null FROM (
        SELECT event_id, CASE WHEN value < 50 THEN NULL ELSE value END AS v
        FROM events) WHERE v IS NOT NULL ORDER BY event_id"""),

    QuerySpec("p11_limit_topn", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100)
      ORDER BY o_orderkey"""),

    QuerySpec("p12_shuffle_seeded", (s, dir) => {
      Relational.deterministicShuffle(t(s, dir, "orders"), col("o_orderkey"))
        .limit(500)
        .select(col("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey FROM (
        SELECT o_orderkey FROM orders
        ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 500)
      ORDER BY o_orderkey"""),

    QuerySpec("p13_batch_ntile", (s, dir) => {
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
    }, """
      SELECT batch, COUNT(*) AS n, MIN(o_orderkey) AS first_key FROM (
        SELECT o_orderkey, ntile(20) OVER (ORDER BY o_orderkey) AS batch
        FROM orders) GROUP BY batch ORDER BY batch"""),

    QuerySpec("p22_small_file_control", (s, dir) => {
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
    }, """
      WITH t AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders)
      SELECT n_rows, CAST(ceil(n_rows / 1000.0) AS BIGINT) AS n_files,
             sum_price, TRUE AS files_ok
      FROM t"""),

    QuerySpec("p20_global_rownum", (s, dir) => {
      // scale-correct global row numbering: range exchange +
      // per-partition window + prefix-sum offsets over ≤32 metadata
      // rows — never the single-partition ORDER BY window p13's ntile
      // pays (documented there as the bench-scale concession)
      Layout.globalRowNumber(t(s, dir, "orders"), col("o_orderkey"))
        .select(col("o_orderkey"), col("row_num"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS row_num
      FROM orders ORDER BY o_orderkey"""),

    QuerySpec("p14_hash_sample", (s, dir) => {
      // deterministic hash sample (m/16 of rows, pure function of the key
      // — reproducible across engines, cluster sizes, and reruns)
      Sampling.hashSample(t(s, dir, "orders"), col("o_orderkey"), m = 4)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
              IN ('0', '1', '2', '3')
      ORDER BY o_orderkey"""),

    QuerySpec("p15_stratified_sample", (s, dir) => {
      // stratified hash sample: each stratum sampled at m/16 independently
      Sampling.stratifiedHashSample(t(s, dir, "orders"),
          col("o_orderstatus"), col("o_orderkey"), m = 4)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }, """
      SELECT o_orderstatus, COUNT(*) AS n FROM orders
      WHERE substring(md5(o_orderstatus || '|' ||
              CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    QuerySpec("p16_temperature_sample", (s, dir) => {
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
    }, """
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
      FROM t LEFT JOIN k USING (source) ORDER BY source"""),

    QuerySpec("p19_fixed_k_per_stratum", (s, dir) => {
      // exactly-k deterministic draw per source (hash-priority rank —
      // the "100 examples per source" sample, engine-stable)
      Sampling.fixedKPerStratum(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), k = 10)
        .orderBy(col("source"), col("rk"))
    }, """
      SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
                 AS rk
        FROM documents)
      WHERE rk <= 10 ORDER BY source, rk"""),

    QuerySpec("p21_weighted_reservoir", (s, dir) => {
      // exactly-5 weighted draw per priority class, inclusion odds ∝
      // order value (Efraimidis-Spirakis priorities over deterministic
      // hash-u; one bounded-heap agg via graft_topk_agg — no
      // per-stratum sort, no RNG). The full formula is replayed by
      // the oracle, so the draw itself is hash-checked
      Sampling.weightedReservoir(t(s, dir, "orders"),
          col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), k = 5)
        .orderBy(col("stratum"), col("rk"))
    }, """
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
      ORDER BY stratum, rk"""),

    QuerySpec("p18_three_way_split", (s, dir) => {
      // deterministic train/val/test split: membership is a pure
      // function of the key — stable across reruns, engines, corpus
      // growth (Sampling.threeWaySplit)
      Sampling.threeWaySplit(t(s, dir, "documents")
          .select(col("doc_id"), col("source")), col("doc_id"))
        .orderBy(col("doc_id"))
    }, """
      SELECT doc_id, source,
             CASE WHEN u < 52428 THEN 'train'
                  WHEN u < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, source,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                     1, 4)) AS INT) AS u
            FROM documents)
      ORDER BY doc_id"""),

    QuerySpec("x37_mixture_plan", (s, dir) => {
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
    }, """
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
      FROM p ORDER BY source"""),

    QuerySpec("p17_dictionary_encode", (s, dir) => {
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
    }, """
      SELECT o_orderkey, o_orderpriority,
             CAST(dense_rank() OVER (ORDER BY o_orderpriority) AS INT)
               AS v_id
      FROM orders ORDER BY o_orderkey"""),
  )
}
