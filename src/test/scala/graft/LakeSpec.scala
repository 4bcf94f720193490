package graft

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Blob-lifecycle surface (SURVEY §2.1 S8, S10–S12): exists-guard,
  * list+sort, delete, rename/archive-move, idempotent write modes. */
class LakeSpec extends GraftSuite {

  private val root = graft.sources.ScratchRoot.path("test_lake")

  test("lake lifecycle: write, exists, list sorted, rename, delete") {
    val lake = new Lake(spark, root)
    lake.delete("raw")
    val df = Tables.load(spark, SparkTestBase.sfDir, "region")

    // S8 full refresh + S10 exists-guard
    assert(!lake.exists("raw", "regions", "2024-05-01"))
    lake.write(df, overwrite = true, "raw", "regions", "2024-05-01")
    lake.write(df, overwrite = true, "raw", "regions", "2024-05-02")
    assert(lake.exists("raw", "regions", "2024-05-01"))

    // S10: mode("ignore") skips an existing target
    lake.write(df.limit(1), overwrite = false, "raw", "regions", "2024-05-01")
    assert(lake.read("raw", "regions", "2024-05-01").count() === df.count())

    // S11: name-sorted listing (the reference sorts blob names for
    // deterministic batch order)
    val listed = lake.list("raw", "regions").map(_.split('/').last)
    assert(listed === Seq("2024-05-01", "2024-05-02"))

    // S12: archive move raw → processed
    assert(lake.rename(Seq("raw", "regions", "2024-05-01"),
      Seq("processed", "regions", "2024-05-01")))
    assert(!lake.exists("raw", "regions", "2024-05-01"))
    assert(lake.read("processed", "regions", "2024-05-01").count() === df.count())

    // S12: recursive idempotent delete
    assert(lake.delete("processed"))
    assert(!lake.exists("processed"))
    lake.delete("processed") // second delete: no throw
  }

  test("compact collapses a fragmented dataset without changing content") {
    val lake = new Lake(spark, root)
    lake.delete("frag")
    val df = Tables.load(spark, SparkTestBase.sfDir, "customer")
    df.repartition(16).write.mode("overwrite")
      .parquet(lake.path("frag").toString)
    assert(lake.dataFileCount("frag") >= 16)
    val (before, after) = lake.compact(64L << 20, "frag")
    assert(before >= 16 && after === 1)
    val back = lake.read("frag")
    assert(back.count() === df.count())
    assert(back.exceptAll(df).count() === 0)
    // no stray staging/backup dirs survive the commit
    assert(lake.list().map(_.split('/').last).forall(n => !n.startsWith(".")))
    lake.delete("frag")
  }

  test("swapIn restores the live data when the staged side is " +
       "missing, and leaves no backup behind") {
    val lake = new Lake(spark, root)
    lake.delete("swap")
    val df = Tables.load(spark, SparkTestBase.sfDir, "region")
    lake.write(df, overwrite = true, "swap", "live")
    val live = lake.path("swap", "live")
    val f = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException] {
      Lake.swapIn(f, lake.path("swap", "no_such_staged"), live,
        lake.path("swap", "live.bak"), "test swap")
    }
    assert(lake.read("swap", "live").exceptAll(df).count() === 0)
    assert(lake.read("swap", "live").count() === df.count())
    assert(!lake.exists("swap", "live.bak"),
      "the backup must be renamed back, not left beside the live data")
    lake.delete("swap")
  }

  test("date-prefixed layout doubles as a partition column on read") {
    val lake = new Lake(spark, root)
    lake.delete("events")
    val df = Tables.load(spark, SparkTestBase.sfDir, "region")
    lake.write(df, overwrite = true, "events", "dt=2024-05-01")
    lake.write(df, overwrite = true, "events", "dt=2024-05-02")
    val all = lake.read("events")
    assert(all.columns.contains("dt"))
    assert(all.filter(col("dt") === "2024-05-02").count() === df.count())
    lake.delete("events")
  }
}
