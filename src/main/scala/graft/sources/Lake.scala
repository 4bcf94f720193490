package graft.sources

import java.io.IOException
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Filesystem lake — the blob-store lifecycle surface of the reference's
  * storage utility (`airflow/utils/gcp.py`: exists-guards :41-43/:84-86,
  * list+sort :448-471, delete :301-345, rename/move :348-445) over
  * Hadoop FS, so the same code paths work on local disk, HDFS, or any
  * object store with a Hadoop connector.
  *
  * Layout convention mirrors the reference's date-prefixed buckets:
  * `<root>/<zone>/<dataset>/<yyyy-MM-dd>/…` (e.g.
  * `d_gmaps_places_src_to_ods.py:21`), which doubles as a partition
  * column on read.
  */
final class Lake(spark: SparkSession, root: String) {

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(parts: String*): Path = new Path((root +: parts).mkString("/"))

  /** S10: existence guard. */
  def exists(parts: String*): Boolean = { val p = path(parts: _*); fs(p).exists(p) }

  /** S11: list blobs under a prefix, name-sorted (the reference sorts
    * blob names to get deterministic batch order). */
  def list(parts: String*): Seq[String] = {
    val p = path(parts: _*)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.toString).sorted.toSeq
  }

  /** S12: delete a blob/prefix (recursive, idempotent). */
  def delete(parts: String*): Boolean = {
    val p = path(parts: _*); fs(p).delete(p, true)
  }

  /** S12: rename/move a prefix (the reference's raw→processed archive
    * move, `gcp.py:348-445`). */
  def rename(from: Seq[String], to: Seq[String]): Boolean = {
    val src = path(from: _*); val dst = path(to: _*)
    val f = fs(src)
    f.mkdirs(dst.getParent)
    f.rename(src, dst)
  }

  /** S8+S10: idempotent full-refresh write — `WRITE_TRUNCATE` when
    * overwrite=true, exists-skip when false (`mode("ignore")`). */
  def write(df: DataFrame, overwrite: Boolean, parts: String*): Unit =
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Ignore)
      .parquet(path(parts: _*).toString)

  /** Read a dataset (optionally a glob prefix, S7). */
  def read(parts: String*): DataFrame =
    spark.read.parquet(path(parts: _*).toString)

  /** Count the data files currently under a dataset directory
    * (recursive, excluding _SUCCESS/checksum markers). */
  def dataFileCount(parts: String*): Int = {
    val p = path(parts: _*); Lake.dataFiles(fs(p), p).size
  }

  /** Small-file compaction — THE steady-state lake maintenance op: a
    * streaming/incremental writer leaves thousands of KB-sized files
    * per partition, and every downstream scan then pays one task +
    * one object-store GET per file. Rewrites the dataset into
    * ceil(bytes / targetBytes) files (size-based, so the same call
    * works at any scale), staged to a temp dir and committed by
    * [[Lake.swapIn]]. A reader never sees a MIX of old and new files;
    * the swap's brief absent-path window and its restore-or-name-the-
    * backup failure handling are described there (table formats exist
    * precisely to close that window with a metadata pointer). Returns
    * (filesBefore, filesAfter). */
  def compact(targetBytes: Long, parts: String*): (Int, Int) = {
    val p = path(parts: _*); val f = fs(p)
    require(f.exists(p), s"compact: no dataset at $p")
    val before = dataFileCount(parts: _*)
    val bytes = f.getContentSummary(p).getLength
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = parts.init :+ (".compact." + parts.last)
    // coalesce, not repartition: no shuffle — tasks just concatenate
    // input splits, which is all compaction needs
    read(parts: _*).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(path(tmp: _*).toString)
    Lake.swapIn(f, path(tmp: _*), p,
      path(parts.init :+ (".pre-compact." + parts.last): _*),
      "compact commit")
    (before, dataFileCount(parts: _*))
  }

  // ------------------------------------------------- versioned snapshots

  /** Snapshot version dirs live under `<dataset>/v=N`. Writes are
    * immutable-append (a new N), reads pin a version or take the
    * latest — the poor-man's time travel every lakehouse table format
    * provides, expressed with nothing but directory convention +
    * atomic rename. At scale each version is a plain parquet dataset;
    * old versions vacuum by deleting their directory. */
  private def versionsOf(dataset: String): Seq[Int] =
    list(dataset).map(p => new Path(p).getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toInt).sorted

  /** Write the next snapshot version of `dataset`; returns its number.
    * Stage-then-rename keeps a concurrent reader from ever listing a
    * half-written version. */
  def writeSnapshot(df: DataFrame, dataset: String): Int = {
    val next = versionsOf(dataset).lastOption.getOrElse(0) + 1
    val tmp = Seq(dataset, s".v=$next.staging")
    df.write.mode(SaveMode.Overwrite).parquet(path(tmp: _*).toString)
    if (!rename(tmp, Seq(dataset, s"v=$next")))
      throw new java.io.IOException(s"snapshot commit failed: $dataset v=$next")
    next
  }

  /** Read `dataset` as of `version` (latest when None) — time travel. */
  def readSnapshot(dataset: String, version: Option[Int] = None): DataFrame = {
    val vs = versionsOf(dataset)
    require(vs.nonEmpty, s"no snapshots under $dataset")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    read(dataset, s"v=$v")
  }
}

object Lake {

  /** The data files under `dir`, recursively — `_`/`.`-prefixed names
    * (`_SUCCESS`, checksums, dot-temps, an in-flight writer's
    * `_temporary` tree) are skipped at every level, so a listing
    * never counts or folds a file a concurrent write has not
    * committed. Empty when `dir` does not exist. */
  private[graft] def dataFiles(f: FileSystem, dir: Path): Seq[Path] = {
    def visible(st: FileStatus) = {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(d: Path): Seq[Path] =
      f.listStatus(d).toSeq.filter(visible).flatMap(st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
    if (f.exists(dir)) walk(dir) else Seq.empty
  }

  /** The backup swap every stage-then-commit rewrite ends with
    * ([[Lake.compact]], `Mutations.overwriteAtomic`,
    * `VersionedState.rewritePart`): rename `live` to `bak`, `staged`
    * to `live`, drop `bak`. A stale `bak` from an earlier crashed swap
    * is cleared first; an absent `live` (a first write) skips the
    * backup. If the second rename fails or throws, the backup is
    * renamed back before the failure surfaces; if that restore fails
    * too, the exception names the backup path that still holds the
    * data. The swap is two renames, not one: between them `live` is
    * briefly absent, so a racing reader can observe FileNotFound and
    * should retry (single-writer maintenance windows are the intended
    * deployment). `label` opens every error message. */
  private[graft] def swapIn(f: FileSystem, staged: Path, live: Path,
                            bak: Path, label: String): Unit = {
    f.delete(bak, true)
    val hadLive = f.exists(live)
    if (hadLive && !f.rename(live, bak))
      throw new IOException(s"$label failed: $live -> $bak")
    try {
      if (!f.rename(staged, live))
        throw new IOException(s"$label failed: $staged -> $live")
    } catch {
      case e: IOException =>
        if (hadLive && !f.rename(bak, live))
          throw new IOException(s"$label failed AND restore failed: " +
            s"data is intact under $bak; rename it back to $live", e)
        throw e
    }
    f.delete(bak, true)
  }
}
