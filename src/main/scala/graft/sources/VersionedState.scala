package graft.sources

import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** VERSION-KEYED standing-state ledgers — the shared persistence form
  * behind every "train once, consumers read standing state" operator
  * (x97b/x98b's classifier model, x104b's tokenizer merge table,
  * st19's frozen stream model): a bundle of named parquet relations
  * plus a `meta` relation carrying the producing RECIPE's version
  * string.
  *
  * The version contract is what makes standing state safe to share:
  * consumers name the version they were built against, [[read]]
  * fails fast on a mismatch, and callers derive the ledger PATH from
  * the version too — so a recipe change moves the state aside
  * instead of letting a consumer silently score against weights (or
  * encode against merges) trained under different rules.
  *
  * This object is the ONE owner of how standing state commits: the
  * text stamp ([[writeStamp]]/[[readStamp]] — the version stamp here
  * and the ANN promote watermark in Similarity), the invalidate-first
  * bracket ([[commit]]) and, through [[Lake.swapIn]], the backup swap
  * a part rewrite ends with. Callers name parts and versions; none of
  * them knows the `meta` layout.
  *
  * Write order: INVALIDATE `meta` first, then data parts, then
  * re-stamp `meta` LAST — a reader that finds a valid meta sees
  * complete parts, and during a same-version rewrite no valid meta
  * coexists with partially-rewritten parts (the window a
  * meta-last-only discipline leaves open: overwrite deletes part
  * files while the previous meta still validates). Single-WRITER
  * discipline still applies — two concurrent trainers need a table
  * format's atomic metadata pointer, per Lake.compact's notes — but
  * the invalidate-first order makes the reader side safe against one
  * writer's rewrite. All filesystem probes go through Hadoop
  * `FileSystem` (the Lake.scala idiom), so the guard works on local
  * disk, HDFS, or any object store with a Hadoop connector — the
  * lakes the 100 TB story assumes. All state here is KB-to-MB model
  * artifacts; at 100 TB the corpus never flows through this surface,
  * only the distilled model state does.
  */
object VersionedState {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- stamps as DRIVER-GRAIN text files -------------------------------
  //
  // The version stamp was a 1-row parquet relation written with a
  // Spark job and validated with a Spark collect — ~0.2 s of scheduler
  // overhead PER STAMP and per validation, paid dozens of times by
  // every lifecycle query. A stamp is driver-grain metadata, not data:
  // it is one text file written through the Hadoop FileSystem (temp +
  // rename) and read back the same way — ZERO Spark jobs on either
  // side (guide §1.2: the jobs existed only to move one string). The
  // crash discipline is [[commit]]'s: invalidate deletes the meta DIR
  // first, the stamp lands LAST. [[versionProbe]] still reads the
  // stamp LAZILY inside the poll's one collect (a text-source scan —
  // the rewrite-race contract Round20Spec pins is execution-time, so
  // the probe must not snapshot at construction).

  private def metaDir(path: String): String = s"$path/meta"

  /** Write `value` as the one stamp file `dir/name`: `dir` is cleared
    * (a fresh stamp supersedes any older-format one), the text goes
    * to a dot-prefixed temp — invisible to file-source scans
    * mid-write — and is renamed into place. */
  private[graft] def writeStamp(spark: SparkSession, dir: String,
                                name: String, value: String): Unit = {
    val d = new Path(dir)
    val f = fs(spark, d)
    f.delete(d, true)
    f.mkdirs(d)
    val tmp = new Path(d, s".$name.tmp")
    val out = f.create(tmp, true)
    try out.write(value.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, new Path(d, name)))
      throw new java.io.IOException(
        s"VersionedState: could not commit stamp $dir/$name")
  }

  /** The stamp `dir/name`, or None when absent, torn or unreadable.
    * The text file is opened directly: one filesystem call, no Spark
    * job. When it is absent, a stamp written before the text format —
    * a 1-row parquet relation of `legacySchema` in `dir` — is read
    * instead (one Spark job), so bundles written by older versions
    * stay readable. */
  private[graft] def readStamp(spark: SparkSession, dir: String,
                               name: String, legacySchema: String)
      : Option[String] = {
    val d = new Path(dir)
    val f = fs(spark, d)
    try {
      val in = f.open(new Path(d, name))
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException =>
        try {
          val files = Lake.dataFiles(f, d)
          if (files.isEmpty) None
          else spark.read.schema(legacySchema)
            .parquet(files.map(_.toString): _*).collect().headOption
            .flatMap(r => Option(r.get(0))).map(_.toString)
        } catch { case NonFatal(_) => None }
      case _: java.io.IOException => None
    }
  }

  private def stampedVersion(spark: SparkSession, path: String)
      : Option[String] =
    readStamp(spark, metaDir(path), "version.txt", "version STRING")

  /** The invalidate-first bracket every bundle write runs inside:
    * delete `path/meta`, run `body`, stamp `version` LAST. From the
    * delete until the stamp, [[exists]] reads false and [[read]]
    * fails, so a reader never validates against half-written parts;
    * a crash or a throwing `body` leaves the bundle unstamped. */
  private[graft] def commit(spark: SparkSession, path: String,
                            version: String)(body: => Unit): Unit = {
    val meta = new Path(metaDir(path))
    fs(spark, meta).delete(meta, true)
    body
    writeStamp(spark, metaDir(path), "version.txt", version)
  }

  /** Persist `parts` (name → relation) under `path`, stamping
    * `version` last. Any previous meta is deleted FIRST, so a
    * concurrent reader can never validate against mid-rewrite parts;
    * deterministic producers (the fixed-point training discipline)
    * make redelivery byte-identical, so overwrite-on-rewrite is
    * idempotent. */
  def write(path: String, version: String,
            parts: (String, DataFrame)*): Unit =
    writeLayout(path, version, Map.empty, parts: _*)

  /** [[write]] with a PHYSICAL LAYOUT per part: parts named in
    * `partitionColsByPart` are written hive-partitioned on those
    * columns (directory per value), which turns a consumer's
    * equality/IN filter on them into PARTITION PRUNING — files never
    * opened, not rows filtered after a scan. The layout is part of
    * how a 100 TB ledger stays probe-able: a cell-partitioned
    * encoded part means a search batch that probes 128 of 65536
    * cells reads 128 directories, not the corpus (Similarity's
    * cell-layout search, x123). Same invalidate-first meta
    * discipline as [[write]]. */
  def writeLayout(path: String, version: String,
                  partitionColsByPart: Map[String, Seq[String]],
                  parts: (String, DataFrame)*): Unit = {
    require(parts.nonEmpty, "VersionedState.write: no parts")
    require(!parts.exists(_._1 == "meta"),
      "VersionedState.write: 'meta' is reserved for the version stamp")
    // parts land in DISJOINT directories — overlap the writes (guide
    // §2.6 via graft.Par): each write's driver-side commit window
    // back-fills the others' idle pool time; the stamp still lands
    // AFTER every part has committed, so a crash mid-writes leaves no
    // valid meta over partial state.
    commit(parts.head._2.sparkSession, path, version) {
      graft.Par.run(parts.map { case (name, df) => () =>
        val cols = partitionColsByPart.getOrElse(name, Seq.empty)
        if (cols.isEmpty)
          df.write.mode("overwrite").parquet(s"$path/$name")
        else
          df.write.mode("overwrite").partitionBy(cols: _*)
            .parquet(s"$path/$name")
      })
    }
  }

  /** True when a COMPLETE bundle of exactly `version` exists at
    * `path` — the S10 exists-guard (meta is written last, so its
    * presence implies the parts landed). Probes via Hadoop
    * `FileSystem`, not `java.io.File`, so the guard is live on
    * HDFS/S3 ledger paths too — a local-only probe would read false
    * there and silently retrain on every call.
    *
    * CONCURRENCY caveat (the single-writer contract, stated where
    * guards are written): between [[write]]'s meta-invalidate and its
    * re-stamp, this reads false, so a concurrent exists-guarded
    * caller (standingQualityModel / standingAnnIndex style) can start
    * a DUPLICATE build racing the in-flight one. Deterministic
    * producers make the duplicate byte-identical (wasted work, not
    * corruption), but cross-process first-caller dedup needs a table
    * format's atomic metadata pointer — per Lake.compact's notes. */
  def exists(spark: SparkSession, path: String,
             version: String): Boolean =
    stampedVersion(spark, path).contains(version)

  /** Rewrite ONE part of an existing bundle in place, crash-safe —
    * the ledger-compaction primitive ([[graft.operators.Similarity]]
    * `annCompact` folds tombstones into the encoded part without
    * re-persisting the KB definition parts). Order is the
    * Lake.compact swap wrapped in this ledger's invalidate-first
    * meta discipline:
    *
    *   1. stage the new rows to `<part>.compact` (sized file count —
    *      the accreted form's small-file debt is paid here);
    *   2. INVALIDATE meta — from here until re-stamp, `exists()`
    *      reads false, so a reader can never validate mid-swap;
    *   3. [[Lake.swapIn]]: live → `.pre-compact`, staged → live,
    *      drop the backup;
    *   4. re-stamp meta LAST.
    *
    * A crash at any point leaves either the old bundle intact
    * (before 2) or no valid meta (after 2) — never a valid meta over
    * mixed state. The input `df` MUST NOT read from the part being
    * rewritten (stage-then-swap does not protect a lazy self-read;
    * callers read the part, transform, and pass the plan — the
    * staging write in step 1 materializes it BEFORE step 3 touches
    * the source files, which is exactly why staging precedes the
    * swap). `nFiles` sizes the staged write via coalesce — no
    * shuffle, tasks concatenate input splits (Lake.compact's
    * reasoning).
    *
    * `partitionCols` preserves a hive-partitioned PHYSICAL LAYOUT
    * through the rewrite (ADVICE r9: the round-9 form staged a plain
    * unpartitioned write, so compacting a [[writeLayout]]-written
    * cell-layout part silently flattened it — results stayed correct
    * but the partition-filter → file-pruning contract stopped
    * holding after the first compact, with no warning). Non-empty
    * cols stage via `repartition(cols)` + `partitionBy(cols)` — one
    * file per live partition value, the same shape
    * [[graft.operators.Similarity.persistIndexCellLayout]] writes —
    * and `nFiles` is ignored on that path (file count = partition
    * count by construction). */
  def rewritePart(path: String, version: String, part: String,
                  df: DataFrame, nFiles: Int,
                  partitionCols: Seq[String] = Seq.empty): Unit = {
    require(part != "meta", "VersionedState.rewritePart: 'meta' is " +
      "the version stamp, not a rewritable part")
    require(nFiles >= 1, s"VersionedState.rewritePart: nFiles=$nFiles")
    val spark = df.sparkSession
    val live = new Path(s"$path/$part")
    val f = fs(spark, live)
    require(exists(spark, path, version),
      s"VersionedState.rewritePart: no complete '$version' bundle " +
        s"at $path — nothing to compact")
    require(f.exists(live),
      s"VersionedState.rewritePart: no part '$part' at $path")
    val staged = new Path(s"$path/$part.compact")
    if (f.exists(staged)) f.delete(staged, true)
    if (partitionCols.isEmpty)
      df.coalesce(nFiles).write.mode("overwrite")
        .parquet(staged.toString)
    else
      df.repartition(partitionCols
          .map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(staged.toString)
    commit(spark, path, version) {
      Lake.swapIn(f, staged, live, new Path(s"$path/$part.pre-compact"),
        "rewritePart: swap")
    }
  }

  /** Delete every stale versioned bundle under `root`, keeping only
    * bundles whose stamped version is in `keep` — the retention half
    * of the ledger lifecycle. Callers derive bundle PATHS from
    * version strings (the contract above), so a recipe change leaves
    * the old bundle orphaned at its old path forever; at 100 TB the
    * encoded part of each orphan is the corpus at m bytes/vector, so
    * "forever" is real storage. Sweeps one directory level: children
    * of `root` that contain a readable meta stamp. A child with NO
    * valid meta is left alone (it may be a bundle mid-write by
    * another process — deleting it here would race the writer; the
    * single-writer note in [[write]] applies). Returns
    * (keptCount, deletedCount). */
  def vacuumRoot(spark: SparkSession, root: String,
                 keep: Set[String]): (Int, Int) = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    if (!f.exists(rootP)) return (0, 0)
    var kept = 0; var deleted = 0
    f.listStatus(rootP).filter(_.isDirectory).foreach { st =>
      val v = stampedVersion(spark, st.getPath.toString)
      if (v.isDefined) {
        if (v.exists(keep.contains)) kept += 1
        else { f.delete(st.getPath, true); deleted += 1 }
      }
    }
    (kept, deleted)
  }

  /** Read one named part back, failing fast unless the persisted
    * version is exactly what the caller expects. */
  def read(spark: SparkSession, path: String, version: String,
           part: String): DataFrame =
    readParts(spark, path, version, part).head

  /** Read SEVERAL parts of one bundle behind a SINGLE version gate —
    * the same fail-fast contract as [[read]], paid once per bundle
    * instead of once per part. Every multi-part load (an index
    * definition is 2 parts, a full index 3, a model 2) was spending
    * one driver-side meta collect per part on re-validating the same
    * stamp; on the lifecycle queries those loads happen dozens of
    * times per run, so the redundant meta jobs are pure driver-gap
    * overhead (guide §1.2: don't compute things you throw away). */
  def readParts(spark: SparkSession, path: String, version: String,
                parts: String*): Seq[DataFrame] = {
    val stamped = stampedVersion(spark, path)
    require(stamped.contains(version),
      s"VersionedState: ledger at $path has version " +
        s"'${stamped.getOrElse("<none>")}'" +
        s" but this build expects '$version' — rebuild (derive the " +
        "ledger path from the version to make this unreachable)")
    parts.map(p => spark.read.parquet(s"$path/$p"))
  }

  /** The raw part relation WITHOUT [[read]]'s eager version gate —
    * for consumers that fold the stamp check into their own BATCHED
    * plan instead of paying one driver round-trip per ledger
    * ([[graft.operators.Advisors.opsConsole]]'s one-collect poll,
    * VERDICT r10). Every use MUST pair it with a [[versionProbe]]
    * branch collected in the same action, or the version contract
    * silently stops holding for that consumer. `schema` (when the
    * caller knows the columns it needs) skips parquet schema
    * INFERENCE, which is itself a Spark job per read — the last
    * per-ledger job the one-collect poll has to shed; a declared
    * column may be a projection of the part's full schema, and on a
    * hive-partitioned part the partition column is matched by name
    * at the declared type (the loadIndexCellLayout INT→LONG re-cast,
    * done at read instead). */
  def readPartUnvalidated(spark: SparkSession, path: String,
                          part: String,
                          schema: Option[org.apache.spark.sql.types
                            .StructType] = None): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(s"$path/$part")

  /** A LAZY 1-row version check — (ok = 1 when the stamped version
    * equals `version`, else 0; an empty, torn, or MISSING meta reads
    * 0) — the unionable form of [[read]]'s require, so a poll over N
    * ledgers validates all N stamps inside its one collect. Explicit
    * meta schema: no inference job. The missing-directory case is
    * real, not defensive: the write discipline DELETES meta first
    * during any rewrite, so a poll racing a rewritePart sees no meta
    * dir at all — that bundle must read invalid (and fail ITS
    * require after the collect), not throw and kill the poll for
    * the whole estate (round-11 review). Robust at EVERY stage of
    * the race (ADVICE r11): dir gone before construction → the
    * driver-side exists() probe; dir deleted between exists() and
    * analysis → analysis is FORCED here, inside the catch (Spark 4
    * defers file-source resolution to the first action, so without
    * the force the PATH_NOT_FOUND would escape at the poll's
    * collect — Round20Spec found this); files deleted between the
    * forced listing and the collect's execution →
    * `ignoreMissingFiles` skips them and the empty scan aggregates
    * to ok=0 via the coalesce. The forced analysis is a driver-side
    * file listing (same cost class as the exists() probe — no Spark
    * job), so the one-collect poll contract is untouched. A bundle
    * whose stamp predates the text format (a parquet `meta`, which
    * [[readStamp]] still reads) probes ok = 0: fail-safe, its
    * consumer's require fails instead of validating a mis-read
    * stamp; rewriting the bundle moves it to the text stamp. */
  def versionProbe(spark: SparkSession, path: String,
                   version: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, max, when}
    val meta = new Path(metaDir(path))
    val invalid = spark.range(1).select(lit(0L).as("ok"))
    if (!fs(spark, meta).exists(meta)) invalid
    else try {
      // meta is a text stamp now — still read through a LAZY
      // file-source scan (NOT a construction-time driver read): the
      // rewrite-race contract is execution-time (Round20Spec pins
      // that a probe planned before a meta delete reads ok=0 at the
      // collect), and a snapshot at construction would silently
      // validate a bundle a rewrite has since invalidated.
      val probe = spark.read.schema("version STRING")
        .option("ignoreMissingFiles", "true")
        .option("wholetext", "true")
        .text(metaDir(path))
        .agg(coalesce(max(when(col("version") === lit(version), 1L)
          .otherwise(0L)), lit(0L)).as("ok"))
      probe.queryExecution.analyzed // force the listing NOW
      probe
    } catch {
      // analysis lost the race with a rewrite's meta delete — same
      // outcome as the exists() branch
      case _: org.apache.spark.sql.AnalysisException => invalid
    }
  }
}
