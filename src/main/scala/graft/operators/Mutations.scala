package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** DML emulation over immutable parquet tables (SURVEY §2.10): the
  * reference's BigQuery `UPDATE` / `INSERT … WHERE NOT IN` / `DELETE`
  * batches (`create_dim_attraction_hashtag.py:134-191`,
  * `create_dim_attraction_detail.py:123-199`) re-expressed as
  * deterministic read → transform → overwrite rewrites.
  *
  * Scale notes: each rewrite is one pass over the table — a narrow
  * projection for update/delete, one anti-join shuffle for
  * insert-missing. Repair maps are broadcast-sized by construction
  * (hand-written rule lists). Folding these into the upstream build
  * (same final table, no second pass) stays the preferred shape; these
  * operators exist for when the target is already materialized.
  */
object Mutations {

  /** M1 — `UPDATE target SET col=v, … WHERE cond`: conditional column
    * rewrite (reference's ×13 synonym-id repair). */
  def updateWhere(df: DataFrame, cond: Column,
                  assignments: Map[String, Column]): DataFrame =
    assignments.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, when(cond, v).otherwise(col(c)))
    }

  /** M1 variant — key→value repair map on one column (the reference's
    * literal UPDATE-per-name list as data). */
  def repairByKey(df: DataFrame, keyCol: String, valueCol: String,
                  repairs: Map[String, String]): DataFrame = {
    val m = map(repairs.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)
    df.withColumn(valueCol, coalesce(element_at(m, col(keyCol)), col(valueCol)))
  }

  /** M2 — `INSERT INTO target SELECT … FROM source WHERE key NOT IN
    * (SELECT key FROM target)`: left-anti join + union. */
  def insertMissing(target: DataFrame, source: DataFrame,
                    keys: Seq[String]): DataFrame =
    target.unionByName(source.join(target, keys, "left_anti"))

  /** M3 — `DELETE FROM target WHERE cond`: filter-out rewrite. Null
    * predicate rows are kept (SQL DELETE only removes WHERE=true). */
  def deleteWhere(df: DataFrame, cond: Column): DataFrame =
    df.filter(!coalesce(cond, lit(false)))

  /** SCD Type-2 merge: fold an update batch into a versioned dimension.
    *
    * The reference full-refreshes its dims every run
    * (`create_dim_attraction_type.py` drops and rebuilds); at 100 TB a
    * full refresh rewrites the world for a 0.1% delta, so the
    * scale-respecting shape is the slowly-changing-dimension merge every
    * warehouse engine ships as `MERGE INTO`: close out changed current
    * rows, append new versions, insert unseen keys, keep history rows
    * untouched.
    *
    * `dim` carries `keys ++ tracked ++ (validFrom, validTo, isCurrent)`;
    * `updates` carries `keys ++ tracked` (one row per key). A key's row
    * is "changed" when any tracked column differs null-safely from the
    * current version.
    *
    * Plan shape: ONE key-grain shuffle join (current slice × updates)
    * decides changed/unchanged/new; everything else is unions of
    * projections of the two inputs. Update batches are typically ≪ dim,
    * so Spark broadcasts the update side and the merge costs one pass
    * over the dimension — same I/O as the DELETE/INSERT rewrites above,
    * never a full recompute. */
  def scd2Merge(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                tracked: Seq[String], batchDate: String,
                validFrom: String = "valid_from",
                validTo: String = "valid_to",
                isCurrent: String = "is_current"): DataFrame = {
    val dimCols = keys ++ tracked ++ Seq(validFrom, validTo, isCurrent)
    val history = dim.filter(!col(isCurrent)).select(dimCols.map(col): _*)
    val current = dim.filter(col(isCurrent))
    // null-safe "any tracked column differs"
    val diff = tracked.map(c => !(col(s"cur.$c") <=> col(s"upd.$c")))
      .reduce(_ || _)
    // explicit presence markers: key columns may be legitimately null
    // under the null-safe join, so side presence can't be read off them
    val joined = current.withColumn("__cur", lit(true)).as("cur")
      .join(updates.withColumn("__upd", lit(true)).as("upd"),
        keys.map(k => col(s"cur.$k") <=> col(s"upd.$k")).reduce(_ && _),
        "full_outer")
    val curP = col("cur.__cur").isNotNull
    val updP = col("upd.__upd").isNotNull
    // each joined row emits its 0-2 output rows from ONE projection —
    // per-branch filters would let Catalyst split the plan into four
    // separate joins (four scans of the dim; observed in the physical
    // plan), where this shape keeps exactly one join at any scale
    def curRow(vt: Column, ic: Column) = struct(
      (keys ++ tracked).map(c => col(s"cur.$c").as(c)) ++ Seq(
        col(s"cur.$validFrom").as(validFrom), vt.as(validTo),
        ic.as(isCurrent)): _*)
    val updRow = struct(
      (keys ++ tracked).map(c => col(s"upd.$c").as(c)) ++ Seq(
        lit(batchDate).as(validFrom),
        lit(null).cast("string").as(validTo),
        lit(true).as(isCurrent)): _*)
    val emitted = joined.select(explode(filter(array(
        // unchanged-or-unmatched current rows pass through untouched
        when(curP && (!updP || !diff),
          curRow(col(s"cur.$validTo"), col(s"cur.$isCurrent"))),
        // changed keys: close the old version…
        when(curP && updP && diff, curRow(lit(batchDate), lit(false))),
        // …and open the new one
        when(curP && updP && diff, updRow),
        // brand-new keys insert as the first current version
        when(!curP, updRow)),
      r => r.isNotNull)).as("__r"))
      .select(col("__r.*"))
    history.unionByName(emitted)
  }

  /** Incremental aggregate maintenance: fold a pre-aggregated delta
    * slice into a materialized additive rollup (counts, sums) without
    * recomputing history — union + re-aggregate, which is exactly the
    * partial/final aggregation split Spark itself uses, applied across
    * materialization boundaries. At 100 TB the target is rollup-grain
    * (small), the delta is one new partition: the merge costs the
    * delta's aggregation plus a rollup-sized shuffle, not a rescan of
    * the fact history. Requires every measure to be additive (sums and
    * counts compose; averages must be carried as sum+count). */
  def upsertAggregate(target: DataFrame, delta: DataFrame,
                      keys: Seq[String], measures: Seq[String]): DataFrame =
    target.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*)

  /** Seed an empty parquet ledger with the given schema — the starting
    * state of every incremental-maintenance target (m5/st11 additive
    * rollups, st13 sketch ledger). One place instead of per-site
    * createDataFrame(emptyRDD) boilerplate. */
  def seedEmptyLedger(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** The a4-style tolerance flag: TRUE when `est` is within `tol`
    * relative error of `exact`. Shared by every sketch-estimate
    * contract (m8, st13) so the tolerance and flag semantics can't
    * drift between the batch and streaming twins. */
  def toleranceFlag(exact: Column, est: Column, tol: Double): Column =
    abs(est - exact).cast("double") / exact <= tol

  /** CDC op-log apply (Debezium/binlog-style): materialize current
    * table state from an insert/update/delete operation log by
    * last-writer-wins per key. Op rows carry (`keys`..., `opCol` ∈
    * {I,U,D}, ordering columns...); for each key the latest op by
    * `ordering` (e.g. ts + a sequence tiebreak — make it total, or
    * concurrent writers are nondeterministic by construction) decides:
    * D ⇒ the key is gone, I/U ⇒ its payload is the state.
    *
    * One window over the op log partitioned by key — the log shuffles
    * once on the key, rank-1 rows project out. The streaming sibling
    * is st6's upsert; this is the batch replay that bootstraps or
    * audits it. */
  def cdcApply(opLog: DataFrame, keys: Seq[String], opCol: String,
               ordering: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordering.map(_.desc): _*)
    opLog.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1 && col(opCol) =!= "D")
      .drop("__rk")
  }

  /** Snapshot diff: classify each key as inserted / deleted / updated
    * between two versions of a keyed table (unchanged keys are
    * omitted) — the audit query every versioned table
    * ([[graft.sources.Lake.writeSnapshot]]) owes its consumers, and
    * the input to incremental downstream refresh (ship the diff, not
    * the table). Payloads compare via one md5 over the JSON encoding
    * of the non-key struct — unambiguous framing: strings are quoted
    * and null fields are OMITTED from the JSON, and since the field
    * set is fixed by the schema, omission itself is injective — so no
    * payload value can collide with a field separator or null
    * sentinel. The full-outer join carries keys + one 16-byte hash
    * per side, never the row bodies. One key-grain shuffle join;
    * co-partitioned or bucketed versions
    * ([[graft.operators.Bucketing]]) diff with no exchange at all. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(before.columns.toSeq == after.columns.toSeq,
      s"schema mismatch: ${before.columns.toSeq} vs ${after.columns.toSeq}")
    val payload = before.columns.filterNot(keys.contains).toSeq
    def hashed(df: DataFrame, h: String) =
      df.select(keys.map(col) :+
        md5(to_json(struct(payload.map(col): _*))).as(h): _*)
    hashed(before, "__hb").join(hashed(after, "__ha"), keys, "full_outer")
      .withColumn("change",
        when(col("__hb").isNull, "inserted")
          .when(col("__ha").isNull, "deleted")
          .when(col("__hb") =!= col("__ha"), "updated"))
      .filter(col("change").isNotNull)
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Atomic overwrite for rewrite cycles (§7.4): materialize to a temp
    * dir, then commit it with [[graft.sources.Lake.swapIn]]'s backup
    * swap (the old delete-then-rename left a window where a crash LOST
    * the standing dataset outright). A failed rewrite never destroys
    * the target; a failed swap restores the backup or says exactly
    * where the data lives. Reruns are idempotent (a stale backup from
    * a prior crash is cleared first), and a target that does not
    * exist yet is simply created. The target is briefly ABSENT between
    * the swap's two renames — single-writer maintenance/ledger loops
    * (the streaming foreachBatch callers) are the intended
    * deployment. */
  def overwriteAtomic(df: DataFrame, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    graft.sources.Lake.swapIn(
      target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration),
      tmp, target, new org.apache.hadoop.fs.Path(path + "__bak"),
      "atomic swap")
  }
}
