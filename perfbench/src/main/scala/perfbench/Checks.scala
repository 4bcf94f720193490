package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The in-program output checks, shared by the workloads and the
  * self-test (`SelfTest`), which feeds each a corrupted result. */
object Checks {
  /** A timed run of a request returned the rows its first run returned. */
  def sameRows(rows: Seq[Row], digest: String): Boolean = Digest.of(rows) == digest

  /** Share of the exact top-k neighbours present in `got`. */
  def recall(exact: Map[Long, Set[Long]], got: Set[(Long, Long)]): Double = {
    val hits = exact.toSeq.map { case (q, ns) => ns.count(nb => got((q, nb))) }.sum
    hits.toDouble / math.max(1, exact.values.map(_.size).sum)
  }

  /** An ANN request is correct when it repeats its first result and
    * finds at least `floor` of the exact neighbours. */
  def annOk(got: Set[(Long, Long)], first: Set[(Long, Long)],
            exact: Map[Long, Set[Long]], floor: Double): Boolean =
    got == first && recall(exact, got) >= floor

  /** Two collected results hold the same rows, in any order. */
  def sameRowSet(a: Seq[Row], b: Seq[Row]): Boolean =
    a.nonEmpty && a.map(_.toString).sorted == b.map(_.toString).sorted

  /** Rows in one frame and not the other, both directions (multiset). */
  def rowDiff(a: DataFrame, b: DataFrame): Long = {
    def counts(df: DataFrame) = df.collect().toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    val (ca, cb) = (counts(a), counts(b))
    (ca.keySet ++ cb.keySet).toSeq.map(k =>
      math.abs(ca.getOrElse(k, 0L) - cb.getOrElse(k, 0L))).sum
  }

  /** Search results that return a forgotten id. */
  def forgottenHits(rows: Seq[(Long, Long)], gone: Set[Long]): Long =
    rows.count { case (_, nb) => gone(nb) }.toLong

  /** A batch is searchable when its first and last vector find themselves. */
  def searchable(rows: Seq[(Long, Long)], lo: Long, hi: Long): Boolean = {
    val found = rows.filter { case (q, nb) => q == nb }.map(_._1).toSet
    found(lo) && found(hi)
  }

  /** The listeners' jobs, attributed and not, are every job the DAG
    * scheduler numbered while tracing. */
  def jobsAddUp(attributed: Long, unattributed: Long, scheduled: Long): Boolean =
    scheduled > 0 && attributed + unattributed == scheduled

  /** Every job fell in a span. */
  def allAttributed(unattributed: Long): Boolean = unattributed == 0

  /** How far a traced root span may be from the untraced latency of the
    * same kind of operation, relative to it. The two phases run different
    * seeded operations on a shared host, so medians of one kind differ by
    * up to ~30 % between phases without tracing; a root span that misses
    * the work of a layer call or of materializing the result differs by
    * more. */
  val RootTolerance = 0.5

  /** The worst relative difference, over the operation kinds both phases
    * ran, between the traced phase's median root span and the reference
    * phase's median untraced latency; None when no kind ran in both. */
  def rootDeviation(ref: Map[String, Seq[Long]],
                    traced: Map[String, Seq[Long]]): Option[Double] = {
    val kinds = ref.keySet.intersect(traced.keySet).toSeq
      .filter(k => ref(k).nonEmpty && traced(k).nonEmpty)
    if (kinds.isEmpty) None
    else Some(kinds.map { k =>
      val r = Stats.median(ref(k).map(_.toDouble))
      math.abs(Stats.median(traced(k).map(_.toDouble)) / r - 1.0)
    }.max)
  }

  /** A planted near-duplicate pair: (d-1, d) for d % 10 == 9. */
  def planted(p: (Long, Long)): Boolean = {
    val (a, b) = (math.min(p._1, p._2), math.max(p._1, p._2))
    b % 10 == 9 && a == b - 1
  }

  /** Over-merging guard on the near-duplicate pairs: at least half are
    * planted pairs. The fixed documents also hold chance near-duplicates
    * (short texts over a small vocabulary; 148 pairs across all 5000
    * documents against 500 planted), so a rule that every component stay
    * within one planted group would reject correct output; a pair finder
    * that links unrelated documents wholesale fails this floor. */
  def mostlyPlanted(pairs: Seq[(Long, Long)]): Boolean =
    pairs.nonEmpty && 2 * pairs.count(planted) >= pairs.length

  /** Ids whose component differs from the connected components of
    * `pairs` computed on the driver by union-find (label: smallest id).
    * `cc` holds (id, component) rows. */
  def componentsOff(pairs: Seq[(Long, Long)], cc: Seq[(Long, Long)]): Long = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.toSeq.map(x => x -> find(x)).toMap
    val got = cc.toMap
    if (got.size != cc.length) return cc.length.toLong
    (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k)).toLong
  }

  /** Planted near-duplicate pairs (d-1, d for d % 10 == 9) that the
    * components put apart. `cc` has columns (id, component). */
  def plantedMissed(cc: DataFrame): Long =
    cc.as("a").join(cc.as("b"),
        col("a.id") === col("b.id") + 1 && col("a.id") % 10 === 9)
      .filter(col("a.component") =!= col("b.component")).count()
}

/** Feeds every in-program check a correct and a corrupted result and
  * prints one line per check: `CHECK <name> accepts=<bool> rejects=<bool>`.
  * `run.py --self-test` runs it next to the oracle self-test. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File("spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def report(name: String, accepts: Boolean, rejects: Boolean): Unit =
      println(s"CHECK $name accepts=$accepts rejects=$rejects")

    val rows = Seq(Row(1L, "a", 2.5), Row(2L, "b", 3.5))
    val bad = Seq(Row(1L, "a", 2.5), Row(2L, "b", 3.25))
    report("request_repeats_rows", Checks.sameRows(rows.reverse, Digest.of(rows)),
      !Checks.sameRows(bad, Digest.of(rows)))

    val exact = Map(1L -> Set(10L, 11L, 12L, 13L, 14L))
    val got = exact(1L).map(n => (1L, n))
    val worse = got.take(2)
    report("ann_request", Checks.annOk(got, got, exact, AnnSearch.RecallFloor),
      !Checks.annOk(worse, worse, exact, AnnSearch.RecallFloor) &&
        !Checks.annOk(got, worse, exact, AnnSearch.RecallFloor))

    report("batched_equals_unbatched", Checks.sameRowSet(rows, rows.reverse),
      !Checks.sameRowSet(rows, bad) && !Checks.sameRowSet(Nil, Nil))

    val ledger = Seq((1L, 3L, 0, 7), (2L, 5L, 1, 9)).toDF("neighbor_id", "cell", "sub", "code")
    val corrupted = Seq((1L, 3L, 0, 7), (2L, 5L, 1, 8)).toDF("neighbor_id", "cell", "sub", "code")
    report("ledger_equals_batch_encode", Checks.rowDiff(ledger, ledger) == 0,
      Checks.rowDiff(ledger, corrupted) > 0 && Checks.rowDiff(ledger, ledger.limit(1)) > 0)

    val probe = Seq((5L, 5L), (5L, 7L), (9L, 9L))
    report("forgotten_never_returned", Checks.forgottenHits(probe, Set(3L)) == 0,
      Checks.forgottenHits(probe, Set(7L)) > 0)

    report("batch_searchable", Checks.searchable(probe, 5L, 9L),
      !Checks.searchable(probe.filterNot(_ == ((9L, 9L))), 5L, 9L))

    val cc = Seq((8L, 8L), (9L, 8L), (18L, 18L), (19L, 18L)).toDF("id", "component")
    val split = Seq((8L, 8L), (9L, 9L), (18L, 18L), (19L, 18L)).toDF("id", "component")
    report("planted_pairs_joined", Checks.plantedMissed(cc) == 0, Checks.plantedMissed(split) > 0)

    val pairs = Seq((8L, 9L), (18L, 19L), (19L, 40L))
    val closure = Seq((8L, 8L), (9L, 8L), (18L, 18L), (19L, 18L), (40L, 18L))
    report("components_equal_pair_closure", Checks.componentsOff(pairs, closure) == 0,
      Checks.componentsOff(pairs, closure.map { case (id, _) => (id, 8L) }) > 0 &&
        Checks.componentsOff(pairs, closure.filterNot(_._1 == 40L)) > 0 &&
        Checks.componentsOff(pairs, closure :+ ((40L, 40L))) > 0)

    val unrelated = (100L until 110L).map(i => (i, i + 50))
    report("pairs_mostly_planted", Checks.mostlyPlanted(pairs),
      !Checks.mostlyPlanted(pairs ++ unrelated) && !Checks.mostlyPlanted(Nil))

    report("trace:jobs_match_scheduler", Checks.jobsAddUp(40, 2, 42),
      !Checks.jobsAddUp(39, 2, 42) && !Checks.jobsAddUp(40, 3, 42) &&
        !Checks.jobsAddUp(0, 0, 0))
    report("trace:all_jobs_attributed", Checks.allAttributed(0), !Checks.allAttributed(1))
    val ref = Map("flagship" -> Seq(100L, 120L, 90L), "asof" -> Seq(40L, 44L))
    val traced = Map("flagship" -> Seq(104L, 95L, 118L), "asof" -> Seq(45L))
    def rootsOk(t: Map[String, Seq[Long]]) =
      Checks.rootDeviation(ref, t).exists(_ <= Checks.RootTolerance)
    report("trace:roots_match_untraced", rootsOk(traced),
      !rootsOk(traced.updated("flagship", Seq(30L, 35L, 40L))) &&
        !rootsOk(traced.updated("asof", Seq(150L))) && !rootsOk(Map("melt" -> Seq(5L))))

    val docs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    report("documents_primary_key",
      graft.operators.Quality.pkViolations(docs, Seq("doc_id")) == 0,
      graft.operators.Quality.pkViolations(docs.union(docs.limit(1)), Seq("doc_id")) > 0)
    spark.stop()
  }
}
