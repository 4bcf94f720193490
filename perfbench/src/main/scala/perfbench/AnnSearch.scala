package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** `ann_search`: a closed loop of seeded query batches against one IVF-PQ
  * cell-layout bundle trained and persisted in set-up on the 20k-vector
  * hash-blob lake. Requests mix four routes (pruned, probe-locality
  * batched, filtered router, two-shard merge). Half the batches are
  * cluster-local, half spread across clusters. */
final class AnnSearch(spark: SparkSession, in: JsonNode) extends Workload {
  import AnnSearch._
  private val n = in.get("n").asLong
  private val batchesIn = In.objs(in.get("batches"))
  private val pool = In.objs(in.get("requests"))
  private val order = In.ints(in.get("order")).map(_.toInt)
  private val clients = in.get("clients").asInt
  private val version = Similarity.annIndexVersion(Nlist, M, Ksub)

  private var lake: DataFrame = _
  private var path: String = _
  private var cents: DataFrame = _
  private var codebook: DataFrame = _
  private var encoded: DataFrame = _
  private var queries: Map[Int, DataFrame] = Map.empty
  /** Exact top-k per request id: query id -> neighbor ids. */
  private val exact = new ConcurrentHashMap[Int, Map[Long, Set[Long]]]()
  /** First result per request id, the rows timed runs must repeat. */
  private val first = new ConcurrentHashMap[Int, Set[(Long, Long)]]()
  private val scored = new java.util.concurrent.atomic.AtomicLong(0)
  private val resultRows = new java.util.concurrent.atomic.AtomicLong(0)

  def setup(rep: Int): Unit = {
    path = new File(s"lake/setup$rep/${Workloads.BundleMarker}").getAbsolutePath
    lake = Trace.span("similarity", "hashBlobLake")(
      Similarity.hashBlobLake(spark, n).localCheckpoint(true))
    val (c0, cb0, e0) = Trace.span("similarity", "ivfpqTrainEncode") {
      Similarity.ivfpqTrainEncode(lake, "vec_id", "embedding", Nlist, M, Ksub,
        coarseIters = 1, pqIters = 1)
    }
    Trace.span("versioned", "persistIndexCellLayout", "write")(
      Similarity.persistIndexCellLayout(path, version, c0, cb0, e0))
  }

  def inputBytes: Long = n * 64L * 4L

  private def load(): (DataFrame, DataFrame, DataFrame) =
    Trace.span("versioned", "loadIndexCellLayout", "read") {
      val (c, cb, e) = Similarity.loadIndexCellLayout(spark, path, version)
      (c, cb, Similarity.liveEncoded(e, Similarity.annTombstones(spark, path)))
    }

  /** A batch's query vectors: lake vectors with seeded jitter, new ids. */
  private def queryBatch(b: JsonNode): DataFrame = {
    val ids = In.ints(b.get("ids"))
    val salt = b.get("salt").asLong
    lake.filter(col("vec_id").isin(ids: _*))
      .select((col("vec_id") + QueryIdBase).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> CAST(x + " +
          s"(pmod(xxhash64(vec_id, i, ${salt}L), 2001) - 1000) / 1000000.0 AS FLOAT))")
          .as("embedding"))
      .localCheckpoint(true)
  }

  private def filterPred(r: JsonNode) =
    pmod(col("vec_id"), lit(4L)) =!= r.get("residue").asLong

  /** The route's result plan plus any construction-time actions. */
  private def search(r: JsonNode, q: DataFrame): DataFrame = {
    val rr = Similarity.rerankFor(n, Nlist, Nprobe)
    r.get("route").asText match {
      case "pruned" => Trace.span("similarity", "ivfpqSearchPruned") {
        Similarity.ivfpqSearchPruned(q, "vec_id", "embedding", encoded, cents,
          codebook, K, Nprobe, M, rerank = rr, rerankSource = Some(lake))._2
      }
      case "batched" => Trace.span("similarity", "ivfpqSearchPrunedBatched") {
        Similarity.ivfpqSearchPrunedBatched(q, "vec_id", "embedding", encoded,
          cents, codebook, K, Nprobe, M, rerank = rr, rerankSource = Some(lake),
          cellBudget = CellBudget)._2
      }
      case "filtered" => Trace.span("similarity", "annTopKFilteredRouted") {
        Similarity.annTopKFilteredRouted(q, lake, "vec_id", "embedding",
          filterPred(r), K, encoded, cents, codebook, Nlist, M,
          bruteCutoff = 4096L, pruneCells = true).result
      }
      case "merged" => Trace.span("similarity", "ivfpqMergeTopK") {
        val perShard = (0 until 2).map { sh =>
          val key = Similarity.annShardKey(col("neighbor_id"), 2) === sh
          Similarity.ivfpqSearchPruned(q, "vec_id", "embedding",
            encoded.filter(key), cents, codebook, K, Nprobe, M, rerank = rr,
            rerankSource = Some(lake))._2
        }
        Similarity.ivfpqMergeTopK(perShard, K)
      }
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    Loop.collect(df.select("query_id", "neighbor_id"))
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def prepare(): Unit = {
    val (c, cb, e) = load()
    cents = c; codebook = cb; encoded = e
    queries = batchesIn.map(b => b.get("id").asInt -> queryBatch(b)).toMap
    pool.foreach { r =>
      val id = r.get("id").asInt
      val q = queries(r.get("batch").asInt)
      val corpus = if (r.get("route").asText == "filtered") lake.filter(filterPred(r)) else lake
      val ex = Similarity.bruteTopKL2(q, corpus, "vec_id", "embedding", K)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      exact.put(id, ex)
      first.put(id, pairs(search(r, q))) // also warms every route
    }
  }

  @volatile private var cursor = 0
  def runUntil(deadlineNs: Long, traced: Boolean): Seq[Op] = {
    val start = cursor
    val scanned0 = Trace.bundleRowsScanned
    val ops = Loop.closed(clients, deadlineNs) { (_, i) =>
      val r = pool(order((start + i) % order.length))
      val id = r.get("id").asInt
      val q = queries(r.get("batch").asInt)
      val (got, ns) = Trace.root(r.get("route").asText) {
        pairs(Trace.span("bench", "build")(search(r, q)))
      }
      if (traced) resultRows.addAndGet(got.size)
      val ex = exact.get(id)
      Op(ns / 1e6, ex.size.toLong, Checks.annOk(got, first.get(id), ex, RecallFloor),
        Checks.recall(ex, got))
    }
    if (traced) scored.addAndGet(Trace.bundleRowsScanned - scanned0)
    cursor = start + ops.length
    ops
  }

  def verify(out: Out): Seq[(String, Boolean, String)] = {
    // the batched route must return exactly the unbatched route's rows
    batchesIn.map { b =>
      val q = queries(b.get("id").asInt)
      val rr = Similarity.rerankFor(n, Nlist, Nprobe)
      val u = Similarity.ivfpqSearchPruned(q, "vec_id", "embedding", encoded,
        cents, codebook, K, Nprobe, M, rerank = rr, rerankSource = Some(lake))._2
      val bt = Similarity.ivfpqSearchPrunedBatched(q, "vec_id", "embedding",
        encoded, cents, codebook, K, Nprobe, M, rerank = rr,
        rerankSource = Some(lake), cellBudget = CellBudget)._2
      val cols = Seq("query_id", "rank", "neighbor_id", "approx_d2")
      val ur = u.select(cols.map(col): _*).collect().toSeq
      val br = bt.select(cols.map(col): _*).collect().toSeq
      (s"batched_equals_unbatched_b${b.get("id").asInt}", Checks.sameRowSet(ur, br),
        s"${br.length} rows vs ${ur.length}")
    }
  }

  override def extra(out: Out): Unit =
    out.num("similarity.rows_scored_per_result",
      scored.get.toDouble / math.max(1L, resultRows.get))
}

object AnnSearch {
  val Nlist = 64
  val M = 8
  val Ksub = 16
  val K = 5
  val Nprobe = 8
  val CellBudget = 16
  val QueryIdBase = 1000000000L
  /** A request fails if it finds fewer of the exact neighbours. */
  val RecallFloor = 0.6
}

object Workloads {
  /** Path component that marks an ANN bundle, for scan attribution. */
  val BundleMarker = "annbundle"
}
