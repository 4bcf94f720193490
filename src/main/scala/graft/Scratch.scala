package graft

import org.apache.spark.sql.SparkSession

import graft.queries.AnnQueries

/** Dev scratchpad (not part of the driver contract): time named
  * SparkEntry queries — `tools/run.sh graft.Scratch <sfDir> q1,q2` —
  * with the same noop-sink + min-of-2 protocol as Bench. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("a1_pricing_summary"))
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries("j4_mart_flagship")(spark, sfDir)
      .write.format("noop").mode("overwrite").save() // warmup
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    names.foreach {
      case "pq_recall" =>
        // sweep PQ operating points: macro recall@5 vs exact L2 top-k
        import org.apache.spark.sql.functions.{avg, col, count, lit}
        val emb = Tables.load(spark, sfDir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val exact = graft.operators.Similarity
          .bruteTopKL2(q, emb, "vec_id", "embedding", 5)
        for (ti <- Seq(1, 2, 3); rr <- Seq(50, 100, 200)) {
          val pq = graft.operators.Similarity.pqTopK(q, emb, "vec_id",
            "embedding", k = 5, m = 8, ksub = 16,
            trainIters = ti, rerank = rr)
          val r = exact.as("b").join(pq.as("l"),
              col("b.query_id") === col("l.query_id") &&
                col("b.neighbor_id") === col("l.neighbor_id"), "left")
            .groupBy(col("b.query_id"))
            .agg((count(col("l.neighbor_id")).cast("double") / lit(5.0d))
              .as("recall"))
            .agg(avg(col("recall")).as("macro"))
            .collect()(0).getDouble(0)
          println(f"pq_recall ti=$ti rr=$rr macro=$r%.3f")
        }
      case "x74_decomp" =>
        // decompose x74's r4->r5 slowdown: preflight scan vs
        // larger-lgk sketch cost (verdict-6 ask). Times the sized
        // screen, the r4-style hardcoded lgk=14 screen, and the
        // preflight alone, min-of-2 each after one warm pass.
        import graft.functions.SketchFns
        def t2(tag: String)(body: => Unit): Unit = {
          body // warm
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); body
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$tag%-28s min=${ts.min}%.3f  (${ts.mkString(", ")})")
        }
        t2("preflight_upper_bound") {
          AnnQueries.thetaPreflightUpperBound(spark, sfDir); ()
        }
        val upper = AnnQueries.thetaPreflightUpperBound(spark, sfDir)
        val sized = SketchFns.lgkFor(1600, upper)
        println(s"upper=$upper sized lgk=$sized")
        t2(s"screen_lgk14") {
          AnnQueries.thetaOverlapScreen(spark, sfDir, 14)
            .write.format("noop").mode("overwrite").save()
        }
        t2(s"screen_lgk$sized") {
          AnnQueries.thetaOverlapScreen(spark, sfDir, sized)
            .write.format("noop").mode("overwrite").save()
        }
      case "ivfpq_sweep" =>
        // x88 operating-point sweep at REALISTIC probed fractions:
        // nlist scaled up so nprobe/nlist drops toward a few percent
        // (the production regime) while the recall contract is
        // re-measured. Run against the derived sf1 lake (20k vectors)
        // where 64–128 cells still hold 150-300 vectors each.
        import org.apache.spark.sql.functions.{avg, col, count, lit}
        val emb = Tables.load(spark, sfDir, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
        val exact = graft.operators.Similarity
          .bruteTopKL2(q, emb, "vec_id", "embedding", 5)
          .localCheckpoint(true)
        val pts = sys.env.getOrElse("IVFPQ_PTS",
          "16:12:200,64:8:200,64:12:200,128:8:200,128:12:200")
          .split(",").toSeq.map { s =>
            val Array(a, b, c) = s.split(":").map(_.toInt); (a, b, c) }
        for ((nlist, nprobe, rerank) <- pts) {
          val t0 = System.nanoTime()
          val ann = graft.operators.Similarity.ivfpqTopK(q, emb,
            "vec_id", "embedding", k = 5, nlist = nlist,
            nprobe = nprobe, m = 8, ksub = 16, coarseIters = 1,
            pqIters = 1, rerank = rerank)
          val macroR = exact.as("b").join(ann.as("l"),
              col("b.query_id") === col("l.query_id") &&
                col("b.neighbor_id") === col("l.neighbor_id"), "left")
            .groupBy(col("b.query_id"))
            .agg((count(col("l.neighbor_id")).cast("double") /
              lit(5.0d)).as("recall"))
            .agg(avg(col("recall"))).collect()(0).getDouble(0)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"ivfpq nlist=$nlist%3d nprobe=$nprobe%2d " +
            f"rerank=$rerank%5d probed=${100.0 * nprobe / nlist}%5.1f%% " +
            f"recall=$macroR%.3f t=$dt%.2f s")
        }
      case "logistic_sweep" =>
        // x97 operating-point sweep: separation/accuracy vs (lr, iters)
        import org.apache.spark.sql.functions._
        val docs = Tables.load(spark, sfDir, "documents")
        val feat = graft.operators.Learn.features(docs,
            col("doc_id"), col("text"))
          .localCheckpoint()
        val labels = docs.select(col("doc_id").as("id"),
          when(col("lang") === "en", 1.0d).otherwise(0.0d).as("y"))
          .localCheckpoint()
        for (lr <- Seq(4.0, 8.0, 16.0, 32.0); it <- Seq(8, 12)) {
          val w = graft.operators.Learn.logisticTrain(feat, labels,
            it, lr)
          val sc = graft.operators.Learn.logisticScore(
            labels.select(col("id")), feat, w,
            graft.operators.Learn.logisticBias(labels))
            .join(labels, Seq("id"))
          val a = sc.agg(
            avg(when(col("y") === 1.0d, col("score"))).as("men"),
            avg(when(col("y") === 0.0d, col("score"))).as("mxx"),
            avg(when((col("score") > 0.5d) === (col("y") === 1.0d),
              1.0d).otherwise(0.0d)).as("acc"),
            max(abs(col("score") - lit(0.5d))).as("dev"),
            sum(when(col("score") > 0.5d, 1L).otherwise(0L)).as("np"),
            sum(when(col("score") > 0.5d && col("y") === 1.0d, 1L)
              .otherwise(0L)).as("npe")).head()
          println(f"lr=$lr%6.1f iters=$it men=${a.getDouble(0)}%.4f " +
            f"mxx=${a.getDouble(1)}%.4f acc=${a.getDouble(2)}%.4f " +
            f"maxdev=${a.getDouble(3)}%.4f np=${a.getLong(4)} " +
            f"npe=${a.getLong(5)}")
        }
      case "er1_decomp" =>
        // decompose er1: SNM pair generation + levenshtein verify vs
        // star-CC vs survivorship election — which stage owns the sf1
        // growth (3.0-4.0x across rounds)?
        import org.apache.spark.sql.functions._
        val part = Tables.load(spark, sfDir, "part")
        def t2(tag: String)(body: => Unit): Unit = {
          body
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); body
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$tag%-24s min=${ts.min}%.3f  (${ts.mkString(", ")})")
        }
        t2("snm_pairs") {
          graft.operators.Dedup.sortedNeighborhoodPairs(part,
              col("p_partkey"), col("p_name"), w = 3, maxDist = 4)
            .write.format("noop").mode("overwrite").save()
        }
        val pairs = graft.operators.Dedup.sortedNeighborhoodPairs(part,
            col("p_partkey"), col("p_name"), w = 3, maxDist = 4)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        println("n_pairs=" + pairs.count())
        t2("star_cc") {
          graft.operators.Dedup.connectedComponentsStar(pairs)
            .write.format("noop").mode("overwrite").save()
        }
        val comps = graft.operators.Dedup
          .connectedComponentsStar(pairs).localCheckpoint()
        t2("survivorship") {
          import org.apache.spark.sql.expressions.Window
          val named = comps.join(part.select(
            col("p_partkey").as("id"), col("p_name")), Seq("id"))
          val w = Window.partitionBy(col("component"))
            .orderBy(length(col("p_name")).desc, col("p_name").asc,
              col("id").asc)
          named.withColumn("rk", row_number().over(w))
            .groupBy(col("component"))
            .agg(count(lit(1)).as("n_members"),
              max(when(col("rk") === 1, col("p_name")))
                .as("survivor_name"),
              max(when(col("rk") === 1, col("id"))).as("survivor_id"))
            .write.format("noop").mode("overwrite").save()
        }
      case "x82_decomp" =>
        // adjudicate x82's cross-round drift (verdict-6 watch item):
        // hypothesis = accumulated localCheckpoint STORAGE pressure.
        // spark.catalog.clearCache() between bench queries drops
        // catalog-cached relations but NOT localCheckpoint RDD blocks
        // — those free only when the owning DataFrame is GC'd. Over a
        // bench session every checkpoint-heavy query (x82 itself ×
        // passes, the r6 training tier, PCA chains) leaves blocks
        // behind. Protocol: time x82 fresh, run the r4 set once to
        // accumulate context, re-time, print persistent-RDD state,
        // unpersist everything, re-time.
        import org.apache.spark.sql.functions.col
        def t2x(tag: String): Double = {
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            SparkEntry.queries("x82_ann_tuning_curve")(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$tag%-34s min=${ts.min}%.3f (${ts.mkString(", ")})")
          ts.min
        }
        def rddState(tag: String): Unit = {
          val pr = spark.sparkContext.getPersistentRDDs
          val info = spark.sparkContext.getRDDStorageInfo
          val mem = info.map(_.memSize).sum / 1048576.0
          println(f"$tag: persistentRDDs=${pr.size} " +
            f"storedRDDs=${info.length} mem=${mem}%.1f MB")
        }
        t2x("x82_fresh")
        Bench.r4new.foreach { n =>
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
        }
        rddState("after r4 set (clearCache only)")
        t2x("x82_after_r4_set")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(true))
        System.gc()
        rddState("after unpersist-all")
        t2x("x82_after_unpersist")
        // stage decomposition: where does the steady-state time go?
        import org.apache.spark.sql.functions.{count, lit}
        val emb = Tables.load(spark, sfDir, "embeddings")
        val qq = emb.filter(col("vec_id") < 10)
        def stage(tag: String)(body: => Unit): Unit = {
          body
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); body
            (System.nanoTime() - t0) / 1e9
          }
          println(f"  stage $tag%-22s min=${ts.min}%.3f")
        }
        stage("ivfTrain(ckpt)") {
          graft.operators.Similarity.ivfTrain(emb, "vec_id",
            "embedding", nlist = 16).localCheckpoint(true); ()
        }
        val cents = graft.operators.Similarity.ivfTrain(emb, "vec_id",
          "embedding", nlist = 16).localCheckpoint(true)
        stage("ivfAssign(ckpt)") {
          graft.operators.Similarity.ivfAssign(emb, "vec_id",
            "embedding", cents).localCheckpoint(true); ()
        }
        val assigned = graft.operators.Similarity.ivfAssign(emb,
          "vec_id", "embedding", cents).localCheckpoint(true)
        stage("bruteTopK(ckpt)") {
          graft.operators.Similarity.bruteTopK(qq, emb, "vec_id",
            "embedding", k = 5).localCheckpoint(true); ()
        }
        val brute = graft.operators.Similarity.bruteTopK(qq, emb,
          "vec_id", "embedding", k = 5).localCheckpoint(true)
        stage("5-point sweep") {
          Seq(1, 2, 4, 8, 16).map { np =>
            val r = graft.operators.Similarity.ivfSearchAssigned(qq,
              "vec_id", "embedding", assigned, cents, k = 5,
              nprobe = np)
            brute.as("b").join(r.as("l"),
                col("b.query_id") === col("l.query_id") &&
                  col("b.neighbor_id") === col("l.neighbor_id"), "left")
              .agg((count(col("l.neighbor_id")).cast("double") /
                count(lit(1))).as("recall"))
              .select(lit(np).as("nprobe"), col("recall"))
          }.reduce(_ unionByName _)
            .write.format("noop").mode("overwrite").save()
        }
      case "clustered_ann" =>
        // the ANN router's PRUNABLE branch at lake scale (verdict-6
        // ask #4): a clustered embedding lake — Round12Spec's blob
        // recipe at sf0.1/sf1 row counts — through annDifficulty
        // (RC), annTopKAutoSized (route), recall vs exact, probed
        // fraction, wall time. CLUSTERED_N=20000 CLUSTERED_C=64 etc.
        // override the shape. Generated IN Spark (no driver arrays):
        // cluster centers on a deterministic hash grid, points =
        // center + small hash-noise.
        import org.apache.spark.sql.functions._
        val n = sys.env.getOrElse("CLUSTERED_N", "2000").toInt
        val nClusters = sys.env.getOrElse("CLUSTERED_C", "64").toInt
        val dims = 64
        val nprobe = sys.env.getOrElse("CLUSTERED_NPROBE", "8").toInt
        val nlist = sys.env.getOrElse("CLUSTERED_NLIST", "64").toInt
        // rerank must scale with what the probes RETURN: nprobe cells
        // × expected cell occupancy (n/nlist), padded ×1.5 for skew —
        // a flat rerank that works at 31-point cells starves at
        // 312-point cells (measured: 0.64 recall at 20k with the 2k
        // point's rerank=200). The executable-sizing discipline
        // (lgkFor/bandsFor) applied to the rerank knob.
        val rerank = sys.env.get("CLUSTERED_RERANK").map(_.toInt)
          .getOrElse(graft.operators.Similarity.rerankFor(
            n.toLong, nlist, nprobe))
        // the SAME generator the x112/Round15Spec contracts run on —
        // one recipe definition, so the rehearsal can never measure
        // a lake the contracts don't see
        val lake = graft.operators.Similarity.hashBlobLake(
          spark, n.toLong, nClusters, dims).localCheckpoint()
        val q = graft.operators.Similarity.stratifiedProbes(
          lake, "vec_id", 16).localCheckpoint()
        println(s"lake n=$n clusters=$nClusters dims=$dims " +
          s"probes=${q.count()}")
        val rc = graft.operators.Similarity.annDifficulty(
            lake, q, "vec_id", "embedding", k = 5)
          .agg(min(col("rc")).as("rc_min"), avg(col("rc")).as("rc_avg"),
            min(col("ivf_prunable")).as("all_prunable")).head()
        println(f"RC: min=${rc.getDouble(0)}%.3f avg=${rc.getDouble(1)}%.3f " +
          s"all_prunable=${rc.getBoolean(2)}")
        val te0 = System.nanoTime()
        val exact = graft.operators.Similarity.bruteTopKL2(
          q, lake, "vec_id", "embedding", 5).localCheckpoint()
        println(f"exact scan (same probes): " +
          f"${(System.nanoTime() - te0) / 1e9}%.2f s")
        val m = sys.env.getOrElse("CLUSTERED_M", "8").toInt
        val ksub = sys.env.getOrElse("CLUSTERED_KSUB", "16").toInt
        val t0 = System.nanoTime()
        val routed = graft.operators.Similarity.annTopKAutoSized(
          q, lake, "vec_id", "embedding", 5, nlist = nlist,
          nprobe = nprobe, m = m, ksub = ksub, rerank = rerank).result
        routed.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val hits = exact.as("b").join(routed.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id")).count()
        val denom = exact.count().toDouble
        println(f"route: recall=${hits / denom}%.3f " +
          f"probed=${100.0 * nprobe / nlist}%.1f%% wall=$dt%.2f s " +
          s"(includes the preflight; nlist=$nlist nprobe=$nprobe " +
          s"rerank=$rerank m=$m ksub=$ksub)")
      case "refined_cold" =>
        // verdict-9 ask #5: the two-stage refined tail measured in
        // ITS OWN claimed regime — the rerank source is a PARQUET
        // READ (decode cost paid on every full-vector fetch, nothing
        // checkpointed in memory) and the SQ8 codes come from the
        // standing ledger's fourth part, exactly the deployment form
        // SCALE.md's round-9 note reserved the refined path for. The
        // round-9 in-memory sweep measured it 3x SLOWER; this
        // measures the parquet-backed form both ways so the router
        // rule (or the recorded negative) rests on the right regime.
        // CLUSTERED_N overrides n.
        import org.apache.spark.sql.functions._
        import graft.operators.Similarity
        val n = sys.env.getOrElse("CLUSTERED_N", "200000").toLong
        val nl = Similarity.nlistFor(n)
        val np = Similarity.nprobeFor(nl)
        val pool = Similarity.rerankFor(n, nl, np)
        val c = Similarity.refineFor(5)
        val root = new java.io.File("target/qtmp/scratch_refined_cold")
        org.apache.commons.io.FileUtils.deleteQuietly(root)
        val lakePath = new java.io.File(root, "lake").getAbsolutePath
        Similarity.hashBlobLake(spark, n).write.parquet(lakePath)
        val lake = spark.read.parquet(lakePath) // parquet-backed
        val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
          .localCheckpoint()
        val version = Similarity.annIndexVersion(nl, 8, 16)
        val bundle = new java.io.File(root, "bundle").getAbsolutePath
        val tb = System.nanoTime()
        // train on a deterministic hash sample (TRAIN_ONE_IN, default
        // 10) — the documented 100 TB stance (codebooks only need the
        // distribution) and what keeps the Lloyd join's n×nlist spill
        // inside this box's disk at 200k×2048
        val oneIn = sys.env.getOrElse("TRAIN_ONE_IN", "10").toLong
        val trainSet = if (oneIn <= 1) lake
          else lake.filter(pmod(xxhash64(col("vec_id")), lit(oneIn))
            === 0L)
        val (cents0, cb0) = Similarity.ivfpqTrain(trainSet, "vec_id",
          "embedding", nl, 8, 16, coarseIters = 1, pqIters = 1)
        val centsC = cents0.localCheckpoint() // KB-scale definition
        val cbC = cb0.localCheckpoint()
        graft.sources.VersionedState.write(bundle, version,
          "cents" -> centsC, "codebook" -> cbC,
          "encoded" -> Similarity.ivfpqEncode(lake, "vec_id",
            "embedding", centsC, cbC, 8),
          "sq8" -> Similarity.sq8Encode(lake, "vec_id", "embedding"))
        println(f"build: n=$n nlist=$nl nprobe=$np pool=$pool " +
          f"refineTo=$c wall=${(System.nanoTime() - tb) / 1e9}%.1f s")
        val vs = graft.sources.VersionedState
        val enc = vs.read(spark, bundle, version, "encoded")
        val sq8 = vs.read(spark, bundle, version, "sq8")
        val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
          "embedding", 5).localCheckpoint()
        val denom = exact.count().toDouble
        def run(tag: String)(mk: => org.apache.spark.sql.DataFrame)
            : Unit = {
          mk.write.format("noop").mode("overwrite").save() // warm JIT
          spark.catalog.clearCache()
          val walls = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            mk.write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache(); dt
          }
          val hits = exact.as("b").join(mk.as("l"),
            col("b.query_id") === col("l.query_id") &&
              col("b.neighbor_id") === col("l.neighbor_id")).count()
          println(f"$tag recall=${hits / denom}%.3f " +
            f"wall=${walls.min}%.2f s (min of ${walls.size})")
        }
        run(s"single-stage exact-rerank pool=$pool (parquet source)") {
          Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding", enc,
            centsC, cbC, 5, np, 8, pool, Some(lake))
        }
        run(s"two-stage pool=$pool refineTo=$c (ledger sq8, " +
            "parquet source)") {
          Similarity.ivfpqSearchRefined(q, "vec_id", "embedding",
            enc, centsC, cbC, 5, np, 8, pool, c, lake,
            sq8Codes = Some(sq8))
        }
      case "shard_rehearsal" =>
        // the above-clamp sharding seam MEASURED (verdict-8 ask #2):
        // the 200k clustered lake split 2x100k by annShardKey, each
        // shard built at its own sized geometry, searched, and merged
        // — against the single-index 200k row (build 168.9 s,
        // search 4.47 s, recall 1.000). The claims under
        // measure: merged recall identical, and per-shard build wall
        // ~ half the single build (shards build in PARALLEL on a
        // cluster, so the critical path is max(shard walls)).
        import org.apache.spark.sql.functions._
        import graft.operators.Similarity
        val n = sys.env.getOrElse("CLUSTERED_N", "200000").toLong
        val shards = 2
        val lake = Similarity.hashBlobLake(spark, n).localCheckpoint()
        val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
          .localCheckpoint()
        val exact = Similarity.bruteTopKL2(q, lake, "vec_id",
          "embedding", 5).localCheckpoint()
        val denom = exact.count().toDouble
        val built = (0 until shards).map { sh =>
          val part = lake.filter(
            Similarity.annShardKey(col("vec_id"), shards) === sh)
            .localCheckpoint()
          val nSh = part.count()
          val nl = Similarity.nlistFor(nSh)
          val np = Similarity.nprobeFor(nl)
          val t0 = System.nanoTime()
          val (cents0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
            "embedding", nl, 8, 16, coarseIters = 1, pqIters = 1)
          val cents = cents0.localCheckpoint()
          val cb = cb0.localCheckpoint()
          val enc = Similarity.ivfpqEncode(part, "vec_id",
            "embedding", cents, cb, 8).localCheckpoint()
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"shard $sh: n=$nSh nlist=$nl nprobe=$np " +
            f"build=$wall%.1f s")
          (part, nSh, nl, np, cents, cb, enc)
        }
        val t1 = System.nanoTime()
        val merged = Similarity.ivfpqMergeTopK(
          built.map { case (part, nSh, nl, np, cents, cb, enc) =>
            Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
              enc, cents, cb, 5, np, 8,
              Similarity.rerankFor(nSh, nl, np), Some(part))
          }, 5).localCheckpoint()
        val searchWall = (System.nanoTime() - t1) / 1e9
        val hits = exact.as("b").join(merged.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id")).count()
        println(f"merged: recall=${hits / denom}%.3f " +
          f"search=$searchWall%.2f s (both shards, sequential here; " +
          "per-shard builds parallelize on a cluster)")
      case "filtered_sharded_rehearsal" =>
        // x135's claimed regime MEASURED at the rehearsal grain
        // (round-11): the 200k clustered lake split 2x100k by
        // annShardKey, each shard a CELL-LAYOUT bundle on disk, a
        // 50% hash filter routed through
        // annTopKFilteredRoutedSharded — the claims under measure:
        // the merged preflight routes ann_overfetch, per-shard
        // pruning reads exactly the probed cell files, recall holds
        // vs the exact filtered twin, and the search wall sits near
        // the single-bundle filtered router's (sharding overhead =
        // the merge window + one extra probe assign, not a second
        // corpus pass).
        import org.apache.spark.sql.functions._
        import graft.operators.Similarity
        val n = sys.env.getOrElse("CLUSTERED_N", "200000").toLong
        val shards = 2
        val lake = Similarity.hashBlobLake(spark, n)
          .withColumn("h4", pmod(xxhash64(col("vec_id")), lit(4L)))
          .localCheckpoint()
        val pred = col("h4") < 2
        val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
          .drop("h4").localCheckpoint()
        val built = (0 until shards).map { sh =>
          val part = lake.drop("h4").filter(
            Similarity.annShardKey(col("vec_id"), shards) === sh)
            .localCheckpoint()
          val nSh = part.count()
          val nl = Similarity.nlistFor(nSh)
          val v = Similarity.annIndexVersion(nl, 8, 16)
          val p = s"target/qtmp/fsr_shard$sh"
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(p))
          val t0 = System.nanoTime()
          val (c0, cb0) = Similarity.ivfpqTrain(part, "vec_id",
            "embedding", nl, 8, 16, coarseIters = 1, pqIters = 1)
          Similarity.persistIndexCellLayout(p, v, c0, cb0,
            Similarity.ivfpqEncode(part, "vec_id", "embedding",
              c0, cb0, 8))
          println(f"shard $sh: n=$nSh nlist=$nl " +
            f"build+persist=${(System.nanoTime() - t0) / 1e9}%.1f s")
          (p, v)
        }
        val t1 = System.nanoTime()
        val r = Similarity.annTopKFilteredRoutedSharded(q, lake,
          "vec_id", "embedding", pred, 5,
          built.map(_._1), built.map(_._2), 8, bruteCutoff = 0L)
        val got = r.result.localCheckpoint()
        val routeWall = (System.nanoTime() - t1) / 1e9
        val exact = Similarity.bruteTopKL2(q, lake.filter(pred),
          "vec_id", "embedding", 5).localCheckpoint()
        val hits = exact.as("b").join(got.as("l"),
          col("b.query_id") === col("l.query_id") &&
            col("b.neighbor_id") === col("l.neighbor_id")).count()
        val filesPerShard = built.zipWithIndex.map { case ((p, v), sh) =>
          val enc = Similarity.loadIndexCellLayout(spark, p, v)._3
          val cells = r.shardCells(sh)
          (cells.length, enc
            .filter(col("cell").isInCollection(cells.toSeq))
            .select(input_file_name()).distinct().count())
        }
        println(f"route=${r.route} surv=${r.nSurvivors} " +
          f"k'=${r.kPrime} preflight=${r.recallPreflight}%.3f " +
          f"nprobe=${r.shardNprobe.mkString("/")} " +
          f"cells/files=${filesPerShard.mkString(" ")} " +
          f"recall=${hits / exact.count().toDouble}%.3f " +
          f"route+search+preflight=$routeWall%.1f s")
        // single-bundle twin for the overhead contrast
        val unl = Similarity.nlistFor(n)
        val uv = Similarity.annIndexVersion(unl, 8, 16)
        val up = "target/qtmp/fsr_single"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(up))
        val t2 = System.nanoTime()
        val (uc, ucb) = Similarity.ivfpqTrain(lake.drop("h4"),
          "vec_id", "embedding", unl, 8, 16,
          coarseIters = 1, pqIters = 1)
        Similarity.persistIndexCellLayout(up, uv, uc, ucb,
          Similarity.ivfpqEncode(lake.drop("h4"), "vec_id",
            "embedding", uc, ucb, 8))
        println(f"single: nlist=$unl " +
          f"build+persist=${(System.nanoTime() - t2) / 1e9}%.1f s")
        val (cents, codebook, enc) =
          Similarity.loadIndexCellLayout(spark, up, uv)
        val t3 = System.nanoTime()
        val single = Similarity.annTopKFilteredRouted(q, lake,
          "vec_id", "embedding", pred, 5,
          Similarity.liveEncoded(enc,
            Similarity.annTombstones(spark, up)),
          cents, codebook, unl, 8, bruteCutoff = 0L,
          pruneCells = true)
        single.result.write.format("noop").mode("overwrite").save()
        println(f"single-router route=${single.route} " +
          f"wall=${(System.nanoTime() - t3) / 1e9}%.1f s " +
          f"(vs sharded $routeWall%.1f s)")

      case "bpe_incr_sweep" =>
        // incremental vs full-recount BPE on a LARGE crafted type
        // table (verdict-7 ask #2's measured row): the 31-type driver
        // corpus cannot show the win, so build BPE_TYPES word types
        // (md5-hex words, zipf-ish freqs) and run BPE_MERGES rounds
        // both ways.
        import org.apache.spark.sql.functions._
        val nTypes = sys.env.getOrElse("BPE_TYPES", "200000").toInt
        val nMerges = sys.env.getOrElse("BPE_MERGES", "30").toInt
        val wLen = sys.env.getOrElse("BPE_WLEN", "12").toInt
        val words = spark.range(nTypes.toLong)
          .select(substring(md5(col("id").cast("string")), 1, wLen)
            .as("word"),
            (lit(1L) + pmod(col("id"), lit(97L))).as("freq"))
          .groupBy(col("word")).agg(max(col("freq")).as("freq"))
          .localCheckpoint()
        println(s"types=${words.count()} merges=$nMerges")
        def timeTrain(tag: String,
                      f: => org.apache.spark.sql.DataFrame): Unit = {
          val t0 = System.nanoTime()
          val out = f.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"$tag%-22s $dt%.2f s  last=${out.last}")
        }
        timeTrain("incremental",
          graft.operators.Tokenize.bpeTrain(words, nMerges))
        timeTrain("full_recount",
          graft.operators.Tokenize.bpeTrainFullRecount(words, nMerges))
      case "bpe_encode_chunked" =>
        // chunked-encode rehearsal at REALISTIC merge count
        // (verdict-7 ask #7): the depth-barrier spec pins equality at
        // 4 merges; this measures bpeSubwordCounts at a 2-5k-merge
        // table — the ceil(k/256) type-table passes the chunking
        // exists for — over a 200k-type dictionary. The merge table
        // is CRAFTED (training 3k rounds would take hours and proves
        // nothing about encode): all 256 hex-pair merges, then
        // 3-symbol merges (2-char symbol + hex char), every merged
        // symbol formed from earlier-formed symbols, so the table is
        // a valid BPE application sequence over md5-hex words.
        // BPE_ENC_TYPES / BPE_ENC_MERGES / BPE_ENC_CHUNK override.
        import org.apache.spark.sql.functions._
        val nTypes = sys.env.getOrElse("BPE_ENC_TYPES", "200000").toInt
        val nMerges = sys.env.getOrElse("BPE_ENC_MERGES", "3000").toInt
        val chunk = sys.env.getOrElse("BPE_ENC_CHUNK", "256").toInt
        require(nMerges <= 256 + 16 * 256,
          s"crafted table supports <= ${256 + 4096} merges")
        val hex = "0123456789abcdef"
        val hexArr = s"'${hex.mkString("','")}'".split(",")
          .mkString("array(", ",", ")")
        // rank 1..256: pair = hex[(r-1)/16] ' ' hex[(r-1)%16]
        // rank 257.. : idx=r-257; pair = hex[idx/256]hex[(idx/16)%16]
        //              ' ' hex[idx%16]  (3-symbol from 2-symbol+char)
        val merges = spark.range(1, nMerges + 1L)
          .select(col("id").cast("int").as("rank"), expr(
            s"""CASE WHEN id <= 256 THEN
                 concat(element_at($hexArr, CAST((id-1) DIV 16 AS INT)+1),
                        ' ',
                        element_at($hexArr, CAST((id-1) % 16 AS INT)+1))
               ELSE
                 concat(element_at($hexArr, CAST((id-257) DIV 256 AS INT)+1),
                        element_at($hexArr, CAST(((id-257) DIV 16) % 16 AS INT)+1),
                        ' ',
                        element_at($hexArr, CAST((id-257) % 16 AS INT)+1))
               END""").as("pair"))
          .localCheckpoint()
        val words = spark.range(nTypes.toLong)
          .select(md5(col("id").cast("string")).as("word"),
            (lit(1L) + pmod(col("id"), lit(97L))).as("freq"))
          .groupBy(col("word")).agg(max(col("freq")).as("freq"))
          .localCheckpoint()
        println(s"types=${words.count()} merges=$nMerges chunk=$chunk " +
          s"passes=${(nMerges + chunk - 1) / chunk}")
        def timeEnc(tag: String, cs: Int): Long = {
          val t0 = System.nanoTime()
          val agg = graft.operators.Tokenize
            .bpeSubwordCounts(words, merges, chunkSize = cs)
            .agg(sum(col("n_sub") * col("freq"))).head().getLong(0)
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"$tag%-16s $dt%.2f s  corpus_subwords=$agg")
          agg
        }
        val a = timeEnc(s"chunk=$chunk", chunk)
        // cross-chunking equality at realistic k (the 4-merge spec
        // pin, re-checked where the barriers actually fire)
        val b = timeEnc(s"chunk=${chunk * 2}", chunk * 2)
        require(a == b, s"chunking changed the encode: $a vs $b")
      case "compact_rehearsal" =>
        // delete-lifecycle at the 200k decade: build+persist the
        // sized standing index once (exists-guarded — rerun cheap),
        // copy the bundle, tombstone 1% of ids, then measure the
        // three costs the x119/x120 story claims: logical search
        // (tombstone anti-join riding the probe), the one-time
        // compact swap, physical search after. SCALE.md table row.
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        import graft.operators.Similarity
        val n = 200000L
        val nlist = Similarity.nlistFor(n) // 2048
        val m = 8
        val lake = Similarity.hashBlobLake(spark, n)
          .localCheckpoint(true)
        val version = Similarity.annIndexVersion(nlist, m, 16)
        val src = new java.io.File(s"target/qtmp/ann_${version}_" +
          Similarity.hashBlobLakeKey(n)).getAbsolutePath
        if (!Similarity.indexExists(spark, src, version)) {
          val t0 = System.nanoTime()
          val (c, cb) = Similarity.ivfpqTrain(lake, "vec_id",
            "embedding", nlist, m, 16, 1, 1)
          Similarity.persistIndex(src, version, c, cb,
            Similarity.ivfpqEncode(lake, "vec_id", "embedding",
              c, cb, m))
          println(f"build+persist ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        val work = new java.io.File("target/qtmp/compact_rehearsal")
        org.apache.commons.io.FileUtils.deleteQuietly(work)
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(src), work)
        val path = work.getAbsolutePath
        Similarity.annForget(path, lake
          .filter(pmod(col("vec_id"), lit(100L)) === 0)
          .select(col("vec_id"))) // 2000 ids = 1%
        val (cents, codebook, encoded) =
          Similarity.loadIndex(spark, path, version)
        val q = Similarity.stratifiedProbes(lake, "vec_id", 16)
          .localCheckpoint(true)
        val np = Similarity.nprobeFor(nlist)
        val rr = Similarity.rerankFor(n, nlist, np)
        def timeS(tag: String)(f: => Unit): Unit = {
          val t = System.nanoTime(); f
          println(f"$tag ${(System.nanoTime() - t) / 1e9}%.2f s")
        }
        def search(enc: DataFrame): DataFrame =
          Similarity.ivfpqSearchEncoded(q, "vec_id", "embedding",
            enc, cents, codebook, 5, np, m = m, rerank = rr,
            rerankSource = Some(lake))
        val tsDf = Similarity.annTombstones(spark, path)
        timeS("search logical (anti-join)") {
          search(Similarity.liveEncoded(encoded, tsDf))
            .write.format("noop").mode("overwrite").save()
        }
        def filesIn(p: String): Int =
          new java.io.File(p).listFiles().count(f => f.isFile &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
        println(s"files before=${filesIn(s"$path/encoded")}")
        var res: (Long, Long, Int) = null
        timeS("annCompact") {
          res = Similarity.annCompact(spark, path, version, nFiles = 4)
        }
        println(s"rows ${res._1} -> ${res._2}, files after=${res._3}")
        val enc2 = Similarity.loadIndex(spark, path, version)._3
        timeS("search physical (compacted)") {
          search(enc2).write.format("noop").mode("overwrite").save()
        }
      case n if n.startsWith("show:") =>
        // print a query's full result — the oracle-constant capture
        // loop for 1-row/pane queries (rerun it twice to confirm the
        // pane is rerun-stable before pinning)
        val qn = n.stripPrefix("show:")
        SparkEntry.queries(qn)(spark, sfDir).show(50, false)
        SparkEntry.queries(qn)(spark, sfDir).show(50, false)
      case n =>
        val a = timeOnce(n); val b = timeOnce(n)
        println(f"$n%-28s min=${math.min(a, b)}%.3f  (p1=$a%.3f p2=$b%.3f)")
    }
    spark.stop()
  }
}
