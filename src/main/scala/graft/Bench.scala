package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * The headline set is one query per operator class (scan+filter, agg,
  * join, window, sessionize, reshape, dedup, ANN, text, streaming,
  * end-to-end pipeline) rather than the full 90-query verify surface:
  * the full surface made the JSON line so long that round 1's driver
  * tail-capture truncated it mid-line and recorded `parsed: null`.
  * Correctness of the full surface is Verify's job; Bench measures
  * representative throughput with a line short enough to always parse.
  *
  * Timing uses the noop sink so every query is fully materialized
  * (count() would let Catalyst prune most of the work). One untimed
  * warmup query amortizes JVM/codegen startup out of the numbers.
  *
  * Each query is timed FOUR times and the minimum reported: the host
  * is a shared micro-VM with episodic multi-second pauses (observed:
  * >90% idle CPU while a sub-second query "takes" 30 s), and min-of-2
  * proved too noisy for round-over-round comparison — round 3 showed
  * ±30-45% swings on queries whose plans had not changed (j5/j10/r1),
  * and a separate min-of-2 vs steady-state measurement of x32 showed
  * 4.0 s vs 1.25 s from under-warming alone. Min-of-4 runs the full
  * pipeline every pass, so the min is still honest work, and the
  * reported `n` lets the driver see the sampling discipline.
  */
object Bench {

  /** One representative per operator family, heaviest variants chosen. */
  val headline: Seq[String] = Seq(
    "a1_pricing_summary",   // hash aggregation (TPC-H Q1 shape)
    "p5_project_filter",    // scan + pushdown + projection
    "j4_mart_flagship",     // fact ⋈ dim ⋈ dim + multi-key agg
    "j5_self_join",         // self equi-join + agg
    "j10_asof_join",        // as-of join
    "w3_window_topk",       // window rank top-k
    "t2_sessionize",        // lag + cumulative window sessionization
    "r1_unpivot_melt",      // unpivot (4× row fan-out)
    "x2_minhash_lsh_pairs", // MinHash+LSH near-dup (shuffle-heavy)
    "x20_simhash_neardups", // simhash bands → Hamming pairs (native expr)
    "x36_span_dup_coverage", // repeated-span dedup (window-hash shuffle)
    "x6_ann_brute_topk",    // embedding similarity top-k
    "x18_tfidf_topk",       // text: explode + 2-level agg + window
    "g1_pagerank",          // iterative joins (integer PageRank, 5 rounds)
    "x32_incremental_admit", // per-ingest dedup admission vs corpus
    "st1_stream_hourly",    // Structured Streaming windowed agg
    "ref1_tripadvisor_chain", // the reference's 9-step cleaning chain
    "ref2_gmaps_chain",     // nested places → dims → 7×24 pivot matrix
    "e2e_medallion_mart",   // src→ods→dim/fact→mart pipeline
    "e2e_llm_corpus",       // quality → dedup → rebalance → manifest
    "e2e_incremental_ingest") // per-ingest admission audit (corpus never shuffles)

  /** Second pinned set: the LLM-data-pipeline heavy hitters (round-3 judge
    * ask). The 21-query `headline` set above predates these operators and is
    * kept untouched for round-over-round continuity; this set gives perf
    * visibility to the machinery that had none (a regression in ~200 of the
    * 221 verify queries was invisible to BENCH_r*.json). x36 appears in both
    * sets on purpose — it is the bridge query that lets the two sets be
    * cross-calibrated against host-noise drift between the two timed blocks.
    */
  val llm10: Seq[String] = Seq(
    "er1_entity_resolution",   // SNM blocking → verify → star CC → survivorship
    "x52_semantic_dedup",      // k-means cells + within-cell pairs (SemDeDup)
    "x53_pq_ann_topk",         // PQ codebooks + ADC shortlist + exact rerank
    "x55_bm25_search",         // postings tf/df joins, ranked retrieval
    "x56_sorted_neighborhood", // sort-key window dedup
    "x57_winnowing_pairs",     // winnowing fingerprint dedup
    "x65_cross_source_leakage",// cross-source postings leakage sweep
    "x66_dedup_pr_eval",       // sketch-vs-truth P/R eval
    "m8_sketch_rollup",        // HLL sketch ledger rollup
    "x36_span_dup_coverage")   // bridge query shared with `headline`

  /** Third pinned set: the round-4 additions (same rationale as llm10 —
    * perf visibility for new machinery; both prior sets stay untouched
    * for continuity). x36 again bridges for cross-set calibration. */
  val r4new: Seq[String] = Seq(
    "x74_theta_overlap",    // theta sketches + pairwise set-op estimates
    "x75_theta_novelty",    // cumulative-prior union + a-not-b ledger
    "m9_kll_ledger",        // per-day KLL merge + rank contract
    "w11_topk_agg",         // bounded-heap grouped top-k
    "p21_weighted_reservoir", // ES priorities over the heap agg
    "x76_ivf_incremental",  // train/assign split + accreted-index search
    "x80_dedup_preflight",  // sketch-priced duplication factor
    "x82_ann_tuning_curve", // 5-point nprobe sweep from one index
    "x36_span_dup_coverage") // bridge query shared with both sets

  /** Fourth pinned set: the round-5 additions and rewrites (same
    * rationale and discipline as llm10/r4new; prior sets stay
    * untouched). x36 bridges again for cross-set calibration. */
  val r5new: Seq[String] = Seq(
    "p13_batch_ntile",       // range-exchange exact ntile (rewritten)
    "x79_ccnet_buckets",     // terciles on global numbering (rewritten)
    "x86_quality_curriculum", // globalPrefixSum cumsum (rewritten)
    "x88_ivfpq_topk",        // IVFPQ: coarse cells + residual PQ + rerank
    "x89_freq_items_ledger", // heavy-hitter sketch ledger
    "st16_stream_topk",      // streaming top-k ledger (rewritten)
    "e2e_webcorpus",         // gopher → dedup → bigram cut → shards
    "x36_span_dup_coverage") // bridge query shared with all sets

  /** Fifth pinned set: the round-6 additions and rewrites (same
    * discipline; prior sets stay untouched). x36 bridges again. */
  val r6new: Seq[String] = Seq(
    "x93_ann_difficulty",    // RC preflight (one scan + bounded heap)
    "x93b_ann_auto",         // RC-gated ANN router (exact branch here)
    "x94_dsir_selection",    // hashed-ngram importance selection
    "x74b_theta_overlap_ledger", // ledger-fed sketch sizing
    "x91b_gopher_audit",     // per-rule pass-rate pane
    "x26_decontaminate",     // canary-injected decontamination (rewritten)
    "st17_stream_freq_ledger", // batchId-idempotent sketch ledger (rewritten)
    "x95_hybrid_rrf",        // BM25 ⊕ dense RRF hybrid retrieval
    "x96_bitext_margin",     // margin-based bitext candidate mining
    "x97_quality_classifier", // in-engine GD-trained quality model
    "st19_stream_score",     // frozen-model stream scoring ledger
    "x99_hard_negatives",    // DPR-style contrastive pair mining
    "e2e_select_corpus",     // learned gate → dedup → shards capstone
    "x100_tokenid_export",   // vocab-coded export audit pane
    "x36_span_dup_coverage") // bridge query shared with all sets

  /** Sixth pinned set: the round-6 continuation additions (same
    * discipline; prior sets stay untouched). x36 bridges again. */
  val r6bnew: Seq[String] = Seq(
    "x101_bpe_train",        // in-engine BPE training (12 merge rounds)
    "x104_bpe_encode",       // trained-merge dictionary encode + fertility
    "x106_tokenizer_drift",  // standing-tokenizer fertility drift + canary
    "st21_stream_bpe",       // streaming word-freq ledger BPE twin
    "x102_pca_power",        // fixed-point power-iteration top PC
    "x103_embed_abtt",       // all-but-the-top removal + variance pane
    "x105_gram_pca",         // gram-space PCA (one corpus pass)
    "x107_pca_deflate",      // top-2 PCs by deflation + orthogonality
    "st20_stream_pca",       // streaming moment-ledger PCA twin
    "j21_join_auto",         // measured join-strategy router
    "e2e_embed_pipeline",    // center → ABTT → norm screen → shards
    "x108_partition_advisor", // executable shuffle/file sizing rule
    "x109_salt_advisor",     // executable skew-salt sizing rule
    "x110_domain_reweight",  // DoReMi measured-mixture advisor
    "x36_span_dup_coverage") // bridge query shared with all sets

  /** Seventh pinned set: the round-7 additions and rewrites (same
    * discipline; prior sets stay untouched). x36 bridges again. The
    * x97b/x98b rows are the bench evidence for the standing-model
    * ledger: consumer cost WITHOUT the 12-epoch retrain (compare
    * x97/st19/e2e_select in queries_r6, each of which trains). */
  val r7new: Seq[String] = Seq(
    "x111_boilerplate_strip", // CCNet boilerplate removal (landed post-r6b pin)
    "st22_stream_boilerplate", // streaming blacklist twin
    "x97b_ledger_score",     // standing-model consumer (no retrain)
    "x98b_ledger_audit",     // calibration audit off the same ledger
    "x108b_advised_write",   // advisor-driven write (realized file count)
    "a20_pareto_abc",        // Pareto ABC on globalPrefixSum (rewritten)
    "x36_span_dup_coverage") // bridge query shared with all sets

  /** Eighth pinned set: the round-8 additions (same discipline; prior
    * sets stay untouched). x36 bridges again. x104-vs-x104b (across
    * this set and queries_r6b) is the measured encode amortization;
    * e2e_select-vs-_b (vs queries_r6) the capstone's. */
  val r8new: Seq[String] = Seq(
    "x104b_ledger_encode",   // standing-tokenizer consumer (landed post-r7 pin)
    "x112_clustered_route",  // IVFPQ route + sized rerank on the clustered lake
    "x113_standing_ann_search", // standing-index consumer (no rebuild)
    "st23_stream_ann_ingest", // index riding ingest (streaming twin)
    "x114_pii_scrub",        // map-only PII redaction + canary pane
    "e2e_select_corpus_b",   // ledger-fed capstone (no inline retrain)
    "x36_span_dup_coverage") // bridge query shared with all sets

  /** Ninth pinned set: the round-9 additions (same discipline; prior
    * sets stay untouched). x36 bridges again. e2e_llm_corpus is NOT
    * re-pinned here despite its new verifier tail — it stays in
    * `headline`, where the round-over-round diff shows the verifier's
    * cost directly. */
  val r9new: Seq[String] = Seq(
    "x116_index_drift",      // index-lifecycle advisor, both branches
    "x117_sharded_ann",      // two-shard standing index + merged top-k
    "x118_index_rebuild",    // advisor-driven rebuild (the action)
    "e2e_vector_store",      // standing index → search → fusion capstone
    "x119_ann_forget",       // logical delete: tombstone + live search
    "x120_ann_compact",      // physical erasure + sized-file swap
    "x121_filtered_ann",     // filtered search, all three routes
    "x122_ledger_vacuum",    // retention sweep of stale bundles
    "x123_cell_pruned_search", // probe set as a partition filter
    "x124_ledger_promote",   // ingest-form -> probe-form bridge
    "x125_plan_audit",       // plan-shape audit + deploy gate
    "x126_index_fsck",       // bundle consistency verifier
    "st24_stream_forget",    // deletion rides the stream (x119 twin)
    "x127_compact_advisor",  // when-to-compact: debt rules, 3 branches
    "e2e_index_lifecycle",   // the ops loop: drift->rebuild->vacuum->
                             // forget->compact->search, one pane
    "x36_span_dup_coverage") // bridge query shared with all sets

  /** Tenth pinned set: the round-10 additions (same discipline; all
    * nine prior sets stay untouched). x36 bridges again. x128-vs-x121
    * (across this set and queries_r9) is the composed file-pruning
    * contrast; x129-vs-x124 the incremental-promotion amortization. */
  val r10new: Seq[String] = Seq(
    "x128_filtered_pruned_ann", // filtered router + cell-layout pruning
    "x129_incremental_promote", // touched-cell dynamic overwrite
    "x130_sharded_lifecycle",   // sharded forget->compact->merged search
    "x131_gated_build",         // PlanAudit.gate in the pipeline runner
    "x132_boilerplate_drift",   // segment-docfreq threshold advisor
    "x133_dsir_drift",          // bucket-width occupancy advisor
    "x134_ops_console",         // unified advisor console (8 actions)
    "x36_span_dup_coverage")    // bridge query shared with all sets

  /** Eleventh pinned set: the round-11 additions (same discipline;
    * all ten prior sets stay untouched). x36 bridges again. st25
    * lands its bench row here (it shipped after the r10 pin —
    * VERDICT r10 #5); x135-vs-x128 (across this set and queries_r10)
    * is the sharding overhead on the filtered route; x136 prices the
    * full closed loop (two trains + a rebuild train + re-poll per
    * pass — a maintenance workload, priced honestly). */
  val r11new: Seq[String] = Seq(
    "x135_filtered_sharded_ann",   // filter x shards composed
    "x136_ops_loop",               // console -> executors -> quiet
    "x137_dsir_rebuild",           // advisor-sized text-tier re-fold
    "x138_boilerplate_rethreshold", // ledger-derived threshold
    "st25_stream_promote",         // cadence (landed post-r10 pin)
    "st26_stream_sharded_promote", // sharded cadence
    "x36_span_dup_coverage")       // bridge query shared with all sets

  /** Twelfth pinned set: the round-12 additions (same discipline;
    * all prior sets stay untouched). x36 bridges again.
    * x139-vs-x123/x128 (across sets) is probe-locality batching's
    * cost at a saturating batch width; x136b-vs-x136 prices the ops
    * loop's own overhead separately from x136's by-design fresh
    * builds (VERDICT r11 missing #4). */
  val r12new: Seq[String] = Seq(
    "x139_batched_pruned_ann",     // probe-locality sub-batch scans
    "x141_filtered_batched_ann",   // batching composed into the
                                   // filtered router (x128's form at
                                   // the saturating batch width)
    "x140_estate_reshard",         // console-fired estate re-shard
    "x136b_ops_loop_standing",     // amortized standing-estate loop
    "x36_span_dup_coverage")       // bridge query shared with all sets

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      } finally spark.catalog.clearCache() // no cross-query cache leaks
    }

    val nPasses = 4
    /** The three mutating-lifecycle sets (r9/r10/r11+) fresh-build
      * whole index estates each pass — their queries are honestly
      * 10-40 s and self-warming (pass 1 IS the warmup; min-of-n
      * discards it). Round 11's suite outgrew the driver's wall-clock
      * budget (BENCH_r11.json rc 124, no artifact): four passes plus
      * an untimed warmup pass plus the old always-retry-slow rule
      * spent ~430 s re-confirming reproducibly-slow queries. These
      * sets run two timed passes, no warmup pass; the x36 bridge +
      * the same-session adjudication protocol absorb window noise. */
    val nPassesLifecycle = 2

    /** Warm a set untimed (unless `warm=false`), then min-of-`n` each
      * query.
      *
      * Warmup is one untimed pass over the WHOLE set: a single warmup
      * query only warms the JVM generally; each query's own generated
      * code (shuffle writers, codegen'd expression classes) JITs on
      * first execution — measured 2-4× on the expression-heavy queries
      * (x2's first run is ~2.5× its steady state). Steady-state cost is
      * what a long-running cluster job pays, so that's what we time.
      *
      * Episodic multi-second host pauses can still hit a timed pass
      * (observed: a 1.7 s join reporting 55 s). A genuine pause shows
      * as sample DISAGREEMENT — one inflated sample against steady
      * ones — so a query re-measures (up to twice) only when its best
      * sample is slow AND its samples spread >2.5×. A reproducibly
      * slow query (every lifecycle query: min 10-40 s, spread ~1.1×)
      * keeps its honest number without retry passes; the old rule
      * (retry whenever min > 8 s) burned ~430 s/run re-confirming
      * queries that were never noisy.
      */
    def benchSet(set: Seq[String], n: Int = nPasses,
                 warm: Boolean = true): Seq[(String, Double)] = {
      if (warm) set.foreach { q =>
        try SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        finally spark.catalog.clearCache()
      }
      val passes = (1 to n).map(_ => set.map(q => q -> timeOnce(q)).toMap)
      set.map { q =>
        var samples = passes.map(_(q)).filter(_ >= 0)
        var retries = 0
        def noisy = samples.min > 8.0 && samples.max / samples.min > 2.5
        while ((samples.isEmpty || noisy) && retries < 2) {
          samples = samples ++ Seq(timeOnce(q)).filter(_ >= 0)
          retries += 1
        }
        q -> (if (samples.isEmpty) -1.0 else samples.min)
      }
    }

    // (JSON key suffix, set, timed passes, warmup pass), in run order;
    // the first is the headline set, whose total is `value`
    val sets = Seq(
      ("", headline, nPasses, true),
      ("_llm", llm10, nPasses, true),
      ("_r4", r4new, nPasses, true),
      ("_r5", r5new, nPasses, true),
      ("_r6", r6new, nPasses, true),
      ("_r6b", r6bnew, nPasses, true),
      ("_r7", r7new, nPasses, true),
      ("_r8", r8new, nPasses, true),
      ("_r9", r9new, nPassesLifecycle, false),
      ("_r10", r10new, nPassesLifecycle, false),
      ("_r11", r11new, nPassesLifecycle, false),
      ("_r12", r12new, nPassesLifecycle, false))
    val allResults = sets.map { case (sfx, set, n, warm) =>
      sfx -> benchSet(set, n, warm)
    }
    // Stop Spark BEFORE printing so no shutdown log line can land after
    // the JSON — the driver parses the last stdout line.
    spark.stop()
    val line = jsonLine(sfDir, nPasses, nPassesLifecycle, allResults)
    // the seven-set line outgrew the driver's stdout tail buffer in
    // round 6 (BENCH_r06.json: parsed=null, tail truncated mid-line) —
    // ALSO persist it to the repo so the numbers survive verbatim even
    // when the tail capture clips; best-effort (a read-only cwd must
    // not fail the bench).
    //
    // Partial-crash guard (round-11 incident): a timed-out / killed run
    // produces -1.0 placeholders, and writing those over the committed
    // pin destroys the round's only perf evidence. A run with ANY
    // failed sample lands in BENCH_LOCAL.partial.json instead; only a
    // fully-priced run may overwrite the pin.
    val complete = allResults.forall(_._2.forall(_._2 >= 0))
    val pinPath =
      if (complete) "/root/repo/BENCH_LOCAL.json"
      else "/root/repo/BENCH_LOCAL.partial.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(pinPath), line + "\n")
    catch { case _: Throwable => () }
    println(line)
    System.out.flush()
  }

  /** The one-line bench JSON: `value`/`queries` for the headline set
    * (the first entry, key suffix ""), then `value<sfx>`/`queries<sfx>`
    * per later set in run order. `value` stays the HEADLINE total
    * only — the pinned 21-set number the driver has tracked since
    * round 1; each later set gets its own key. Failed queries (-1.0)
    * are listed but left out of totals. */
  private[graft] def jsonLine(sfDir: String, nPasses: Int,
                              nPassesLifecycle: Int,
                              results: Seq[(String,
                                Seq[(String, Double)])]): String = {
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
    def total(rs: Seq[(String, Double)]): Double =
      rs.map(_._2).filter(_ >= 0).sum
    val head = results.head._2
    val headKeys =
      f""""metric":"total","value":${total(head)}%.3f,"unit":"sec",""" +
        s""""n":$nPasses,"n_lifecycle":$nPassesLifecycle,""" +
        s""""queries":${toJson(head)}"""
    val later = results.tail.map { case (sfx, rs) =>
      f""""value$sfx":${total(rs)}%.3f,"queries$sfx":${toJson(rs)}"""
    }
    ((headKeys +: later) :+ s""""sf":"$sfDir"""").mkString("{", ",", "}")
  }
}
