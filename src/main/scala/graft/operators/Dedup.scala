package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators — the reference's pandas
  * `drop_duplicates(subset, keep=first|last)` (SURVEY §2.3) made
  * deterministic and scale-safe, plus the near-dup family an LLM
  * training-data pipeline needs (MinHash+LSH / SimHash / n-gram Jaccard /
  * embedding cosine).
  *
  * Scale notes: every operator here is a single hash-shuffle on the dedup
  * key (or LSH bucket key); no driver-side collection anywhere. Keep-first/
  * keep-last use window `row_number`, the deterministic distributed
  * equivalent of pandas' positional `keep=` (reference
  * `tripadvisor/d_tripadvisor_src_to_ods.py:70-71`,
  * `fb_scraper/facebook_scraper.py:141`).
  */
object Dedup {

  /** Keep exactly one row per `keys`, the first by `order` ascending. */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep the last by `order` ascending (reference keep='last'). */
  def keepLast(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    keepFirst(df, keys, order.map(_.desc))

  /** Exact content dedup: canonical doc per normalized-text hash.
    * Output: one row per distinct content hash with its canonical
    * (minimum) id and the duplicate count. */
  def exactByHash(df: DataFrame, id: Column, hash: Column): DataFrame =
    df.select(hash.as("content_hash"), id.as("id"))
      .groupBy("content_hash")
      .agg(min("id").as("canonical_id"), count("*").as("n_dups"))

  // ---------------------------------------------------------------- minhash

  /** Word w-shingles of a text column (array of space-joined w-grams).
    * Docs shorter than w shingle to the whole token string. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(w))))
    array_distinct(grams)
  }

  /** LSH band planning as code — the [[graft.functions.SketchFns.lgkFor]]
    * discipline applied to MinHash banding: given a signature budget of
    * `k` hashes and a target Jaccard `threshold`, choose (bands b,
    * rows-per-band r) with b·r = k. The collision S-curve is
    * P(candidate | sim s) = 1 − (1 − s^r)^b; because this engine's LSH
    * is candidate-generation + exact verify (false positives are
    * verified away, false NEGATIVES are unrecoverable), the planner is
    * RECALL-FIRST: among divisor pairs of k it picks the LARGEST r —
    * the sharpest curve, fewest sub-threshold collisions to verify —
    * whose recall at the threshold still clears `minRecall`. Falls
    * back to r = 1 (recall 1 − (1−s)^k, the max achievable) when no
    * pair clears it. Returns (bands, rowsPerBand).
    *
    * The default (0.8, 32, 0.95) reproduces the hand-tuned (8, 4) the
    * pairs path has always used — P(0.8) ≈ 0.986 with the next-sharper
    * pair (4, 8) at 0.52, the spec-pinned cliff that makes banding
    * choices worth planning rather than guessing. */
  def bandsFor(threshold: Double, k: Int = 32,
               minRecall: Double = 0.95): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold: $threshold")
    require(k >= 1, s"k: $k")
    require(minRecall > 0.0 && minRecall < 1.0, s"minRecall: $minRecall")
    def recall(b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(threshold, r), b)
    val pairs = (1 to k).filter(k % _ == 0).map(r => (k / r, r))
    pairs.filter { case (b, r) => recall(b, r) >= minRecall }
      .sortBy(-_._2).headOption.getOrElse((k, 1))
  }

  /** LSH band keys from the same pre-hashed shingle array: band `b`
    * hashes its `r = k/bands` permutation minima directly
    * (`xxhash64(b, min_0, …, min_{r-1})` — no JSON serialization),
    * statically unrolled so each permutation minimum is evaluated in
    * exactly one band expression. (A signature *column* referenced from
    * band lambdas would let CollapseProject inline the k-entry
    * signature into every band — k×bands work per row, measured 8× on
    * the pairs path; the earlier to_json framing fixed the inlining but
    * paid a per-row-per-band JSON encode, measured ~2× end-to-end.) */
  def lshBandKeysDirect(hashedShingles: Column, k: Int = 32,
                        bands: Int = 8): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      val mins = (b * r until (b + 1) * r).map(j =>
        array_min(transform(hashedShingles, h => xxhash64(lit(j), h))))
      xxhash64(lit(b) +: mins: _*)
    }: _*)
  }

  /** Per-doc shingle sets + LSH band keys for `text`; one row per doc.
    * Band keys come from the native one-traversal
    * [[graft.functions.MinHashBands64Expr]] (bit-identical to
    * [[lshBandKeysDirect]] over `transform(shingles, xxhash64)` — a
    * spec pins the equivalence). */
  def minhashed(df: DataFrame, id: Column, text: Column,
                k: Int = 32, bands: Int = 8, w: Int = 3): DataFrame = {
    // single-file inputs arrive as one partition; per-doc hashing is the
    // dominant cost, so spread it across cores before computing
    val par = df.sparkSession.sparkContext.defaultParallelism * 2
    val sh = shingles(text, w)
    df.repartition(par).select(id.as("id"), sh.as("shingles"))
      .withColumn("bands",
        graft.functions.MinHashBands64Expr.minhashBands(
          col("shingles"), k, bands))
  }

  /** MinHash/LSH near-duplicate pairs with exact Jaccard verification.
    *
    * explode band keys (carrying each doc's shingle set) → hash-shuffle
    * on (band, key) → pairs within a bucket → exact-Jaccard filter →
    * distinct. Carrying the shingle arrays through the bucket join
    * costs `bands`× duplication in that one shuffle but removes the
    * two join-backs (and the cache) the previous formulation needed to
    * re-attach shingles to candidate pairs — one wide shuffle beats
    * two plus a full materialization. Filtering on exact Jaccard
    * BEFORE the pair-distinct commutes (Jaccard is a pure function of
    * the pair) and shrinks the distinct's shuffle to true near-dups
    * only — the same hot-bucket guard as [[simhashNearDups60]]; a pair
    * colliding in several bands re-verifies per collision, but only
    * real duplicates collide more than once. The bucket join is the
    * only shuffle that grows with data size; at 100 TB the band key is
    * a uniform 64-bit hash so buckets only skew when true duplicate
    * clusters exist (which is the work we want).
    */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
                   threshold: Double = 0.8, k: Int = 32, bands: Int = 8,
                   w: Int = 3): DataFrame = {
    // cache: the frame enters both sides of the self-join (and the
    // posexplode null-guard filter re-evaluates generator input);
    // uncached, the k-permutation hashing would run 4× per row.
    val mh = minhashed(df, id, text, k, bands, w)
      .select(col("id"), col("shingles"), col("bands")).cache()
    val buckets = mh.select(col("id"), col("shingles"),
        posexplode(col("bands")).as(Seq("band", "key")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(array_intersect(col("a.shingles"), col("b.shingles"))).cast(DoubleType) /
          size(array_union(col("a.shingles"), col("b.shingles"))).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .distinct()
  }

  /** Incremental near-dup admission: classify a NEW batch against an
    * already-deduplicated corpus — the production shape, where dedup
    * runs per-ingest against the standing index instead of recomputing
    * all pairs. Statuses (greedy by id, first match wins):
    * `dup_exact_corpus`, `dup_exact_batch` (same normalized hash as a
    * smaller batch id), `dup_near_corpus` (Jaccard ≥ threshold with
    * any corpus doc), `dup_near_batch` (≥ threshold with a smaller
    * batch id), else `admitted`.
    *
    * Plan shape: ONE hash join decides both exact tiers (the right
    * side unions corpus hashes with smaller-id batch hashes) and ONE
    * LSH bucket join decides both near tiers (right side unions corpus
    * bands with batch bands), each reduced to the per-doc best (=
    * lowest) status priority. When the batch is small enough
    * (batch rows × `bands` ≤ `broadcastMaxBandRows` — the gated
    * quantity is the BAND-EXPLODED broadcast payload, batch×bands
    * rows each carrying the doc's shingle array, since that is what
    * the join actually ships; bounded by Spark's 8 GB broadcast cap
    * and driver memory) the
    * batch side carries an explicit `broadcast` hint in both joins,
    * so the corpus NEVER shuffles — it streams through a
    * broadcast-hash probe in place, which is the whole point of
    * per-ingest admission (at scale the corpus hash/band columns are
    * a standing materialized table and this operator's corpus branch
    * is a scan of it). An oversized batch falls back to plain shuffle
    * joins instead of failing the ingest at the broadcast cap. The corpus bucket
    * explode uses `posexplode_outer`: band arrays are never empty, so
    * outer ≡ inner, but the non-outer form triggers
    * InferFiltersFromGenerate, whose inferred `size(bands) > 0` guard
    * re-evaluates the whole per-doc minhash expression a second time
    * once CollapseProject folds it in — measured ~2× on the corpus
    * branch, the same re-evaluation the batch side's cache absorbs. */
  def admitIncremental(corpus: DataFrame, batch: DataFrame,
                       id: Column, text: Column, threshold: Double = 0.8,
                       k: Int = 32, bands: Int = 8, w: Int = 3,
                       broadcastMaxBandRows: Long = 2000000L): DataFrame = {
    def normHash(t: Column) =
      md5(regexp_replace(trim(lower(t)), "\\s+", " "))
    val bh = batch.select(id.as("id"), normHash(text).as("h"))
    // rid = NULL marks a corpus row; a batch row only beats batch rows
    // with a larger id (greedy-by-id admission)
    val hashRight = corpus.select(normHash(text).as("h")).distinct()
      .select(col("h"), lit(null).cast("long").as("rid"),
        lit(1).as("prio"))
      .unionByName(bh.select(col("h"), col("id").as("rid"),
        lit(2).as("prio")))
    val bmh = minhashed(batch, id, text, k, bands, w)
      .select(col("id"), col("shingles"), col("bands")).cache()
    // the broadcast gate counts the CACHED minhashed batch — the count
    // materializes the cache both joins reuse, so gating is free. The
    // gated quantity is the EXPLODED broadcast payload (docs × bands
    // band rows, each carrying the doc's shingle array — that is what
    // nearFlags actually broadcasts), not the batch row count: a batch
    // of long documents can pass a row-count gate and still blow the
    // 8 GB broadcast cap. Size broadcastMaxBandRows for the corpus's doc
    // length distribution (default assumes ~KB-scale shingle arrays).
    // An oversized batch degrades to plain shuffle joins rather than
    // dying mid-ingest at the broadcast cap.
    val hint: DataFrame => DataFrame =
      if (bmh.count() * bands <= broadcastMaxBandRows) df => broadcast(df)
      else df => df
    val exactFlags = hint(bh).join(hashRight, Seq("h"))
      .filter(col("rid").isNull || col("rid") < col("id"))
      .groupBy(col("id")).agg(min(col("prio")).as("prio"))
    def buckets(mh: DataFrame) = mh.select(col("id"), col("shingles"),
      posexplode_outer(col("bands")).as(Seq("band", "key")))
    val bandRight = buckets(minhashed(corpus, id, text, k, bands, w))
      .select(col("band"), col("key"), col("shingles").as("rsh"),
        lit(null).cast("long").as("rid"), lit(3).as("prio"))
      .unionByName(buckets(bmh)
        .select(col("band"), col("key"), col("shingles").as("rsh"),
          col("id").as("rid"), lit(4).as("prio")))
    val nearFlags = hint(buckets(bmh).as("a"))
      .join(bandRight.as("b"), Seq("band", "key"))
      .filter((col("rid").isNull || col("rid") < col("a.id")) &&
        size(array_intersect(col("a.shingles"), col("rsh")))
          .cast(DoubleType) /
          size(array_union(col("a.shingles"), col("rsh")))
            .cast(DoubleType) >= threshold)
      .groupBy(col("a.id").as("id")).agg(min(col("prio")).as("prio"))
    val best = exactFlags.unionByName(nearFlags)
      .groupBy(col("id")).agg(min(col("prio")).as("prio"))
    batch.select(id.as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id"),
        when(col("prio") === 1, "dup_exact_corpus")
          .when(col("prio") === 2, "dup_exact_batch")
          .when(col("prio") === 3, "dup_near_corpus")
          .when(col("prio") === 4, "dup_near_batch")
          .otherwise("admitted").as("status"))
  }

  /** Exact Jaccard pairs over arbitrary (id, element) postings — the
    * generalized inverted-index join behind [[ngramJaccardPairs]], for
    * any set-valued feature: video frame fingerprints, image tile
    * hashes, n-grams, citation sets. Only pairs sharing ≥ 1 element
    * ever materialize; one element-key shuffle + one pair-key shuffle,
    * no cross product. Globally frequent elements are the skew to cap
    * with a document-frequency cutoff (cf. [[ngramJaccardPairsDfCut]]). */
  def setJaccardPairs(postings: DataFrame, id: Column, elem: Column,
                      threshold: Double): DataFrame = {
    val posts = postings.select(id.as("id"), elem.as("e")).distinct()
    val sized = posts.join(
      posts.groupBy(col("id")).agg(count(lit(1)).as("sz")), Seq("id"))
    sized.as("a")
      .join(sized.as("b"),
        col("a.e") === col("b.e") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard above a threshold, via an inverted
    * index: explode shingles → equi-join postings on the shingle →
    * count common shingles per pair → |A∪B| = |A|+|B|−common.
    *
    * Identical scores to the naive cross-pair formula (shingle arrays
    * are distinct sets), but the only pairs ever materialized are those
    * sharing ≥1 shingle — for threshold > 0 that loses nothing. Scale
    * shape: one hash-shuffle on the shingle key + one on the pair key;
    * no cross join, no broadcast of the corpus. Skew concentrates on
    * globally-frequent shingles; at 100 TB cap those with a document-
    * frequency cutoff (stop-shingles carry no dedup signal). */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        threshold: Double, w: Int = 3): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism * 2
    val sh = df.repartition(par)
      .select(id.as("id"), shingles(text, w).as("sh"))
      .withColumn("sz", size(col("sh")))
    // outer: shingle arrays are never empty, and plain explode's
    // inferred size()>0 guard re-evaluates the shingle hashing per row.
    // The postings key is INTERNAL (jaccard counts matches, shingle
    // text is never output) — join on the 8-byte xxhash64 instead of
    // the shingle string so the postings shuffle carries longs
    // (per-pair collision odds 2^-64; the x36 argument).
    val posts = sh.select(col("id"), col("sz"),
        explode_outer(col("sh")).as("__s"))
      .select(col("id"), col("sz"), xxhash64(col("__s")).as("shingle"))
    posts.as("a")
      .join(posts.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** [[ngramJaccardPairs]] with the document-frequency cutoff that makes
    * the inverted index scale: shingles appearing in more than
    * `maxDocFreq` docs (stop-shingles — boilerplate, templates) are
    * dropped from CANDIDATE GENERATION, removing the only quadratic
    * skew the postings join has. Jaccard is still EXACT over the full
    * shingle sets (candidates re-verify against the untrimmed arrays);
    * only pairs whose every shared shingle is a stop-shingle are lost,
    * and those are precisely the pairs boilerplate fabricates. The
    * candidate pair set collapses through a groupBy before the exact
    * verify, so each pair scores once. */
  def ngramJaccardPairsDfCut(df: DataFrame, id: Column, text: Column,
                             threshold: Double, maxDocFreq: Long,
                             w: Int = 3): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism * 2
    val sh = df.repartition(par)
      .select(id.as("id"), shingles(text, w).as("sh"))
    val posts = sh.select(col("id"), col("sh"),
        explode_outer(col("sh")).as("__s")) // outer: see ngramJaccardPairs
      .select(col("id"), col("sh"),
        xxhash64(col("__s")).as("shingle")) // hashed key: see ngramJaccardPairs
    val rare = posts.groupBy("shingle")
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
      .select("shingle")
    val pruned = posts.join(rare, Seq("shingle"))
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // every row of a group carries the same arrays (fixed by the ids)
      .agg(first(col("a.sh")).as("sh_a"), first(col("b.sh")).as("sh_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact repeated-SPAN duplication report — the substring-level dedup
    * signal document-level hashing misses (a doc can be globally unique
    * yet 80% boilerplate). Every length-`w` word window (stride 1) is
    * md5-hashed; a span is *duplicated* when it occurs in ≥ `minDocs`
    * distinct docs; each doc reports how many of its window positions
    * are duplicated and what fraction of its tokens any duplicated
    * window covers (the RefinedWeb-style "drop docs mostly made of
    * repeated spans" decision is a filter on `dup_frac`).
    *
    * Scale shape: windows explode to ~n_tokens rows per doc, but each
    * row is only (id, position, 16-byte hash) — the span TEXT never
    * leaves the hashing expression. The global span-frequency groupBy
    * is the one data-scaling shuffle; the join back to positions is on
    * the same hash key (co-partitioned). Covered-token counting
    * re-explodes ONLY duplicated windows into positions (w× on the
    * duplicated subset, not the corpus) and counts distinct positions —
    * interval-union arithmetic without sorting. Boilerplate spans are
    * the natural heavy keys; they reduce map-side in the count and the
    * dup-set join is hash-grain, so no salting is needed until a single
    * span's posting list alone exceeds a partition (cap with a
    * frequency cutoff as in [[ngramJaccardPairsDfCut]] — beyond
    * `minDocs` the exact count no longer changes the verdict). */
  def spanDuplication(df: DataFrame, id: Column, text: Column,
                      w: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2,
      s"minDocs must be >= 2 (cross-doc duplication), got $minDocs")
    val par = df.sparkSession.sparkContext.defaultParallelism * 2
    val toks = split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")
    val base = df.repartition(par)
      .select(id.as("id"), toks.as("t"))
      .withColumn("n_tokens", size(col("t")))
    // window start positions 0 .. n−w (docs shorter than w have none)
    val wins = base.select(col("id"), col("n_tokens"),
        explode(when(col("n_tokens") >= w,
          sequence(lit(0), col("n_tokens") - w))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("t"))
      .select(col("id"), col("n_tokens"), col("i"),
        // span key is INTERNAL (never output): xxhash64 long beats an
        // md5 string — ~2× cheaper to compute and the window shuffle
        // carries 8-byte keys instead of 32-char strings. Collision
        // odds over 10^9 windows are ~1e-2 per corpus... per PAIR they
        // are 2^-64; a collision merely merges two span groups, and at
        // bench scale (10^6 windows) the odds are ~1e-7.
        xxhash64(concat_ws(" ", slice(col("t"), col("i") + 1, lit(w))))
          .as("h"))
    // minDocs=2 (the common case): "shared by ≥2 docs" is
    // min(id)≠max(id) over the span's window partition — ONE shuffle
    // of the window rows, no aggregate+join-back (which would
    // re-evaluate the per-window md5 hashing on the join probe side;
    // the x2/minhashPairs lesson). Stricter thresholds pay the exact
    // distinct-doc aggregate + semi-join.
    val dupWins = (if (minDocs <= 2) {
      val wh = Window.partitionBy(col("h"))
      wins
        .withColumn("lo", min(col("id")).over(wh))
        .withColumn("hi", max(col("id")).over(wh))
        .filter(col("lo") =!= col("hi"))
    } else {
      val dupSpans = wins.groupBy(col("h"))
        .agg(countDistinct(col("id")).as("ndocs"))
        .filter(col("ndocs") >= minDocs)
        .select(col("h"))
      wins.join(dupSpans, Seq("h"))
    }).select(col("id"), col("i"))
      // two consumers (span counts, coverage) — truncate so the
      // window-explode + per-window hashing runs once (the winnowing
      // discipline); the surviving (id, i) rows are tiny
      .localCheckpoint(true)
    val spanCounts = dupWins.groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_spans"))
    val covered = dupWins
      .select(col("id"), explode(sequence(col("i"), col("i") + w - 1)).as("p"))
      .groupBy(col("id"))
      .agg(countDistinct(col("p")).as("covered_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(spanCounts.join(covered, Seq("id")), Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_frac",
        round(col("covered_tokens").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 4))
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash of a text column, computed entirely with Catalyst
    * array expressions: token xxhash64s → per-bit +1/−1 vote vector →
    * sign bits → fingerprint. */
  def simhash64(text: Column): Column = {
    val toks = array_distinct(regexp_extract_all(lower(text), lit("\\S+"), lit(0)))
    val hashes = transform(toks, t => xxhash64(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    // 2^i is double-exact for i<=62; bit 63 is the sign bit.
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v < 0, 0L).otherwise(
          when(i === 63, lit(Long.MinValue))
            .otherwise(pow(lit(2.0d), i.cast(DoubleType)).cast(LongType)))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** SimHash LSH banding: explode the four 16-bit slices of the
    * fingerprint — identical slice ⇒ near-dup candidate (catches every
    * pair within Hamming distance 3). */
  def simhashBands(df: DataFrame, id: Column, text: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism * 2
    val base = df.repartition(par).select(id.as("id"), simhash64(text).as("simhash"))
    // outer: the 4-slice array is never empty, so outer ≡ inner — and
    // the non-outer form's inferred size()>0 guard would re-evaluate
    // the fingerprint per row (see admitIncremental)
    base.select(col("id"), col("simhash"),
      posexplode_outer(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftrightunsigned", col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("band", "band_key")))
  }

  /** Null text coalesces to the all-ones fingerprint — the same value
    * an EMPTY token list produces (zero votes ⇒ every tie-bit set), so
    * null ≡ empty on both this side and the DuckDB-style oracle
    * formulation (where a doc with no token rows falls out of the
    * aggregation and is COALESCEd back in). */
  val simhashAllOnes60: Long = (1L << 60) - 1

  /** Portable 60-bit SimHash: same vote construction as [[simhash64]]
    * but token hashes are md5-derived ([[graft.functions.ColFns.portableHash60]]
    * per token), so the fingerprint reproduces bit-for-bit in any
    * engine with md5 — the property a cross-system dedup audit needs.
    * 60 bits also stays positive in a signed int64 (no sign-bit special
    * case). Ties (vote = 0) set the bit, matching simhash64.
    *
    * Evaluates via the native [[graft.functions.SimHash60Expr]] (one
    * primitive loop, codegen'd); [[simhash60Composed]] keeps the
    * pure-built-in formulation and the spec proves them bit-identical. */
  def simhash60(text: Column): Column =
    coalesce(
      graft.functions.SimHash60Expr.simhash60(
        array_distinct(regexp_extract_all(lower(text), lit("\\S+"), lit(0)))),
      lit(simhashAllOnes60))

  /** The composed-builtin formulation of [[simhash60]] (O(tokens×60)
    * interpreted HOF steps per row — the reference semantics the native
    * expression is verified against). */
  def simhash60Composed(text: Column): Column = {
    val toks = array_distinct(regexp_extract_all(lower(text), lit("\\S+"), lit(0)))
    val hashes = transform(toks, t => graft.functions.ColFns.portableHash60(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(59)),
        (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)))
    coalesce(
      aggregate(
        zip_with(votes, sequence(lit(0), lit(59)),
          (v, i) => when(v >= 0,
            call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc.bitwiseOR(b)),
      lit(simhashAllOnes60)) // null text ≡ empty text, as in simhash60
  }

  /** [[simhashBands]] over the portable fingerprint: four 15-bit bands. */
  def simhashBands60(df: DataFrame, id: Column, text: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism * 2
    val base = df.repartition(par).select(id.as("id"), simhash60(text).as("simhash"))
    base.select(col("id"), col("simhash"),
      posexplode_outer(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftrightunsigned", col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))))
        .as(Seq("band", "band_key")))
  }

  /** End-to-end SimHash near-dup pairs over the portable fingerprint:
    * band-collision candidate generation ([[simhashBands60]]) →
    * distinct pairs → Hamming filter (`bit_count(xor)`). By the
    * pigeonhole principle the 4×15-bit banding catches every pair
    * within Hamming distance 3 — candidate recall is exactly 1.0 at
    * the default threshold, which is why the whole pipeline (not just
    * the fingerprint) can be oracle-checked. The band bucket join is
    * the only data-scaling shuffle. */
  def simhashNearDups60(df: DataFrame, id: Column, text: Column,
                        maxHamming: Int = 3): DataFrame = {
    // cache: the banded frame enters both sides of the self-join and
    // the generator's null-guard filter; uncached, the per-token
    // fingerprint hashing would run ~4× per row (see minhashPairs)
    val bands = simhashBands60(df, id, text).cache()
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      // Hamming-filter BEFORE the pair dedup: it commutes (hamming is a
      // pure function of the pair) and hot LSH buckets make it count —
      // one 1.4k-doc bucket in the bench corpus yields ~1M candidate
      // pairs, of which only the true near-dups should reach the
      // distinct's shuffle. popcount-per-candidate is codegen'd and
      // nearly free; the distinct shrinks ~300×.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise matches into dedup decisions (cluster → elect canonical →
    * drop the rest). Min-label propagation: every node starts labeled
    * with its own id; each round takes the min of its and its
    * neighbors' labels; converged when a round changes nothing.
    *
    * Rounds are O(component diameter) — near-dup clusters are
    * star-shaped and shallow, so a handful of iterations suffices (the
    * `maxIter` guard is for adversarial chains; production graph
    * mining at 100 TB would switch to the large-star/small-star
    * algorithm, same join primitives). Each round is one shuffle join
    * + aggregate; the convergence check is a cheap count on the
    * changed rows. Output: (id, component) with component = min id
    * reachable, one row per node that appears in any pair. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not cache) everywhere a frame re-enters the loop:
    // each round's plan references the previous labels twice, so without
    // lineage TRUNCATION the logical plan doubles per round — analysis
    // and plan stringification go exponential and OOM the driver long
    // before the (tiny) data does. Checkpointed frames re-enter each
    // round as flat LogicalRDD scans. Same discipline GraphFrames-style
    // iterative algorithms use.
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint(true)
    // seed with min(id, min neighbor) instead of id: one aggregation
    // over edges (no join) that equals the state after a full first
    // propagation round — star clusters then converge in ONE verify
    // round instead of two join rounds (measured ~25% on the sf0.1
    // CC family); the fixpoint is unchanged (labels only start lower
    // along the same lattice)
    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("component"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "n_comp"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("n_comp")).as("n_comp"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("n_comp"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      changed = next.join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") =!= col("old")).count()
      labels = next
      iter += 1
    }
    // Unconverged labels are silently WRONG (some nodes still carry a
    // non-minimal component id) — fail loudly rather than let a caller
    // make dedup decisions on them. Near-dup clusters converge in
    // O(diameter) rounds; hitting this means an adversarially long
    // chain — raise maxIter or switch to large-star/small-star.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds " +
          s"($changed labels still changing); raise maxIter")
    labels
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the adversarial-diameter fallback named in
    * [[connectedComponents]]'s docs. Min-label propagation needs
    * O(diameter) rounds: a 10M-node chain means 10M shuffles. The
    * star operations contract paths aggressively instead — every
    * round rewires each node toward its neighborhood minimum — and
    * converge in O(log² n) rounds on ANY graph shape, each round
    * being the same two primitives (groupBy-min + join) as one
    * min-label round. Near-dup clusters are shallow, so the simple
    * propagation wins there; pathological chain graphs (long URL
    * redirect chains, linked-list-shaped similarity) are where this
    * one earns its keep.
    *
    * Both operate on the canonical undirected edge set (u < v):
    *  - large-star: each center connects its STRICTLY LARGER
    *    neighbors to the neighborhood min (never grows the edge set
    *    beyond 2|E|, per the paper's Lemma 1);
    *  - small-star: each center connects its smaller-or-equal
    *    neighbors AND itself to the neighborhood min.
    * The fixpoint is a star per component centered at the component
    * min; labels read directly off the final edges. Output matches
    * [[connectedComponents]] row-for-row: (id, component), one row
    * per node appearing in any input pair. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val canon = (a: Column, b: Column) =>
      Seq(least(a, b).as("u"), greatest(a, b).as("v"))
    // truncate the INPUT lineage once: allNodes and the canonical edge
    // seed both derive from `pairs`, which is typically an expensive
    // candidate-generation plan (er1: SNM window + edit distance) —
    // without this it executes twice before the loop even starts
    val p0 = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val allNodes = p0.select(col("id_a").as("id"))
      .union(p0.select(col("id_b").as("id"))).distinct()
    var edges = p0.select(canon(col("id_a"), col("id_b")): _*)
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)

    // Both stars aggregate AND join the same center-keyed relation:
    // repartition it by the center ONCE so the groupBy-min and the
    // join-back share one exchange (guide §2.4 — "two operations
    // keyed the same way share one exchange"); unpartitioned, each
    // star re-shuffled its 2|E| (resp. |E|) rows twice per round.
    // Layout-only: same rows, min is order-insensitive, labels
    // unchanged.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("c"), col("v").as("n"))
        .union(e.select(col("v").as("c"), col("u").as("n")))
        .repartition(col("c"))
      val m = sym.groupBy("c").agg(min(col("n")).as("__mn"))
        .select(col("c"), least(col("c"), col("__mn")).as("m"))
      // no trailing distinct: small-star's aggregates are duplicate-
      // insensitive (min) and its own final distinct dedups — one
      // fewer exchange per round
      sym.join(m, Seq("c")).filter(col("n") > col("c"))
        .select(canon(col("n"), col("m")): _*)
        .filter(col("u") =!= col("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // center = larger endpoint; neighbors = its smaller neighbors
      val byV = e.select(col("v").as("c"), col("u").as("n"))
        .repartition(col("c"))
      val m = byV.groupBy("c").agg(min(col("n")).as("m"))
      byV.join(m, Seq("c"))
        .select(col("n").as("w"), col("m"))
        .union(m.select(col("c").as("w"), col("m")))
        .filter(col("w") =!= col("m"))
        .select(canon(col("w"), col("m")): _*).distinct()
    }

    var iter = 0
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // the count rides the checkpointed partitions (cheap job); the
      // provable set-equality check runs only when counts match —
      // i.e. at most once per convergence in practice
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged && iter >= maxIter)
      throw new IllegalStateException(
        s"connectedComponentsStar: not converged after $maxIter rounds")
    // fixpoint edges are (m, w) stars in canonical form: w -> m, plus
    // self labels for component minima and for isolated self-pair nodes
    allNodes
      .join(edges.select(col("v").as("id"), col("u").as("__comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__comp"), col("id")).as("component"))
  }

  /** [[connectedComponents]] with automatic degradation to
    * [[connectedComponentsStar]]: min-label propagation wins on the
    * shallow star-shaped clusters near-dup matching actually produces
    * (converges in a couple of rounds), but throws at its iteration cap
    * on adversarial diameters. Callers that can meet ANY graph shape —
    * the dedup query family, where one linked-list-shaped similarity
    * chain in the pairs would otherwise kill the whole job — route
    * here: on cap-hit the ORIGINAL pairs re-run through the O(log² n)
    * star algorithm (the aborted propagation's partial labels are
    * discarded; they may be non-minimal). Worst case pays maxIter
    * propagation rounds before degrading — set `maxIter` low enough
    * that the probe is cheap relative to a star run. */
  def connectedComponentsAuto(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    try connectedComponents(pairs, maxIter)
    catch {
      case e: IllegalStateException if e.getMessage != null &&
          e.getMessage.startsWith("connectedComponents: not converged") =>
        connectedComponentsStar(pairs)
    }

  // ------------------------------------------------------- embedding cosine

  /** Incremental connected-components maintenance: fold NEW edges into
    * an existing (id, component) labeling without re-clustering the
    * corpus. The standing labels collapse to star edges (id →
    * component) — |nodes| edges that already encode every old
    * connection — so propagation runs over |nodes| + |new| edges
    * instead of the full historical pair set, and converges in the
    * few rounds it takes the new edges to glue stars together (old
    * components are diameter-1 by construction). The labels produced
    * are the same min-id components a full recompute over
    * (old pairs ∪ new pairs) yields, because component membership is
    * invariant under replacing a connected subgraph by its star.
    * This is the ingest-time shape for [[admitIncremental]] /
    * streaming admission: per-batch cost scales with the batch and
    * the component COUNT, never the corpus pair history. */
  def connectedComponentsIncremental(labels: DataFrame, newPairs: DataFrame,
                                     maxIter: Int = 20): DataFrame = {
    val starEdges = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("id_a"), col("component").as("id_b"))
    // auto-variant: old components are diameter-1 stars, but the NEW
    // edges can arrive in any shape (a chain of ingests gluing stars
    // into a long path) — degrade to star CC instead of throwing
    val merged = connectedComponentsAuto(starEdges.unionByName(
      newPairs.select(col("id_a"), col("id_b"))), maxIter)
    // singleton components label themselves and produce no star edge;
    // any of them untouched by the new edges must pass through, or a
    // maintained corpus labeling would lose rows every ingest
    val untouchedSingletons = labels
      .filter(col("id") === col("component"))
      .join(merged, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    merged.unionByName(untouchedSingletons)
  }

  /** Cosine similarity of two float-array columns (elements upcast to
    * double; left-to-right accumulation, deterministic). */
  def cosine(a: Column, b: Column): Column = {
    def d(x: Column) = transform(x, v => v.cast(DoubleType))
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    val da = d(a); val db = d(b)
    dot(da, db) / (sqrt(dot(da, da)) * sqrt(dot(db, db)))
  }

  /** All-pairs embedding cosine above a threshold (near-dup by vector).
    *
    * Norms are computed once per row (not per pair), the per-pair dot
    * product is the native [[graft.functions.DotProduct]] expression
    * (codegen'd primitive loop), and the streamed side is repartitioned
    * so the nested-loop pair join fans out across all cores. Arithmetic
    * is dot/(norm_a*norm_b) — identical to the naive form. O(n²) pair
    * space; the scale path is [[Similarity.lshTopK]]-style blocking. */
  def cosinePairs(df: DataFrame, id: Column, vec: Column,
                  threshold: Double): DataFrame = {
    import graft.functions.VectorExprs
    val parallelism = df.sparkSession.sparkContext.defaultParallelism * 2
    val v = df.select(id.as("id"), vec.as("v"),
      VectorExprs.norm(vec).as("nrm"))
    v.repartition(parallelism).as("a")
      .join(broadcast(v).as("b"), col("a.id") < col("b.id"))
      .withColumn("cos_sim",
        VectorExprs.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos_sim") > threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** Sorted-neighborhood method (Hernández & Stolfo, SIGMOD'95) — the
    * third candidate-generation family next to hash blocking (LSH
    * bands, IVF cells) and inverted-index postings: sort records by a
    * key, compare each record only to its `w − 1` successors in sort
    * order. Candidates here are verified with exact Levenshtein (both
    * engines ship it), pairs over `maxDist` dropped.
    *
    * Scale shape: the sort is windowed WITHIN a coarse block (the
    * key's first character here — any prefix/soundex works), so the
    * plan is one hash shuffle on the block + an in-partition sort —
    * never a global single-partition window. Block-boundary pairs are
    * the replicate-w−1-edge-rows trick at ingest; with a prefix block
    * the boundary rows share no key prefix, so the loss is the pairs
    * a coarser block would also miss. `lead(i)` over the sorted block
    * generates the w−1 successor pairs without a self-join. */
  def sortedNeighborhoodPairs(df: DataFrame, id: Column, key: Column,
                              w: Int = 3, maxDist: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df.select(id.as("id"), key.as("k"),
      substring(key, 1, 1).as("blk"))
    val win = Window.partitionBy(col("blk")).orderBy(col("k"), col("id"))
    s.withColumn("nbrs", array((1 until w).map(i =>
        struct(lead(col("id"), i).over(win).as("nid"),
          lead(col("k"), i).over(win).as("nk"))): _*))
      .select(col("id"), col("k"), explode(col("nbrs")).as("nb"))
      .filter(col("nb.nid").isNotNull)
      .withColumn("dist", levenshtein(col("k"), col("nb.nk")))
      .filter(col("dist") <= maxDist)
      .select(col("id").as("id_a"), col("nb.nid").as("id_b"), col("dist"))
  }
}
