package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine BPE tokenizer TRAINING (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the terminal model-side artifact of an LLM data pipeline, learned
  * as DataFrame algebra with no driver-side corpus state.
  *
  * Industrial BPE trainers are two-phase, and so is this one:
  *
  *   1. ONE corpus-scale pass builds the word-frequency table — at
  *      100 TB this is the only heavy scan, a single hash aggregation
  *      on `lower`-cased whitespace tokens (the same `\S+` tokenizer
  *      the whole selection stack shares).
  *   2. Merge rounds run on the word-TYPE table (millions of rows on
  *      a web corpus, never the corpus itself). Each round is one
  *      flatMap+hash-agg to count adjacent symbol pairs weighted by
  *      word frequency, a 1-row argmax (cnt desc, pair asc — the
  *      deterministic tie-break), and a broadcast `replace` applying
  *      the merge. No collect: the chosen pair rides a 1-row
  *      localCheckpoint + broadcast crossJoin (the b2 scalar idiom),
  *      so k merges are k linear passes over the type table.
  *
  * Symbol representation (the oracle contract): a word's symbol
  * sequence is a single string with ONE sentinel space at each end
  * and TWO spaces between symbols, e.g. "ab" → " a  b ". Applying a
  * merge is then plain left-to-right non-overlapping
  * `replace(syms, " x  y ", " xy ")` — and the double-space interior
  * is load-bearing: each match consumes only the FIRST of the two
  * trailing spaces, so the remainder still starts with a space and
  * an immediately following occurrence ("a b a b") is merged too,
  * exactly BPE's greedy semantics. With single spaces the first
  * replacement would swallow the separator and silently skip every
  * adjacent occurrence. Both Spark's `replace` and DuckDB's
  * `replace` scan leftmost non-overlapping, so one recurrence
  * definition serves engine and oracle (the x97 generated-oracle
  * discipline).
  */
object Tokenize {

  /** Phase 1: the corpus-scale pass. (word, freq) over lowercased
    * `\S+` tokens — one hash aggregation, the only stage that ever
    * touches the full corpus. */
  def wordFreq(df: DataFrame, text: Column): DataFrame =
    df.select(explode(
        regexp_extract_all(lower(text), lit("\\S+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** " a  b " initial symbol string for a word: one char per symbol,
    * double-space interior, single-space sentinels. */
  private def initSyms(word: Column): Column =
    concat(lit(" "),
      rtrim(regexp_replace(word, "(.)", "$1  ")), lit(" "))

  /** Adjacent symbol pairs of a syms string, exploded, one row per
    * occurrence, carrying the word's freq. Pair display form is
    * "x y" (single space). */
  private[graft] def pairsOf(syms: DataFrame): DataFrame =
    syms
      .withColumn("arr", split(trim(col("syms")), "  "))
      .filter(size(col("arr")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(arr) - 1), " +
          "i -> concat(element_at(arr, i), ' ', " +
          "element_at(arr, i + 1)))")).as("pair"))

  /** The " x  y " search form of a pair's display form "x y" —
    * shared by the merge replace() and the affected-word filter, so
    * the two can never disagree on what "contains the pair" means.
    * Symbols never contain spaces, so the double-space form occurs in
    * a syms string iff the two symbols are adjacent (matches cannot
    * cross the space delimiters). */
  private def pairPattern(pair: Column): Column =
    concat(lit(" "), regexp_replace(pair, " ", "  "), lit(" "))

  /** Phase 2: `merges` BPE merge rounds over the (word, freq) type
    * table. Returns one row per round:
    * (rank, pair, merged, cnt, corpus_tokens) where `cnt` is the
    * frequency-weighted occurrence count that won the round and
    * `corpus_tokens` the total corpus token count AFTER applying the
    * merge — the training curve a tokenizer build publishes.
    *
    * INCREMENTAL merge rounds (the industrial trainer's inner loop,
    * round-7): the pair-count relation `pc` is built ONCE from the
    * full type table and then DELTA-updated — round r filters the
    * type table to the words that CONTAIN the winning pair (a
    * contains() scan, no explode), recounts pairs for just those
    * words before and after the merge, and folds
    * pc' = pc − pairs(affected_before) + pairs(affected_after)
    * (exact integer counts, so pc' equals a full recount bit-for-bit
    * — Round14Spec pins it). The round-6 form re-exploded EVERY word
    * into pairs EVERY round; fine at 31 types, but at a real 30k-merge
    * vocab over millions of word types the full recount per round
    * dominates training. Here round r explodes only the affected
    * slice — typically a small fraction once common pairs are merged
    * away — and the corpus token count folds from the same slice
    * (tokens' = tokens − freq·(len_before − len_after) summed over
    * affected words; unaffected words cannot change it).
    *
    * Same recurrence, same merge table, same oracle as the full
    * recount ([[bpeTrainFullRecount]] stays as the reference
    * implementation the invariance spec replays against).
    *
    * MEASURED-ROUTE dispatch (the joinAuto/annTopKAutoSized discipline):
    * below [[bpeIncrementalMinTypes]] word types the recount wins —
    * the incremental round's extra jobs (argmax off standing counts,
    * affected checkpoint, delta fold) are pure overhead when the
    * whole explode is a handful of tasks (measured, local[32],
    * min-of-2, 30 merges: 5k types 12.9 s incr vs 3.0 s recount;
    * 200k parity 34.1 vs 35.0; 1M types 42.5 vs 55.1 — the gap grows
    * with types×word-length because the recount re-explodes
    * types·pairs rows per round while the incremental form explodes
    * only the affected slice). The route reads the ALREADY
    * CHECKPOINTED syms row count — one metadata-cheap job, no extra
    * corpus pass. `incremental = Some(...)` overrides for callers
    * (and specs) that know better.
    *
    * Fails fast if the corpus runs out of mergeable pairs before
    * `merges` rounds (an empty argmax would silently empty every
    * later round through the crossJoin; callers size `merges` to the
    * corpus, exactly like lgkFor sizes sketches). */
  def bpeTrain(words: DataFrame, merges: Int,
               incremental: Option[Boolean] = None): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val syms0 = symsOf(words)
    val useIncr = incremental.getOrElse(
      syms0.count() >= bpeIncrementalMinTypes)
    if (!useIncr) recountLoop(syms0, merges)
    else {
      var (syms, pc, toks) = stateFromSyms(syms0)
      var out: DataFrame = null
      for (r <- 1 to merges) {
        val (symsN, pcN, toksN, row, _) = bpeRound(syms, pc, toks, r)
        syms = symsN; pc = pcN; toks = toksN
        out = if (out == null) row else out.unionByName(row)
      }
      out
    }
  }

  /** The measured incremental/recount crossover (see [[bpeTrain]]'s
    * sweep): parity lands near 200k types at local[32]; below it the
    * recount's single explode is cheaper than the incremental
    * round's job fan-out. */
  val bpeIncrementalMinTypes: Long = 200000L

  /** The standing tokenizer's VERSION STRING (the
    * Learn.qualityModelVersion discipline on the tokenizer tier):
    * merge budget + the tokenizer definition ([[wordFreq]]'s
    * lowercase `\S+` split) baked into the ledger identity, so an
    * encode can never silently apply merges trained under a
    * different recipe. */
  val bpeModelVersion: String = "bpe-m12-lc-wsplit"

  /** The checkpointed initial syms type table both training forms
    * start from (and the router counts). */
  private def symsOf(words: DataFrame): DataFrame =
    words.select(initSyms(col("word")).as("syms"), col("freq"))
      .localCheckpoint()

  /** The standing state [[bpeRound]] folds: the checkpointed syms
    * type table, the pair-count relation (built from the ONLY full
    * explode of the whole run), and the 1-row corpus token count. */
  private[graft] def bpeInitState(words: DataFrame)
      : (DataFrame, DataFrame, DataFrame) =
    stateFromSyms(symsOf(words))

  private def stateFromSyms(syms: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // standing pair-count state: built from one full explode, then
    // delta-updated each round — never re-exploded from scratch
    val pc = pairsOf(syms)
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint()
    // standing 1-row corpus token count, folded by affected-slice
    // deltas (exact integers; the lineage is truncated every round)
    val toks = syms.agg(
      sum(col("freq") * size(split(trim(col("syms")), "  ")))
        .as("corpus_tokens"))
      .localCheckpoint()
    (syms, pc, toks)
  }

  /** One incremental merge round. Takes the standing state
    * (syms type table, pair counts, 1-row token count) and returns
    * (syms', pc', toks', output row, affected slice) — package-
    * private so Round14Spec can drive a single round and assert the
    * recount's input IS the affected slice and nothing else. */
  private[graft] def bpeRound(syms: DataFrame, pc: DataFrame,
                              toks: DataFrame, r: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // 1-row argmax over the STANDING pair counts (no explode),
    // materialized executor-side (never collected)
    val best = pc
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(1)
      .localCheckpoint()
    require(!best.isEmpty,
      s"bpeTrain: no adjacent pairs left at round $r — corpus " +
        "supports fewer merges")
    // the contains() split re-reads the CHECKPOINTED syms twice (aff
    // branch here, unaffected branch in symsN below) — two cheap
    // string-predicate scans of stored partitions; materializing a
    // tagged copy instead costs a full 200k-row checkpoint per round
    // and measured SLOWER than the recount it was meant to beat
    val withPair = syms.crossJoin(broadcast(best.select(col("pair"))))
    val hit = col("syms").contains(pairPattern(col("pair")))
    // the affected slice is the ONLY per-round materialization that
    // scales with the merge's footprint, not the type table
    val aff = withPair.filter(hit)
      .withColumn("syms2", expr(
        "replace(syms, concat(' ', replace(pair, ' ', '  '), ' '), " +
          "concat(' ', replace(pair, ' ', ''), ' '))"))
      .withColumn("len1", size(split(trim(col("syms")), "  ")))
      .withColumn("len2", size(split(trim(col("syms2")), "  ")))
      .localCheckpoint()
    // pair-count delta from the affected slice only: subtract its
    // old pairs, add its new ones; counts ≤ 0 leave the relation
    // (an absent pair IS count 0 — keeping zeros would let the
    // argmax tie-break on dead pairs)
    val deltaOld = pairsOf(aff.select(col("syms"), col("freq")))
      .groupBy(col("pair")).agg((-sum(col("freq"))).as("dc"))
    val deltaNew = pairsOf(
        aff.select(col("syms2").as("syms"), col("freq")))
      .groupBy(col("pair")).agg(sum(col("freq")).as("dc"))
    val pcN = pc.select(col("pair"), col("cnt").as("dc"))
      .unionByName(deltaOld).unionByName(deltaNew)
      .groupBy(col("pair")).agg(sum(col("dc")).as("cnt"))
      .filter(col("cnt") > 0)
      .localCheckpoint()
    // token-count fold: only affected words change length
    val dt = aff.agg(coalesce(
      sum(col("freq") * (col("len1") - col("len2"))), lit(0L))
      .as("__d"))
    val toksN = toks.crossJoin(dt)
      .select((col("corpus_tokens") - col("__d")).as("corpus_tokens"))
      .localCheckpoint()
    // coalesce BEFORE the checkpoint: union CONCATENATES its inputs'
    // partition lists, so without it syms' partition count DOUBLES
    // every round (filter and the affected slice each inherit the
    // previous round's count) — measured: 32 → 2M partitions by round
    // 16 at 200k types, with round time exploding 1 s → 200 s on
    // empty-task overhead alone. coalesce merges partition lists
    // without a shuffle, pinning every round at the session's
    // parallelism.
    val symsN = withPair.filter(!hit)
      .select(col("syms"), col("freq"))
      .unionByName(aff.select(col("syms2").as("syms"), col("freq")))
      .coalesce(syms.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint()
    val row = best.crossJoin(toksN)
      .select(lit(r).as("rank"), col("pair"),
        regexp_replace(col("pair"), " ", "").as("merged"),
        col("cnt"), col("corpus_tokens"))
    (symsN, pcN, toksN, row, aff)
  }

  /** The round-6 full-recount form, kept as the REFERENCE
    * implementation: one explode+agg over every word every round.
    * Round14Spec replays [[bpeTrain]] against it (identical merge
    * tables and token curves on the driver corpus) and the
    * bpe_incr_sweep Scratch case measures the two on a large crafted
    * type table — the incremental form's win grows with type-table
    * size and merge count, which 31 types cannot show. */
  private[graft] def bpeTrainFullRecount(words: DataFrame,
                                         merges: Int): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    recountLoop(symsOf(words), merges)
  }

  private def recountLoop(syms0: DataFrame, merges: Int): DataFrame = {
    var syms = syms0
    var out: DataFrame = null
    for (r <- 1 to merges) {
      val best = pairsOf(syms)
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1)
        .localCheckpoint()
      require(!best.isEmpty,
        s"bpeTrainFullRecount: no adjacent pairs left at round $r")
      syms = syms.crossJoin(broadcast(best.select(col("pair"))))
        .withColumn("syms", expr(
          "replace(syms, concat(' ', replace(pair, ' ', '  '), ' '), " +
            "concat(' ', replace(pair, ' ', ''), ' '))"))
        .select(col("syms"), col("freq"))
        .localCheckpoint()
      val ct = syms.agg(
        sum(col("freq") *
          size(split(trim(col("syms")), "  "))).as("corpus_tokens"))
      val row = best.crossJoin(ct)
        .select(lit(r).as("rank"), col("pair"),
          regexp_replace(col("pair"), " ", "").as("merged"),
          col("cnt"), col("corpus_tokens"))
      out = if (out == null) row else out.unionByName(row)
    }
    out
  }

  /** The ENCODE step: apply a trained merge table to the word-TYPE
    * table, returning the (word, n_sub) subword-count dictionary.
    * Encoding a corpus is then ONE broadcast join of this dictionary
    * into the doc→word stream — the dictionary-encode shape (p17):
    * per-type work happens once, corpus-grain work is a join, never
    * a per-document merge loop.
    *
    * `merges` is the k-row trained model ([[bpeTrain]] output);
    * fetching it to the driver is the b2 bloom-bytes model-fetch
    * idiom — the model is KBs by construction (k pairs). Merges
    * apply in rank order (BPE's apply-in-training-order rule) as
    * nested replace() expressions, in CHUNKS of `chunkSize` with a
    * localCheckpoint barrier between chunks: a single fold of a
    * realistic 30k-merge vocab would build a 30k-deep expression
    * tree — past Spark's codegen/analyzer recursion budget (fallback
    * or StackOverflow) — while the barrier caps the depth at
    * `chunkSize` (fully codegen'd) and blocks CollapseProject from
    * re-nesting consecutive chunk projections into one tree. Cost:
    * ceil(k/chunkSize) passes over the word-TYPE table — type-grain,
    * never corpus-grain (the corpus still meets the result as ONE
    * dictionary join). k ≤ chunkSize (every current caller: k = 12)
    * keeps the round-6 single-expression plan byte-for-byte. */
  def bpeSubwordCounts(words: DataFrame, merges: DataFrame,
                       chunkSize: Int = 256): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1: $chunkSize")
    val pairs = merges.orderBy(col("rank")).collect()
      .map(_.getAs[String]("pair"))
    def applyChunk(c: Column, chunk: Array[String]): Column =
      chunk.foldLeft(c) { (acc, p) =>
        call_function("replace", acc,
          lit(" " + p.replace(" ", "  ") + " "),
          lit(" " + p.replace(" ", "") + " "))
      }
    val first = words.select(col("word"), col("freq"),
      applyChunk(initSyms(col("word")), pairs.take(chunkSize))
        .as("__syms"))
    val folded = pairs.drop(chunkSize).grouped(chunkSize)
      .foldLeft(first) { (df, chunk) =>
        // barrier: materialize before the next chunk so the plan
        // depth stays ≤ chunkSize per projection
        df.localCheckpoint()
          .withColumn("__syms", applyChunk(col("__syms"), chunk.toArray))
      }
    folded.select(col("word"), col("freq"),
      size(split(trim(col("__syms")), "  ")).as("n_sub"))
  }
}
