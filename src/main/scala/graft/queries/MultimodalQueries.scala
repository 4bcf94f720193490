package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Multimodal plumbing (x12 onward) and the
  * learn/curation rows that follow it in the catalog. */
private[graft] object MultimodalQueries {
  import QuerySupport._

  val specs: Seq[QuerySpec] = Seq(
    // ---- LLM-pipeline: multimodal plumbing (x12) -----------------------
    QuerySpec("x12_multimodal_decode", (s, dir) => {
      // the mapPartitions batch decode (per-partition codec init;
      // real ImageIO header probe for actual image payloads) — the
      // synthetic utf-8 payloads here take the md5-derived fallback
      // the DuckDB oracle recomputes
      val media = Multimodal.asMedia(t(s, dir, "events"),
        "event_id", "props", "image")
      Multimodal.decode(s, media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes").cast("long"),
          col("feat_hash"), col("width").cast("long"),
          col("height").cast("long"))
        .orderBy(col("media_id"))
    }, """
      SELECT media_id, kind, CAST(strlen(s) AS BIGINT) AS n_bytes,
             h AS feat_hash, 1 + (h % 640) AS width,
             1 + ((h >> 7) % 480) AS height
      FROM (SELECT event_id AS media_id, 'image' AS kind,
                   COALESCE(props, '') AS s,
                   CAST('0x' || substring(md5(COALESCE(props, '')), 1, 15)
                        AS BIGINT) AS h
            FROM events)
      ORDER BY media_id"""),

    QuerySpec("x13_media_resize", (s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "events"),
        "event_id", "props", "image")
      Multimodal.resizeMeta(Multimodal.decode(s, media).toDF())
        .select(col("media_id"), col("width").cast("long"),
          col("height").cast("long"), col("out_w").cast("long"),
          col("out_h").cast("long"), col("scale"))
        .orderBy(col("media_id"))
    }, """
      WITH wh AS (
        SELECT media_id, 1 + (h % 640) AS width, 1 + ((h >> 7) % 480) AS height
        FROM (SELECT event_id AS media_id,
                     CAST('0x' || substring(md5(COALESCE(props, '')), 1, 15)
                          AS BIGINT) AS h
              FROM events)),
      sc AS (
        SELECT *, least(1.0, 224.0 / greatest(width, height)) AS s0 FROM wh)
      SELECT media_id, CAST(width AS BIGINT) AS width,
             CAST(height AS BIGINT) AS height,
             greatest(CAST(floor(width * s0 + 0.5) AS BIGINT), 1) AS out_w,
             greatest(CAST(floor(height * s0 + 0.5) AS BIGINT), 1) AS out_h,
             floor(s0 * 1e6 + 0.5) / 1e6 AS scale
      FROM sc ORDER BY media_id"""),

    QuerySpec("x14_frame_sample", (s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"),
        "doc_id", "text", "video")
      Multimodal.frameSample(media, every = 64)
        .orderBy(col("media_id"), col("frame_no"))
    }, """
      SELECT media_id, CAST(f AS INT) AS frame_no,
             md5(substring(txt, CAST(f * 64 + 1 AS BIGINT), 64)) AS frame_md5
      FROM (
        SELECT doc_id AS media_id, text AS txt,
               UNNEST(range(CAST(greatest(ceil(length(text) / 64.0), 1)
                 AS BIGINT))) AS f
        FROM documents)
      ORDER BY media_id, frame_no"""),

    QuerySpec("x43_decontaminate_strip", (s, dir) => {
      // surgical decontamination: strip every token covered by a
      // benchmark 8-gram instead of dropping the doc (x26 flags, this
      // repairs); same held-out split as x26
      val docs = t(s, dir, "documents")
      TextOps.decontaminateStrip(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          col("doc_id"), col("text"), n = 8)
        .orderBy(col("id"))
    }, """
      WITH tr AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents WHERE doc_id % 100 <> 0),
      be AS (
        SELECT string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ') AS t
        FROM documents WHERE doc_id % 100 = 0),
      bgrams AS (
        SELECT DISTINCT md5(array_to_string(t[i+1:i+8], ' ')) AS h
        FROM be, UNNEST(range(0, greatest(len(t) - 8, 0) + 1)) AS u(i)),
      wins AS (
        SELECT doc_id, i, md5(array_to_string(t[i+1:i+8], ' ')) AS h
        FROM tr, UNNEST(CASE WHEN len(t) >= 8
               THEN range(0, len(t) - 8 + 1) ELSE [] END) AS u(i)),
      cov AS (
        SELECT DISTINCT w.doc_id, p
        FROM wins w JOIN bgrams b USING (h),
             UNNEST(range(w.i + 1, w.i + 9)) AS q(p)),
      tokens AS (
        SELECT doc_id, t[p] AS tok, p
        FROM tr, UNNEST(range(1, len(t) + 1)) AS z(p)),
      kept AS (
        SELECT tk.doc_id, tk.tok, tk.p
        FROM tokens tk LEFT JOIN cov c
          ON c.doc_id = tk.doc_id AND c.p = tk.p
        WHERE c.p IS NULL),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
               string_agg(tok, ' ' ORDER BY p) AS txt
        FROM kept GROUP BY doc_id)
      SELECT tr.doc_id AS id, len(tr.t) AS n_tokens,
             COALESCE(a.n_after, 0) AS n_tokens_after,
             COALESCE(a.txt, '') AS clean_text
      FROM tr LEFT JOIN agg a ON a.doc_id = tr.doc_id
      ORDER BY id"""),

    QuerySpec("x26_decontaminate", (s, dir) => {
      // benchmark decontamination: train docs sharing any word 8-gram
      // with the held-out set (doc_id % 100 == 0 stands in for the
      // benchmark); inverted-index join, benchmark side broadcast.
      // The synthetic corpus carries NO organic 8-gram overlap (round
      // 6's vacuity sweep: this query matched the oracle on zero rows
      // at every scale), so a deterministic canary 8-gram is injected
      // into half the benchmark docs and 10% of train docs — x16's
      // PII-injection discipline: make the operator's firing path
      // visible, not just its empty path
      val canary =
        " graft benchmark canary sequence alpha beta gamma delta"
      val docs = t(s, dir, "documents")
        .withColumn("text2",
          when(col("doc_id") % 200 === 0 || col("doc_id") % 10 === 3,
            concat(col("text"), lit(canary))).otherwise(col("text")))
      TextOps.contaminationFlags(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          col("doc_id"), col("text2"), n = 8)
        .orderBy(col("train_id"))
    }, """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 8
                 THEN list_transform(range(1, len(toks) - 6),
                      i -> array_to_string(toks[i:i+7], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(
                       CASE WHEN doc_id % 200 = 0 OR doc_id % 10 = 3
                            THEN text || ' graft benchmark canary sequence alpha beta gamma delta'
                            ELSE text END),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      train AS (SELECT doc_id AS train_id, UNNEST(s) AS gram
                FROM sh WHERE doc_id % 100 <> 0),
      bench AS (SELECT DISTINCT doc_id AS bench_id, UNNEST(s) AS gram
                FROM sh WHERE doc_id % 100 = 0)
      SELECT t.train_id,
             COUNT(DISTINCT b.bench_id) AS n_bench_hits,
             COUNT(*) AS n_gram_hits
      FROM train t JOIN bench b ON t.gram = b.gram
      GROUP BY t.train_id ORDER BY t.train_id"""),

    QuerySpec("x27_pack_sequences", (s, dir) => {
      // sequence packing: greedy cumulative-fill token bins per shard
      // (the concat-and-chunk batching prep for training windows)
      TextOps.packSequences(t(s, dir, "documents"), col("doc_id"),
          col("text"), capacity = 512, shards = 8)
        .orderBy(col("shard"), col("bin"))
    }, """
      SELECT shard, bin, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM (
        SELECT shard,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard
                 ORDER BY id ROWS UNBOUNDED PRECEDING) - n_tokens)
                 / 512.0) AS BIGINT) AS bin,
               n_tokens
        FROM (SELECT doc_id AS id, doc_id % 8 AS shard,
                     len(regexp_extract_all(text, '\S+')) AS n_tokens
              FROM documents))
      GROUP BY shard, bin ORDER BY shard, bin"""),

    QuerySpec("x24_key_skew", (s, dir) => {
      // shuffle-planning diagnostic: heaviest keys + row share → decides
      // plain shuffle vs AQE skew-join vs explicit salting (j9)
      Quality.keySkew(t(s, dir, "events"), "event_type", topN = 5)
        .orderBy(col("rank"))
    }, """
      SELECT key, n, floor(n / CAST(total AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS share, rank
      FROM (
        SELECT event_type AS key, COUNT(*) AS n,
               SUM(COUNT(*)) OVER () AS total,
               row_number() OVER (ORDER BY COUNT(*) DESC, event_type ASC)
                 AS rank
        FROM events GROUP BY event_type)
      WHERE rank <= 5 ORDER BY rank"""),

    QuerySpec("x25_repetition_ratio", (s, dir) => {
      // Gopher-style repetition signals: top-word / duplicate-word /
      // top-bigram fractions per doc (TextOps.repetitionStats) — the
      // repetitious-content filter after exact dedup
      TextOps.repetitionStats(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("id"))
    }, """
      WITH ws AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      tok AS (
        SELECT doc_id, len(w) AS n_words,
               [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS bg
        FROM ws),
      wstats AS (
        SELECT doc_id, MAX(c) AS top_word_n,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                 AS dup_word_n
        FROM (SELECT doc_id, word, COUNT(*) AS c
              FROM (SELECT doc_id, UNNEST(w) AS word FROM ws) u0
              GROUP BY doc_id, word) wc
        GROUP BY doc_id),
      bstats AS (
        SELECT doc_id, MAX(c) AS top_bigram_n FROM (
          SELECT doc_id, bgram, COUNT(*) AS c FROM (
            SELECT doc_id, UNNEST(bg) AS bgram FROM tok) u1
          GROUP BY doc_id, bgram) g1
        GROUP BY doc_id)
      SELECT t.doc_id AS id, t.n_words,
             round(CAST(w.top_word_n AS DOUBLE) / t.n_words, 6)
               AS top_word_frac,
             round(CAST(w.dup_word_n AS DOUBLE) / t.n_words, 6)
               AS dup_word_frac,
             CASE WHEN t.n_words > 1
                  THEN round(CAST(b.top_bigram_n AS DOUBLE) /
                             (t.n_words - 1), 6)
                  ELSE 0.0 END AS top_bigram_frac
      FROM tok t JOIN wstats w USING (doc_id)
           LEFT JOIN bstats b USING (doc_id)
      ORDER BY id"""),

    QuerySpec("x29_url_canonical", (s, dir) => {
      // crawl-URL canonicalization + dedup: lowercase scheme/host, drop
      // fragment + tracking params + trailing slash, then group by the
      // canonical form keeping the smallest doc id. URLs synthesized
      // deterministically from doc fields (messy case/params/fragments).
      val u = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM/p/"),
          (col("doc_id") % 37).cast(StringType),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&ref="), col("lang"),
          lit("&id="), (col("doc_id") % 200).cast(StringType),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
      u.groupBy(TextOps.canonicalUrl(col("url")).as("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_doc"))
        .orderBy(col("canonical_url"))
    }, """
      WITH u AS (
        SELECT doc_id,
               'HTTPS://' || upper(source) || '.Example.COM/p/' ||
               CAST(doc_id % 37 AS VARCHAR) ||
               CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
               '?utm_source=feed&ref=' || lang || '&id=' ||
               CAST(doc_id % 200 AS VARCHAR) ||
               CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents),
      parts AS (
        SELECT doc_id, nf,
               regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS p,
               list_filter(
                 string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'),
                 x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'ref='))
                      AND x <> '') AS kept
        FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u) n0),
      canon AS (
        SELECT doc_id,
               lower(regexp_extract(nf, '^([A-Za-z]+://[^/?#]+)', 1)) ||
               CASE WHEN p = '/' THEN p
                    ELSE regexp_replace(p, '/$', '') END ||
               CASE WHEN len(kept) > 0
                    THEN '?' || array_to_string(kept, '&') ELSE '' END
                 AS canonical_url
        FROM parts)
      SELECT canonical_url, COUNT(*) AS n_dups,
             MIN(doc_id) AS canonical_doc
      FROM canon GROUP BY canonical_url ORDER BY canonical_url"""),

    QuerySpec("x32_incremental_admit", (s, dir) => {
      // production dedup shape: a new batch classified against the
      // standing deduplicated corpus (exact tiers by hash join, near
      // tiers by LSH bucket join + exact-Jaccard verify) — per-ingest
      // admission instead of an all-pairs recompute
      val docs = t(s, dir, "documents")
      Dedup.admitIncremental(
          docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0),
          col("doc_id"), col("text"))
        .orderBy(col("id"))
    }, """
      WITH norm AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      c AS (SELECT * FROM norm WHERE doc_id % 4 <> 0),
      b AS (SELECT * FROM norm WHERE doc_id % 4 = 0),
      ec AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.h = c.h),
      eb AS (SELECT DISTINCT a.doc_id FROM b a
             JOIN b b2 ON a.h = b2.h AND a.doc_id > b2.doc_id),
      nc AS (SELECT DISTINCT a.doc_id FROM b a JOIN c ON
               CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, c.s))) >= 0.8),
      nb AS (SELECT DISTINCT a.doc_id FROM b a JOIN b b2 ON
               a.doc_id > b2.doc_id AND
               CAST(len(list_intersect(a.s, b2.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b2.s))) >= 0.8)
      SELECT b.doc_id AS id,
             CASE WHEN ec.doc_id IS NOT NULL THEN 'dup_exact_corpus'
                  WHEN eb.doc_id IS NOT NULL THEN 'dup_exact_batch'
                  WHEN nc.doc_id IS NOT NULL THEN 'dup_near_corpus'
                  WHEN nb.doc_id IS NOT NULL THEN 'dup_near_batch'
                  ELSE 'admitted' END AS status
      FROM b LEFT JOIN ec ON b.doc_id = ec.doc_id
             LEFT JOIN eb ON b.doc_id = eb.doc_id
             LEFT JOIN nc ON b.doc_id = nc.doc_id
             LEFT JOIN nb ON b.doc_id = nb.doc_id
      ORDER BY id"""),

    QuerySpec("e2e_incremental_ingest", (s, dir) => {
      // the production ingest loop end-to-end: classify the new day's
      // batch against the standing corpus (x32's admission), then the
      // ingest audit — per-status counts + corpus size before/after
      // (v2 = v1 + admitted). ONE lazy plan; the corpus never shuffles
      // (batch broadcast both tiers).
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val counts = Dedup.admitIncremental(corpus, batch,
          col("doc_id"), col("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
      counts
        .crossJoin(broadcast(corpus.agg(count(lit(1)).as("corpus_v1"))))
        .withColumn("corpus_v2", col("corpus_v1") +
          sum(when(col("status") === "admitted", col("n_docs"))
            .otherwise(0L)).over(Window.partitionBy()))
        .orderBy(col("status"))
    }, """
      WITH norm AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents)),
      c AS (SELECT * FROM norm WHERE doc_id % 4 <> 0),
      b AS (SELECT * FROM norm WHERE doc_id % 4 = 0),
      ec AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.h = c.h),
      eb AS (SELECT DISTINCT a.doc_id FROM b a
             JOIN b b2 ON a.h = b2.h AND a.doc_id > b2.doc_id),
      nc AS (SELECT DISTINCT a.doc_id FROM b a JOIN c ON
               CAST(len(list_intersect(a.s, c.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, c.s))) >= 0.8),
      nb AS (SELECT DISTINCT a.doc_id FROM b a JOIN b b2 ON
               a.doc_id > b2.doc_id AND
               CAST(len(list_intersect(a.s, b2.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b2.s))) >= 0.8),
      st AS (
        SELECT b.doc_id AS id,
               CASE WHEN ec.doc_id IS NOT NULL THEN 'dup_exact_corpus'
                    WHEN eb.doc_id IS NOT NULL THEN 'dup_exact_batch'
                    WHEN nc.doc_id IS NOT NULL THEN 'dup_near_corpus'
                    WHEN nb.doc_id IS NOT NULL THEN 'dup_near_batch'
                    ELSE 'admitted' END AS status
        FROM b LEFT JOIN ec ON b.doc_id = ec.doc_id
               LEFT JOIN eb ON b.doc_id = eb.doc_id
               LEFT JOIN nc ON b.doc_id = nc.doc_id
               LEFT JOIN nb ON b.doc_id = nb.doc_id),
      g AS (SELECT status, COUNT(*) AS n_docs FROM st GROUP BY status)
      SELECT status, n_docs,
             (SELECT COUNT(*) FROM c) AS corpus_v1,
             CAST((SELECT COUNT(*) FROM c)
             + (SELECT COALESCE(SUM(n_docs), 0) FROM g
                WHERE status = 'admitted') AS BIGINT) AS corpus_v2
      FROM g ORDER BY status"""),

    QuerySpec("x33_export_manifest", (s, dir) => {
      // training-data export: deterministic shards written as
      // partitioned JSONL, then the manifest (docs + token counts per
      // shard) computed by RE-READING the export — the audit record
      // covers what actually landed on disk, not what was intended
      val out = tmpDir("x33_export")
      t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(8L)).as("shard"),
          to_json(struct(col("doc_id"), col("text"), col("lang")))
            .as("value"))
        .repartition(col("shard"))
        .write.partitionBy("shard").mode("overwrite").text(out)
      s.read.text(out)
        .select(col("shard").cast("long").as("shard"),
          get_json_object(col("value"), "$.text").as("text"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(ColFns.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .orderBy(col("shard"))
    }, """
      SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1 ORDER BY shard"""),

    QuerySpec("e2e_webcorpus", (s, dir) => {
      // FineWeb-style web-corpus construction as ONE declarative plan,
      // composing the round-5 tiers end-to-end: Gopher heuristics
      // (x91) gate documents, exact dedup keeps each fingerprint's
      // canonical doc, the bigram LM (x90) ranks what survives and the
      // better-ordered HALF is kept via the range-exchange global
      // numbering (rank cut, no data-grain global window), and the
      // survivors interleave into token-balanced shards (x67's LPT
      // pattern). Output is the per-shard audit pane. Every stage is
      // lazy — Catalyst fuses the whole pipeline; the only
      // materializations are the two numbering checkpoints.
      //
      // The r7 gate runs on PER-LANGUAGE corpus-calibrated probes
      // (top-8 tokens by frequency within each lang partition,
      // TextOps.corpusProbesBy — Zipf: a corpus's most frequent
      // tokens ARE its function words), not the published English
      // list: round 5 shipped this query with the hardcoded list and
      // the whole pipeline ran on ZERO rows at every scale (the
      // synthetic vocabulary contains only "the"), hash-matching the
      // oracle on emptiness. Calibration is per-language because
      // that's the only form that survives a multilingual corpus —
      // the 10-rotation sf1 rehearsal lake measures GLOBAL top-8
      // probes passing 0 of 50k docs while per-language probes pass
      // 99% (corpusProbesBy scaladoc; FineWeb's pipelines are
      // per-language for the same reason). With the calibrated gate
      // ~57% of the driver corpus survives the bundle (bounded by r1
      // wordcount); EntrySmokeSpec's vacuity guard now asserts every
      // e2e_* query returns rows so this class of silent-empty can't
      // recur.
      val docs = t(s, dir, "documents")
      val probeRows = TextOps.corpusProbesBy(docs, col("lang"),
        col("text"))
      val pass = TextOps.gopherRules(
          docs.join(broadcast(probeRows),
            docs("lang") === probeRows("grp")), // |langs| rows
          col("doc_id"), col("text"), col("probes"))
        .filter(col("pass")).select(col("id"))
      val canon = docs
        .select(col("doc_id"), ColFns.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("id"))
        .select(col("id"))
      val scored = TextOps.bigramLogProb(docs, col("doc_id"), col("text"))
      val kept = scored.join(pass, "id").join(canon, "id")
      val cut = Layout.globalRowNumber(kept,
          struct((-col("avg_logp2")).as("nlp"), col("id").as("i")),
          keepTotal = true)
        .filter(col("row_num") * 2 < col("total"))
        .drop("row_num", "total")
      val toks = docs.select(col("doc_id").as("id"),
        ColFns.tokenCount(col("text")).as("n_toks"))
      Layout.globalRowNumber(cut.join(toks, "id"),
          struct((-col("n_toks")).as("nt"), col("id").as("i2")))
        .withColumn("shard", col("row_num") % 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          round(sum(col("avg_logp2").cast("decimal(18,4)"))
            .cast(DoubleType) / count(lit(1)), 4).as("mean_logp2"))
        .orderBy(col("shard"))
    }, """
      WITH gd AS (
        SELECT doc_id AS id, lang, text,
               list_filter(regexp_extract_all(lower(text), '\S+'),
                 x -> len(x) > 0) AS w,
               list_filter(list_transform(string_split(text, chr(10)),
                 l -> trim(l)), l -> len(l) > 0) AS lines
        FROM documents),
      probes AS (
        SELECT lang, list(tok) AS ps FROM (
          SELECT lang, tok, row_number() OVER (PARTITION BY lang
                   ORDER BY n DESC, tok ASC) AS rk
          FROM (SELECT lang, tok, COUNT(*) AS n
                FROM (SELECT lang, UNNEST(w) AS tok FROM gd)
                GROUP BY lang, tok))
        WHERE rk <= 8 GROUP BY lang),
      gm AS (
        SELECT id, len(w) AS nw, len(lines) AS nl,
               CAST(length(regexp_replace(text, '\s+', '', 'g'))
                 AS DOUBLE) AS nonws,
               length(text) - length(replace(text, '#', '')) AS nhash,
               (length(text) -
                 length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3
                 AS nell,
               len(list_filter(lines,
                 l -> regexp_matches(l, '^[-*•]'))) AS nbullet,
               len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)$'))) AS nellline,
               len(list_filter(w,
                 x -> regexp_matches(x, '[a-z]'))) AS nalpha,
               len(list_filter(ps, s -> list_contains(w, s))) AS stophits
        FROM gd JOIN probes USING (lang)),
      gpass AS (
        SELECT id FROM gm
        WHERE nw >= 50 AND nw <= 100000
          AND nw > 0 AND nonws / nw >= 3.0 AND nonws / nw <= 10.0
          AND (nhash + nell) / nw <= 0.1
          AND (nl = 0 OR CAST(nbullet AS DOUBLE) / nl < 0.9)
          AND (nl = 0 OR CAST(nellline AS DOUBLE) / nl < 0.3)
          AND CAST(nalpha AS DOUBLE) / nw >= 0.8
          AND stophits >= 2),
      canon AS (
        SELECT MIN(doc_id) AS id FROM (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                   AS fp
          FROM documents)
        GROUP BY fp),
      btoks AS (
        SELECT doc_id AS id, regexp_extract_all(lower(text), '\S+') AS t
        FROM documents),
      btokens AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM btoks),
      bigrams AS (
        SELECT id, w1, w2 FROM (
          SELECT id, tok AS w1,
                 lead(tok) OVER (PARTITION BY id ORDER BY pos) AS w2
          FROM btokens)
        WHERE w2 IS NOT NULL),
      uni AS (SELECT tok AS w1, COUNT(*) AS c1 FROM btokens GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS v FROM btokens),
      bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
      blogp AS (
        SELECT w1, w2, ln((c12 + 1.0) / (c1 + v)) AS logp
        FROM bi JOIN uni USING (w1) CROSS JOIN v),
      scored AS (
        SELECT id, round(AVG(logp), 4) AS avg_logp2
        FROM bigrams JOIN blogp USING (w1, w2) GROUP BY id),
      kept AS (
        SELECT scored.id, avg_logp2
        FROM scored JOIN gpass USING (id) JOIN canon USING (id)),
      r AS (
        SELECT *, row_number() OVER (ORDER BY avg_logp2 DESC, id) AS rn,
               COUNT(*) OVER () AS total
        FROM kept),
      cut AS (SELECT id, avg_logp2 FROM r WHERE (rn - 1) * 2 < total),
      t AS (
        SELECT doc_id AS id, len(regexp_extract_all(text, '\S+'))
          AS n_toks
        FROM documents),
      sh AS (
        SELECT cut.id, avg_logp2, n_toks,
               row_number() OVER (ORDER BY n_toks DESC, cut.id) AS rn2
        FROM cut JOIN t USING (id))
      SELECT (rn2 - 1) % 4 AS shard, COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             round(CAST(SUM(CAST(avg_logp2 AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*), 4) AS mean_logp2
      FROM sh GROUP BY 1 ORDER BY shard"""),

    QuerySpec("e2e_llm_corpus", (s, dir) => {
      // the LLM-corpus pipeline end-to-end, composed from the library:
      // quality filter (x34 rules) → exact-dedup canonical cut (x1) →
      // temperature rebalance by source (p16) → corpus manifest. Each
      // stage is the operator the standalone query gates; the pipeline
      // is their composition — one lazy plan, no intermediate
      // materialization.
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityFeatures(docs, col("doc_id"), col("text"))
        .select(col("id"), col("n_tokens"), col("stopword_ratio"))
      val r = TextOps.repetitionStats(docs, col("doc_id"), col("text"))
        .select(col("id"), col("top_word_frac"))
      val kept = docs.select(col("doc_id").as("id"), col("source"),
          col("text"))
        .join(q, Seq("id")).join(r, Seq("id"))
        .filter(col("n_tokens") >= 10 && col("n_tokens") <= 5000 &&
          col("stopword_ratio") >= 0.05d && col("top_word_frac") <= 0.2d)
      val canonical = kept
        .withColumn("h", ColFns.fingerprint(col("text")))
        .withColumn("keep_id", min(col("id")).over(
          Window.partitionBy(col("h"))))
        .filter(col("id") === col("keep_id"))
      val sampled = Sampling.temperatureSample(canonical,
        col("source"), col("id"))
      // the x115 verifier GATING the export tail (VERDICT r8 #5): a
      // pipeline certifies its shards before a trainer consumes them,
      // so the roundtrip check runs INSIDE the capstone over the
      // sampled corpus — encode through the v=24 vocab, decode back
      // through the inverse vocab, and assert every 0-OOV doc
      // reassembles to its normalized source stream (OOV docs are
      // exempt: the sink id destroyed that information by design).
      // all_roundtrip_ok joins the manifest per source; n_zero_oov is
      // the x26 canary that the exact branch is LIVE, not vacuously
      // true. One vocab definition shared with the sampled export.
      val sampledCp = sampled.localCheckpoint()
      val (vocab, stream) = TextOps.vocabTokenStream(sampledCp,
        col("id"), col("text"), v = 24)
      val dec = TextOps.vocabDecode(stream, vocab)
      val oov = stream.groupBy(col("id"))
        .agg(sum(when(col("tid") === 24L, 1L).otherwise(0L))
          .as("n_oov"))
      val norm = sampledCp.select(col("id"), col("source"),
        ColFns.tokenCount(col("text")).cast("long").as("n_tok"),
        concat_ws(" ", regexp_extract_all(lower(col("text")),
          lit("\\S+"), lit(0))).as("norm"))
      norm.join(dec, Seq("id"), "left").join(oov, Seq("id"), "left")
        .withColumn("zero_oov", coalesce(col("n_oov"), lit(0L)) === 0L)
        .withColumn("rt_ok", !col("zero_oov") ||
          coalesce(col("decoded"), lit("")) === col("norm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("zero_oov"), 1L).otherwise(0L)).as("n_zero_oov"),
          min(col("rt_ok")).as("all_roundtrip_ok"))
        .orderBy(col("source"))
    }, """
      WITH q AS (
        SELECT doc_id AS id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               round(CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(len(list_filter(
                        regexp_extract_all(lower(text), '\S+'),
                        t -> list_contains(['the','a','an','and','or','of',
                                            'to','in','is','it'], t)))
                      AS DOUBLE)
                    / len(regexp_extract_all(lower(text), '\S+'))
               END, 4) AS stopword_ratio
        FROM documents),
      tw AS (
        SELECT nw.id, round(CAST(wc.topc AS DOUBLE) / nw.nw, 6)
                 AS top_word_frac
        FROM (SELECT doc_id AS id, len(string_split(lower(text), ' ')) AS nw
              FROM documents) nw
        JOIN (SELECT id, MAX(c) AS topc FROM (
                SELECT doc_id AS id, word, COUNT(*) AS c FROM (
                  SELECT doc_id, UNNEST(string_split(lower(text), ' '))
                         AS word FROM documents) u
                GROUP BY id, word) g
              GROUP BY id) wc ON nw.id = wc.id),
      kept AS (
        SELECT d.doc_id AS id, d.source, d.text,
               md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')) AS h
        FROM documents d JOIN q ON d.doc_id = q.id
             JOIN tw ON d.doc_id = tw.id
        WHERE q.n_tokens >= 10 AND q.n_tokens <= 5000
          AND q.stopword_ratio >= 0.05 AND tw.top_word_frac <= 0.2),
      canon AS (
        SELECT id, source, text FROM (
          SELECT *, MIN(id) OVER (PARTITION BY h) AS keep_id FROM kept) k
        WHERE id = keep_id),
      cnt AS (SELECT source, COUNT(*) AS n FROM canon GROUP BY source),
      rt AS (SELECT source, n,
                    sqrt(CAST((SELECT MIN(n) FROM cnt) AS DOUBLE) / n)
                      AS rate
             FROM cnt),
      th AS (SELECT source, rate,
                    lpad(lower(to_hex(CAST(floor(rate * 65536.0) AS BIGINT))),
                         4, '0') AS th
             FROM rt),
      samp AS (
        SELECT c.* FROM canon c JOIN th ON c.source = th.source
        WHERE th.rate >= 1.0 OR
              substr(md5(c.source || '|' || CAST(c.id AS VARCHAR)), 1, 4)
              < th.th),
      -- the x115 roundtrip verifier over the SAMPLED export (v = 24
      -- vocab trained on the sample itself): 0-OOV docs must decode
      -- exactly to their normalized source stream
      toksv AS (
        SELECT id, regexp_extract_all(lower(text), '\S+') AS t
        FROM samp),
      flatv AS (
        SELECT id, UNNEST(t) AS tok, generate_subscripts(t, 1) AS pos
        FROM toksv),
      typesv AS (SELECT tok, COUNT(*) AS n FROM flatv GROUP BY tok),
      vocabv AS (
        SELECT tok, rn - 1 AS tid FROM (
          SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC)
                 AS rn
          FROM typesv)
        WHERE rn <= 24),
      encv AS (
        SELECT f.id, f.pos, COALESCE(v.tid, 24) AS tid
        FROM flatv f LEFT JOIN vocabv v USING (tok)),
      decv AS (
        SELECT e.id,
               string_agg(COALESCE(v.tok, '<unk>'), ' '
                 ORDER BY e.pos) AS decoded
        FROM encv e LEFT JOIN vocabv v USING (tid)
        GROUP BY e.id),
      oovv AS (
        SELECT id, SUM(CASE WHEN tid = 24 THEN 1 ELSE 0 END) AS n_oov
        FROM encv GROUP BY id),
      normv AS (
        SELECT id, source,
               len(regexp_extract_all(text, '\S+')) AS n_tok,
               array_to_string(regexp_extract_all(lower(text), '\S+'),
                 ' ') AS norm
        FROM samp)
      SELECT n.source, COUNT(*) AS n_docs,
             CAST(SUM(n.n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN COALESCE(o.n_oov, 0) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_oov,
             bool_and(COALESCE(o.n_oov, 0) > 0 OR
                      COALESCE(d.decoded, '') = n.norm)
               AS all_roundtrip_ok
      FROM normv n LEFT JOIN decv d USING (id)
           LEFT JOIN oovv o USING (id)
      GROUP BY n.source ORDER BY n.source"""),

    QuerySpec("x35_video_frame_neardups", (s, dir) => {
      // media near-dup via shared content fingerprints: frame-sample
      // each "video" (x14 plumbing), then exact Jaccard over the frame
      // fingerprint SETS (Dedup.setJaccardPairs — the generalized
      // inverted-index join; no cross product)
      val media = Multimodal.asMedia(t(s, dir, "documents"),
        "doc_id", "text", "video")
      val frames = Multimodal.frameSample(media, every = 64)
      Dedup.setJaccardPairs(frames, col("media_id"), col("frame_md5"),
          threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, """
      WITH fr AS (
        SELECT DISTINCT media_id AS id,
               md5(substring(txt, CAST(f * 64 + 1 AS BIGINT), 64)) AS e
        FROM (
          SELECT doc_id AS media_id, text AS txt,
                 UNNEST(range(CAST(greatest(ceil(length(text) / 64.0), 1)
                   AS BIGINT))) AS f
          FROM documents) t0),
      sz AS (SELECT id, COUNT(*) AS sz FROM fr GROUP BY id),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS common
        FROM fr a JOIN fr b ON a.e = b.e AND a.id < b.id
        GROUP BY a.id, b.id)
      SELECT p.id_a, p.id_b,
             round(CAST(p.common AS DOUBLE) /
                   (sa.sz + sb.sz - p.common), 4) AS jaccard
      FROM pairs p JOIN sz sa ON p.id_a = sa.id
           JOIN sz sb ON p.id_b = sb.id
      WHERE CAST(p.common AS DOUBLE) / (sa.sz + sb.sz - p.common) >= 0.5
      ORDER BY id_a, id_b"""),

    QuerySpec("x36_span_dup_coverage", (s, dir) => {
      // substring-level exact-dedup signal (deduplicate-text-datasets
      // shape): every 8-word window hashed, spans repeated across ≥2
      // docs marked, per-doc duplicated-span coverage; the RefinedWeb
      // "mostly repeated spans" drop rule is a filter on dup_frac
      Dedup.spanDuplication(t(s, dir, "documents"), col("doc_id"),
          col("text"), w = 8, minDocs = 2)
        .withColumn("verdict",
          when(col("dup_frac") > 0.5d, "drop_span_dup").otherwise("keep"))
        .orderBy(col("id"))
    }, """
      WITH toks AS (
        SELECT doc_id AS id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ' ') AS t
        FROM documents),
      wins AS (
        SELECT id, len(t) AS n_tokens, i,
               md5(array_to_string(t[i+1:i+8], ' ')) AS h
        FROM toks, UNNEST(CASE WHEN len(t) >= 8
               THEN range(0, len(t) - 8 + 1) ELSE [] END) AS u(i)),
      dup AS (SELECT h FROM wins GROUP BY h
              HAVING COUNT(DISTINCT id) >= 2),
      cov AS (
        SELECT w.id, COUNT(DISTINCT w.i) AS n_dup_spans,
               COUNT(DISTINCT p) AS covered_tokens
        FROM wins w JOIN dup USING (h),
             UNNEST(range(w.i, w.i + 8)) AS q(p)
        GROUP BY w.id)
      SELECT tk.id, len(tk.t) AS n_tokens,
             COALESCE(c.n_dup_spans, 0) AS n_dup_spans,
             COALESCE(c.covered_tokens, 0) AS covered_tokens,
             round(COALESCE(c.covered_tokens, 0)
                   / CAST(len(tk.t) AS DOUBLE), 4) AS dup_frac,
             CASE WHEN round(COALESCE(c.covered_tokens, 0)
                        / CAST(len(tk.t) AS DOUBLE), 4) > 0.5
                  THEN 'drop_span_dup' ELSE 'keep' END AS verdict
      FROM toks tk LEFT JOIN cov c ON tk.id = c.id
      ORDER BY tk.id"""),

    QuerySpec("x42_bpe_pair_counts", (s, dir) => {
      // BPE trainer-prep: frequency-weighted adjacent character-pair
      // counts over the word table — the statistic every merge round
      // of tokenizer training maximizes (TextOps.bpeMerges runs the
      // full greedy loop; spec-pinned)
      TextOps.bpePairCounts(
          TextOps.bpeInit(t(s, dir, "documents"), col("text")))
        .filter(col("pair_count") >= 100)
        .orderBy(col("lhs"), col("rhs"))
    }, """
      WITH words AS (
        SELECT tok, COUNT(*) AS n FROM (
          SELECT UNNEST(regexp_extract_all(lower(text), '\S+')) AS tok
          FROM documents) GROUP BY tok),
      sy AS (SELECT n, regexp_extract_all(tok, '.') AS cs FROM words),
      prs AS (
        SELECT cs[i] AS lhs, cs[i+1] AS rhs,
               CAST(SUM(n) AS BIGINT) AS pair_count
        FROM sy, UNNEST(range(1, len(cs))) AS u(i)
        GROUP BY 1, 2)
      SELECT lhs, rhs, pair_count FROM prs
      WHERE pair_count >= 100 ORDER BY lhs, rhs"""),

    QuerySpec("x50_dedup_audit", (s, dir) => {
      // the corpus dedup dashboard: one row per signal tier — exact
      // content dups, simhash near-dup members, span-duplication
      // flags, intra-doc repetition — each the aggregate of an
      // already-oracled operator; the single pane a data-quality
      // review reads before a release
      val docs = t(s, dir, "documents")
      def row(sig: String, df: DataFrame) =
        df.select(lit(sig).as("signal"), col("n").cast("long").as("n_docs"))
      val exact = docs.agg((count(lit(1)) - countDistinct(
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " "))))
        .as("n"))
      val near = Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
          maxHamming = 3)
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .agg(countDistinct(col("id")).as("n"))
      val span = Dedup.spanDuplication(docs, col("doc_id"), col("text"),
          w = 8, minDocs = 2)
        .filter(col("dup_frac") > 0.5d).agg(count(lit(1)).as("n"))
      val intra = TextOps.intraDocDedup(docs, col("doc_id"), col("text"),
          w = 8)
        .filter(col("n_dup_blocks") > 0).agg(count(lit(1)).as("n"))
      row("exact_dup_docs", exact)
        .unionByName(row("near_dup_members", near))
        .unionByName(row("span_flagged_docs", span))
        .unionByName(row("intradoc_affected", intra))
        .orderBy(col("signal"))
    }, """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp0 AS (
        SELECT id, CAST(SUM(CASE WHEN v >= 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                 ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY id),
      fp AS (
        SELECT d.id,
               COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id),
      nearm AS (
        SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n FROM (
          SELECT id_a AS m FROM (
            SELECT a.id AS id_a, b.id AS id_b FROM fp a JOIN fp b
            ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) p0
          UNION SELECT id_b FROM (
            SELECT a.id AS id_a, b.id AS id_b FROM fp a JOIN fp b
            ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) p1)),
      exact AS (
        SELECT CAST(COUNT(*) - COUNT(DISTINCT
          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
          AS BIGINT) AS n
        FROM documents),
      tk AS (
        SELECT doc_id AS sid,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS t
        FROM documents),
      wins AS (
        SELECT sid, len(t) AS n_tokens, i,
               md5(array_to_string(t[i+1:i+8], ' ')) AS hh
        FROM tk, UNNEST(CASE WHEN len(t) >= 8
               THEN range(0, len(t) - 8 + 1) ELSE [] END) AS u(i)),
      dup AS (SELECT hh FROM wins GROUP BY hh
              HAVING COUNT(DISTINCT sid) >= 2),
      cov AS (
        SELECT w.sid, COUNT(DISTINCT p) AS covered
        FROM wins w JOIN dup USING (hh),
             UNNEST(range(w.i, w.i + 8)) AS q(p)
        GROUP BY w.sid),
      spanf AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM tk LEFT JOIN cov ON cov.sid = tk.sid
        WHERE round(COALESCE(cov.covered, 0)
              / CAST(len(tk.t) AS DOUBLE), 4) > 0.5),
      ibl AS (
        SELECT sid, CAST(ceil(len(t) / 8.0) AS INT) AS nb,
               list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                 b -> array_to_string(t[b*8+1 : b*8+8], ' ')) AS bl
        FROM tk),
      intra AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT sid, nb - len(list_filter(range(1, nb + 1),
            i -> list_position(bl, bl[i]) = i)) AS ndup
          FROM ibl WHERE nb >= 1)
        WHERE ndup > 0)
      SELECT 'exact_dup_docs' AS signal, n AS n_docs FROM exact
      UNION ALL SELECT 'near_dup_members', n FROM nearm
      UNION ALL SELECT 'span_flagged_docs', n FROM spanf
      UNION ALL SELECT 'intradoc_affected', n FROM intra
      ORDER BY signal"""),

    QuerySpec("x49_intradoc_dedup", (s, dir) => {
      // within-doc repeated-block removal (CCNet-style): drop every
      // 8-token block that already appeared earlier in the same doc —
      // pure per-row array expressions, scan-speed, no shuffle
      TextOps.intraDocDedup(t(s, dir, "documents"), col("doc_id"),
          col("text"), w = 8)
        .orderBy(col("id"))
    }, """
      WITH tk AS (
        SELECT doc_id AS id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS t
        FROM documents),
      bl AS (
        SELECT id, CAST(ceil(len(t) / 8.0) AS INT) AS nb,
               list_transform(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                 b -> array_to_string(t[b*8+1 : b*8+8], ' ')) AS bl
        FROM tk),
      k AS (
        SELECT id, nb, bl,
               list_filter(range(1, nb + 1),
                 i -> list_position(bl, bl[i]) = i) AS keep_idx
        FROM bl WHERE nb >= 1)
      SELECT id, nb AS n_blocks,
             CAST(nb - len(keep_idx) AS INT) AS n_dup_blocks,
             array_to_string(list_transform(keep_idx, i -> bl[i]), ' ')
               AS clean_text
      FROM k ORDER BY id"""),

    QuerySpec("x48_quality_weighted_sample", (s, dir) => {
      // quality-weighted selection (DCLM-style reweighting): each doc
      // accepts with probability = its composite quality score, via
      // the md5-uniform membership rule — deterministic and
      // auditable, unlike rand()-based sampling. Per-source report:
      // kept counts + fixed-point mean quality of all vs kept (the
      // uplift the reweighting buys).
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityFeatures(docs, col("doc_id"), col("text"))
        .select(col("id"), col("quality_score"))
      val u = conv(substring(md5(col("id").cast("string")), 1, 4), 16, 10)
        .cast("int")
      val qfx = floor(col("quality_score") * 1e4d + 0.5d).cast("long")
      docs.select(col("doc_id").as("id"), col("source"))
        .join(q, Seq("id"))
        .withColumn("kept", u < floor(col("quality_score") * 65536.0d))
        .withColumn("qfx", qfx)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          round(sum(col("qfx")).cast(DoubleType) /
            (count(lit(1)) * 1e4d), 4).as("avg_q_all"),
          round(sum(when(col("kept"), col("qfx")).otherwise(0L))
            .cast(DoubleType) /
            (sum(when(col("kept"), 1L).otherwise(0L)) * 1e4d), 4)
            .as("avg_q_kept"))
        .orderBy(col("source"))
    }, """
      WITH q AS (
        SELECT id, source,
               round(least(1.0, n_tokens / 100.0) * 0.4
                 + (1.0 - least(1.0, punct_ratio * 5.0)) * 0.3
                 + least(1.0, stopword_ratio * 4.0) * 0.3, 4) AS qs
        FROM (
          SELECT doc_id AS id, source,
                 len(regexp_extract_all(text, '\S+')) AS n_tokens,
                 round(CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                        AS DOUBLE) / length(text) END, 4) AS punct_ratio,
                 round(CASE WHEN len(regexp_extract_all(lower(text),
                     '\S+')) = 0
                   THEN 0.0
                   ELSE CAST(len(list_filter(
                          regexp_extract_all(lower(text), '\S+'),
                          t -> list_contains(['the','a','an','and','or','of',
                                              'to','in','is','it'], t)))
                        AS DOUBLE)
                      / len(regexp_extract_all(lower(text), '\S+'))
                 END, 4) AS stopword_ratio
          FROM documents)),
      k AS (
        SELECT source, qs,
               CAST(('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 4))
                 AS INT) < floor(qs * 65536.0) AS kept,
               CAST(floor(qs * 1e4 + 0.5) AS BIGINT) AS qfx
        FROM q)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             round(CAST(SUM(qfx) AS DOUBLE) / (COUNT(*) * 1e4), 4)
               AS avg_q_all,
             round(CAST(SUM(CASE WHEN kept THEN qfx ELSE 0 END) AS DOUBLE)
                   / (SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1e4), 4)
               AS avg_q_kept
      FROM k GROUP BY source ORDER BY source"""),

    QuerySpec("x47_lang_confusion", (s, dir) => {
      // metadata-vs-content governance check: declared `lang` column
      // against the content-derived id (x8's heuristic) as a
      // confusion matrix — the audit a multilingual corpus release
      // publishes
      t(s, dir, "documents")
        .groupBy(col("lang").as("declared"),
          TextOps.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("declared"), col("predicted"))
    }, """
      SELECT lang AS declared,
        CASE WHEN cjk > 0 THEN 'zh'
             WHEN es > greatest(en, de, fr) THEN 'es'
             WHEN fr > greatest(en, de) THEN 'fr'
             WHEN de > en THEN 'de'
             ELSE 'en' END AS predicted,
        COUNT(*) AS n_docs
      FROM (
        SELECT lang,
          len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
          len(regexp_extract_all(lower(text),
            '\b(the|and|of|is|to)\b')) AS en,
          len(regexp_extract_all(lower(text),
            '\b(der|die|und|das|nicht)\b')) AS de,
          len(regexp_extract_all(lower(text),
            '\b(le|la|et|les|des)\b')) AS fr,
          len(regexp_extract_all(lower(text),
            '\b(el|los|las|una|y)\b')) AS es
        FROM documents)
      GROUP BY 1, 2 ORDER BY declared, predicted"""),

    QuerySpec("x38_collocations", (s, dir) => {
      // corpus collocation mining: adjacent-pair lift (the ratio form
      // of PMI — exact rational arithmetic, engine-portable where log
      // ulps are not); the phrase-detection pass before tokenizer
      // training
      TextOps.collocations(t(s, dir, "documents"), col("doc_id"),
          col("text"), minCount = 20L)
        .orderBy(col("bigram"))
    }, """
      WITH ws AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                 'g')), ' ') AS w
        FROM documents),
      uni AS (
        SELECT tok, COUNT(*) AS n_tok
        FROM (SELECT UNNEST(w) AS tok FROM ws) GROUP BY tok),
      tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM uni),
      bgs AS (
        SELECT UNNEST([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))])
          AS bg
        FROM ws),
      bi AS (SELECT bg, COUNT(*) AS n_pair FROM bgs GROUP BY bg),
      btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b_total FROM bi)
      SELECT b.bg AS bigram, b.n_pair,
             round(CAST(b.n_pair AS DOUBLE) * t.n_total * t.n_total /
                   (CAST(bt.b_total AS DOUBLE) * u1.n_tok * u2.n_tok), 4)
               AS lift
      FROM bi b
      JOIN uni u1 ON u1.tok = split_part(b.bg, ' ', 1)
      JOIN uni u2 ON u2.tok = split_part(b.bg, ' ', 2)
      CROSS JOIN tot t CROSS JOIN btot bt
      WHERE b.n_pair >= 20
      ORDER BY bigram"""),

    QuerySpec("x39_oov_rate", (s, dir) => {
      // tokenizer-coverage signal: per-doc out-of-vocabulary rate
      // against the corpus's own deterministic top-30 vocabulary
      TextOps.oovRate(t(s, dir, "documents"), col("doc_id"),
          col("text"), vocabSize = 30)
        .orderBy(col("id"))
    }, """
      WITH toks AS (
        SELECT doc_id AS id,
               UNNEST(string_split(trim(regexp_replace(lower(text),
                 '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, COUNT(*) AS n,
                 row_number() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS r
          FROM toks GROUP BY tok)
        WHERE r <= 30)
      SELECT t.id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_oov,
             round(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 4) AS oov_rate
      FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.id ORDER BY t.id"""),

    QuerySpec("x34_quality_filter", (s, dir) => {
      // the C4/Gopher-style keep/drop decision, composed from the
      // pipeline's own signals: token count bounds, stopword floor,
      // top-word repetition cap — one scan, per-row reasons, plus the
      // survivor rate per source (what a cleaning run reports)
      val docs = t(s, dir, "documents")
      val q = TextOps.qualityFeatures(docs, col("doc_id"), col("text"))
      val r = TextOps.repetitionStats(docs, col("doc_id"), col("text"))
      q.join(r.select(col("id"), col("top_word_frac")), Seq("id"))
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .withColumn("verdict",
          when(col("n_tokens") < 10, "too_short")
            .when(col("n_tokens") > 5000, "too_long")
            .when(col("stopword_ratio") < 0.05d, "low_stopword")
            .when(col("top_word_frac") > 0.2d, "repetitious")
            .otherwise("keep"))
        .groupBy(col("source"), col("verdict"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("verdict"))
    }, """
      WITH q AS (
        SELECT doc_id AS id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               round(CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
                 THEN 0.0
                 ELSE CAST(len(list_filter(
                        regexp_extract_all(lower(text), '\S+'),
                        t -> list_contains(['the','a','an','and','or','of',
                                            'to','in','is','it'], t)))
                      AS DOUBLE)
                    / len(regexp_extract_all(lower(text), '\S+'))
               END, 4) AS stopword_ratio
        FROM documents),
      nw AS (SELECT doc_id AS id, len(string_split(lower(text), ' ')) AS nw
             FROM documents),
      wc AS (SELECT id, MAX(c) AS topc FROM (
               SELECT doc_id AS id, word, COUNT(*) AS c FROM (
                 SELECT doc_id, UNNEST(string_split(lower(text), ' '))
                        AS word FROM documents) u
               GROUP BY id, word) g
             GROUP BY id),
      tw AS (SELECT nw.id,
                    round(CAST(wc.topc AS DOUBLE) / nw.nw, 6)
                      AS top_word_frac
             FROM nw JOIN wc ON nw.id = wc.id)
      SELECT d.source,
             CASE WHEN q.n_tokens < 10 THEN 'too_short'
                  WHEN q.n_tokens > 5000 THEN 'too_long'
                  WHEN q.stopword_ratio < 0.05 THEN 'low_stopword'
                  WHEN tw.top_word_frac > 0.2 THEN 'repetitious'
                  ELSE 'keep' END AS verdict,
             COUNT(*) AS n_docs
      FROM documents d JOIN q ON d.doc_id = q.id
           JOIN tw ON d.doc_id = tw.id
      GROUP BY 1, 2 ORDER BY source, verdict"""),

    QuerySpec("x30_char_entropy", (s, dir) => {
      // character-entropy perplexity proxy (TextOps.charEntropy):
      // gibberish / encoded-blob detection signal
      TextOps.charEntropy(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy(col("id"))
    }, """
      WITH ch AS (
        SELECT doc_id AS id, UNNEST(regexp_extract_all(lower(text), '[a-z]'))
                 AS ch
        FROM documents),
      cc AS (SELECT id, ch, COUNT(*) AS c FROM ch GROUP BY id, ch)
      SELECT id, CAST(SUM(c) AS BIGINT) AS n_letters,
             round(log2(CAST(SUM(c) AS DOUBLE)) -
                   SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) /
                   CAST(SUM(c) AS DOUBLE), 4) AS entropy
      FROM cc GROUP BY id ORDER BY id"""),

    QuerySpec("x31_feature_hash", (s, dir) => {
      // hashing-trick featurization: token → md5-portable bucket,
      // per-doc counts — no vocabulary build, no broadcast
      TextOps.featureHash(t(s, dir, "documents"),
          col("doc_id"), col("text"), buckets = 64)
        .orderBy(col("id"), col("bucket"))
    }, """
      SELECT doc_id AS id,
             CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 64
               AS bucket,
             COUNT(*) AS n
      FROM (SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\S+'))
                     AS tok
            FROM documents) t0
      GROUP BY 1, 2 ORDER BY id, bucket"""),

    QuerySpec("a13_retention_cohorts", (s, dir) => {
      // cohort retention matrix: users bucket by first-activity week,
      // distinct active users per (cohort week, activity week) — two
      // user-grain aggregations + one rollup; the classic product-
      // analytics rollup
      val e = t(s, dir, "events").select(col("user_id"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("wk"))
        .distinct()
      val cohort = e.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_wk"), col("wk"))
    }, """
      WITH e AS (
        SELECT DISTINCT user_id,
               strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
        FROM events),
      c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
      SELECT c.cohort_wk, e.wk, COUNT(DISTINCT e.user_id) AS n_active
      FROM e JOIN c ON e.user_id = c.user_id
      GROUP BY 1, 2 ORDER BY cohort_wk, wk"""),

    QuerySpec("a12_funnel", (s, dir) => {
      // ordered-step funnel: first view → first click after it → first
      // purchase after that, per user. Each step joins the user-grain
      // frontier (≪ events; AQE broadcasts when it fits) back to one
      // event-type slice of the fact — the filters push into the scan,
      // so each pass reads only its step's rows.
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as(("us")))
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("us") > col("t1"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("us")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      s1.select(count(lit(1)).as("n_view"))
        .crossJoin(s2.select(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.select(count(lit(1)).as("n_full_funnel")))
    }, """
      WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
                  FROM events),
      s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.us > s1.t1
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id FROM ev e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.us > s2.t2
             GROUP BY e.user_id)
      SELECT (SELECT COUNT(*) FROM s1) AS n_view,
             (SELECT COUNT(*) FROM s2) AS n_view_click,
             (SELECT COUNT(*) FROM s3) AS n_full_funnel"""),

    QuerySpec("r5_array_agg", (s, dir) => {
      // nested-output construction: per-customer sorted order-key array
      // (collect_list is order-nondeterministic under shuffle — the
      // deterministic form is collect + sort_array) plus array stats.
      // The array itself is emitted as a canonical comma-joined string:
      // top-level array columns are unsortable by generic row-sorting
      // harnesses (and by many BI sinks), so nested shapes stay internal
      // and the output surface is scalar — see OracleCoverageSpec's
      // no-top-level-array invariant.
      t(s, dir, "orders")
        .filter(col("o_custkey") <= 100)
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ks"))
        .select(col("o_custkey"),
          array_join(col("ks"), ",").as("order_keys"),
          size(col("ks")).as("n_orders"),
          element_at(col("ks"), 1).as("first_key"))
        .orderBy(col("o_custkey"))
    }, """
      SELECT o_custkey,
             array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
             CAST(len(list(o_orderkey)) AS INT) AS n_orders,
             list_sort(list(o_orderkey))[1] AS first_key
      FROM orders WHERE o_custkey <= 100
      GROUP BY o_custkey ORDER BY o_custkey"""),

    QuerySpec("f16_sql_native_fns", (s, dir) => {
      // the SQL-ONLY user's view of the native expressions
      // (plans/GraftExtensions): simhash fingerprints + minhash-banded
      // near-dup degree, written entirely in spark.sql against the
      // registered functions — same operators the DataFrame API uses
      graft.plans.GraftExtensions.registerAll(s)
      Tables.createViews(s, dir)
      s.sql("""
        WITH toks AS (
          SELECT doc_id,
                 split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ')
                   AS tk,
                 array_distinct(regexp_extract_all(lower(text), '\\S+', 0))
                   AS dtoks
          FROM documents),
        sh AS (
          SELECT doc_id,
                 coalesce(graft_simhash60(dtoks), 1152921504606846975L)
                   AS simhash,
                 array_distinct(transform(
                   sequence(0, greatest(size(tk) - 3, 0)),
                   i -> concat_ws(' ', slice(tk, i + 1, 3)))) AS sset
          FROM toks),
        b AS (
          SELECT doc_id, sset, band, key
          FROM sh LATERAL VIEW posexplode(graft_minhash_bands(sset))
               t AS band, key),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM b a JOIN b b2
            ON a.band = b2.band AND a.key = b2.key
               AND a.doc_id < b2.doc_id
          WHERE CAST(size(array_intersect(a.sset, b2.sset)) AS DOUBLE) /
                CAST(size(array_union(a.sset, b2.sset)) AS DOUBLE) >= 0.8),
        deg AS (
          SELECT id, COUNT(*) AS n FROM (
            SELECT id_a AS id FROM pairs
            UNION ALL SELECT id_b FROM pairs) u
          GROUP BY id)
        SELECT s0.doc_id AS id, s0.simhash,
               coalesce(d.n, 0L) AS n_neardups
        FROM sh s0 LEFT JOIN deg d ON s0.doc_id = d.id
        ORDER BY id""")
    }, """
      WITH docs AS (
        SELECT doc_id AS id,
               list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
        FROM documents),
      h AS (
        SELECT id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT id, UNNEST(toks) AS tok FROM docs)),
      votes AS (
        SELECT id, i,
               SUM(CASE WHEN (hv >> CAST(i AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM h CROSS JOIN (SELECT UNNEST(range(60)) AS i) GROUP BY id, i),
      fp AS (
        SELECT d.id, COALESCE(f.simhash, CAST(1152921504606846975 AS BIGINT))
                 AS simhash
        FROM docs d LEFT JOIN (
          SELECT id, CAST(SUM(CASE WHEN v >= 0
                   THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                   ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY id) f ON d.id = f.id),
      sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(1, len(tk) - 1),
                      i -> array_to_string(tk[i:i+2], ' '))
                 ELSE [array_to_string(tk, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS tk
              FROM documents)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
              len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT id_a AS id FROM pairs
          UNION ALL SELECT id_b FROM pairs) u
        GROUP BY id)
      SELECT fp.id, fp.simhash, COALESCE(deg.n, 0) AS n_neardups
      FROM fp LEFT JOIN deg ON fp.id = deg.id
      ORDER BY fp.id"""),
  )
}
