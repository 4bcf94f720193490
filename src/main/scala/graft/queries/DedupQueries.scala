package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColFns
import graft.operators._

/** Corpus dedup (x1..x5 and their successors): exact,
  * MinHash/SimHash, n-gram, embedding and connected-component dedup. */
private[graft] object DedupQueries {
  import QuerySupport._

  val specs: Seq[QuerySpec] = Seq(
    // ---- LLM-pipeline: dedup (x1..x5) ----------------------------------
    QuerySpec("x1_dedup_exact", (s, dir) => {
      Dedup.exactByHash(t(s, dir, "documents"),
          col("doc_id"), ColFns.fingerprint(col("text")))
        .orderBy(col("content_hash"))
    }, """
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS content_hash,
             MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
      FROM documents GROUP BY 1 ORDER BY content_hash"""),

    QuerySpec("x81_softdedup_weights", (s, dir) => {
      // duplication-aware loss weighting — the KEEP-but-downweight
      // alternative to dropping duplicates (soft dedup): every doc in
      // an exact-dup cluster of size n trains at weight 1/n, so the
      // cluster contributes one document's worth of gradient without
      // the hard cut losing its (possibly best) copy. One hash
      // aggregation + a broadcast-sized join back on the hash; total
      // corpus weight = number of distinct contents, asserted by the
      // oracle
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          ColFns.fingerprint(col("text")).as("content_hash"))
      val sizes = docs.groupBy(col("content_hash"))
        .agg(count(lit(1)).as("n_dups"))
      docs.join(sizes, Seq("content_hash"))
        .select(col("doc_id"),
          col("n_dups"),
          round(lit(1.0d) / col("n_dups"), 6).as("weight"))
        .orderBy(col("doc_id"))
    }, """
      WITH h AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                 AS content_hash
        FROM documents),
      s AS (SELECT content_hash, COUNT(*) AS n_dups FROM h
            GROUP BY content_hash)
      SELECT doc_id, n_dups, round(1.0 / n_dups, 6) AS weight
      FROM h JOIN s USING (content_hash)
      ORDER BY doc_id"""),

    QuerySpec("x2_minhash_lsh_pairs", (s, dir) => {
      // MinHash+LSH candidate gen (no SQL oracle: LSH banding) with
      // exact-Jaccard verification
      Dedup.minhashPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }, """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents))
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""),

    QuerySpec("x3_simhash_bands", (s, dir) => {
      // portable 60-bit simhash (md5-derived token hashes) so the
      // fingerprint — not just the row count — is oracle-checkable
      Dedup.simhashBands60(t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy(col("id"), col("band"))
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
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id)
      SELECT id, simhash, CAST(b AS INT) AS band,
             (simhash >> CAST(b * 15 AS INT)) & 32767 AS band_key
      FROM fp CROSS JOIN (SELECT UNNEST(range(4)) AS b)
      ORDER BY id, band"""),

    QuerySpec("x20_simhash_neardups", (s, dir) => {
      // full simhash dedup path: bands → candidates → Hamming≤3 pairs.
      // Banding catches every pair at this threshold (pigeonhole), so
      // the whole pipeline is hash-checked, not just the fingerprint.
      Dedup.simhashNearDups60(t(s, dir, "documents"), col("doc_id"),
          col("text"), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
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
        FROM docs d LEFT JOIN fp0 f ON d.id = f.id)
      -- brute-force definition: banding must find exactly these pairs
      -- (4x15-bit bands catch every pair within Hamming distance 3)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM fp a JOIN fp b ON a.id < b.id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY id_a, id_b"""),

    QuerySpec("x22_neardup_components", (s, dir) => {
      // near-dup pairs → connected components → canonical election:
      // the decision step of the dedup pipeline. Components from
      // min-label propagation with automatic large-star/small-star
      // degradation on adversarial diameters (connectedComponentsAuto
      // — a chain-shaped match graph degrades instead of throwing);
      // oracle recomputes them with a recursive CTE over the same
      // (oracle-checked) x20 edge set.
      val pairs = Dedup.simhashNearDups60(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 3)
      Dedup.connectedComponentsAuto(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(col("id")).as("canonical_id"))
        .orderBy(col("component"))
    }, """
      WITH RECURSIVE docs AS (
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
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
      FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      GROUP BY component ORDER BY component"""),

    QuerySpec("x51_cc_star", (s, dir) => {
      // the SAME clustering as x22 computed by the large-star/small-
      // star algorithm (Dedup.connectedComponentsStar) — identical
      // oracle, so the O(log^2 n) adversarial-diameter path is pinned
      // to the min-label result on driver data, not just in specs
      val pairs = Dedup.simhashNearDups60(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 3)
      Dedup.connectedComponentsStar(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          min(col("id")).as("canonical_id"))
        .orderBy(col("component"))
    },
    // star CC must equal min-label CC -- same oracle as x22
    """
      WITH RECURSIVE docs AS (
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
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
      FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      GROUP BY component ORDER BY component"""),

    QuerySpec("x52_semantic_dedup", (s, dir) => {
      // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
      // 2303.09540): cluster embeddings into cells (x45's exact
      // integer argmin), score cosine pairs WITHIN cells only (the
      // x46 blocked pair space — O(n²) divides by the cell count),
      // connect pairs above threshold into components, keep one
      // representative per component (min id). Singletons are their
      // own component and are kept. Output is the full per-vector
      // dedup decision table a corpus cut consumes downstream.
      //
      // Cell count SCALES WITH THE CORPUS (k = ⌈n/250⌉, floor 8): a
      // fixed k makes within-cell pair counts quadratic in corpus
      // growth — the sf1 rehearsal measured the fixed-k=8 variant at
      // 7.7 s for 10× data (~25M pairs) vs linear-shape expectations.
      // The formula is replicated verbatim in the DuckDB oracle, and
      // at sf0.01/sf0.1 it still resolves to k=8, so the oracle rows
      // and bench continuity are unchanged.
      val embAll = t(s, dir, "embeddings")
      val k = math.max(8L, math.ceil(embAll.count() / 250.0).toLong).toInt
      val cells = Similarity.assignCells(embAll,
          "vec_id", "embedding", k = k)
        .withColumn("nrm",
          graft.functions.VectorExprs.norm(col("embedding")))
        // both sides of the within-cell self-join — one assignment pass
        .localCheckpoint(true)
      val pairs = cells.as("a")
        .join(cells.as("b"), col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos_sim",
          graft.functions.VectorExprs.dot(
            col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cos_sim") > 0.40)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      val comps = Dedup.connectedComponentsAuto(pairs)
        .withColumnRenamed("id", "vec_id")
      t(s, dir, "embeddings").select(col("vec_id"))
        .join(comps, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("component"))
        .withColumn("keep",
          (col("vec_id") === col("component")).cast("int"))
        .orderBy(col("vec_id"))
    }, """
      WITH RECURSIVE qv AS (
        SELECT vec_id, embedding,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cv FROM qv
            WHERE vec_id < GREATEST(8, CAST(ceil(
              (SELECT COUNT(*) FROM embeddings) / 250.0) AS BIGINT))),
      d AS (
        SELECT q.vec_id, q.embedding, c.cid,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                 AS BIGINT) AS d2
        FROM qv q CROSS JOIN c),
      cells AS (
        SELECT cid, vec_id, embedding FROM (
          SELECT cid, vec_id, embedding,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rk
          FROM d)
        WHERE rk = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cells a JOIN cells b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))))
              > 0.40),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      SELECT e.vec_id,
             COALESCE(cp.component, e.vec_id) AS component,
             CAST(CASE WHEN e.vec_id = COALESCE(cp.component, e.vec_id)
                  THEN 1 ELSE 0 END AS INT) AS keep
      FROM embeddings e LEFT JOIN comp cp ON e.vec_id = cp.id
      ORDER BY vec_id"""),

    QuerySpec("x28_multisignal_dedup", (s, dir) => {
      // multi-signal dedup decision: TEXT near-dup edges (simhash
      // Hamming ≤ 3) unioned with EMBEDDING near-dup edges (cosine >
      // 0.40 — semantic dups text hashing can't see), connected
      // components over the combined evidence, canonical per cluster.
      // This is the end-to-end shape of a production dedup pass: every
      // signal contributes edges, the clustering decides once.
      val textEdges = Dedup.simhashNearDups60(t(s, dir, "documents"),
        col("doc_id"), col("text"), maxHamming = 3).select("id_a", "id_b")
      val vecEdges = Dedup.cosinePairs(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), threshold = 0.40)
        .select("id_a", "id_b")
      val edges = textEdges.union(vecEdges).distinct()
      Dedup.connectedComponentsAuto(edges)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("canonical_id"))
        .orderBy(col("component"))
    }, """
      WITH RECURSIVE docs AS (
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
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        UNION
        SELECT id_a, id_b FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[]))))
                   AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE cos_sim > 0.40),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id
      FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      GROUP BY component ORDER BY component"""),

    QuerySpec("x23_dedup_keep_canonical", (s, dir) => {
      // the pipeline's final cut: drop every cluster member except its
      // canonical (min-id) doc; singleton docs pass through untouched
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
        maxHamming = 3)
      val drop = Dedup.connectedComponentsAuto(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      docs.select(col("doc_id")).join(drop, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }, """
      WITH RECURSIVE docs AS (
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
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (
        SELECT id FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
        WHERE id <> component)
      ORDER BY doc_id"""),

    QuerySpec("x41_incremental_components", (s, dir) => {
      // incremental clustering maintenance: day-1 corpus clusters once
      // (80% of docs), the new day's edges fold into the standing
      // labels via star-edge propagation — same labels as a full
      // recompute (the oracle), per-ingest cost
      val docs = t(s, dir, "documents")
      val all = Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
        maxHamming = 3).select(col("id_a"), col("id_b"))
      val old = all.filter(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
      val fresh = all.filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      Dedup.connectedComponentsIncremental(
          Dedup.connectedComponentsAuto(old), fresh)
        .orderBy(col("id"))
    }, """
      WITH RECURSIVE docs AS (
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
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id)
      -- incremental star-edge maintenance must equal the full recompute
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
      ORDER BY id"""),

    QuerySpec("x45_kmeans_step", (s, dir) => {
      // one exact-arithmetic Lloyd iteration: vectors quantize to
      // ×1e7 longs, L2² distances are exact integer sums (argmin can
      // never flip on float ulps — ties break by centroid id), new
      // centroids re-accumulate fixed-point (x44). Seeds = the first
      // k vectors. Broadcast centroids × one scan: the canonical
      // distributed k-means step, made engine-reproducible.
      val best = Similarity.assignCells(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8)
        .withColumn("qv", Similarity.quantize1e7(col("embedding")))
      best.select(col("cid"), posexplode(col("qv")).as(Seq("dim", "q")))
        .groupBy(col("cid"), col("dim"))
        .agg(count(lit(1)).as("n_members"), sum(col("q")).as("s"))
        .select(col("cid"), col("dim"), col("n_members"),
          round(col("s").cast(DoubleType) / (col("n_members") * 1e7d), 5)
            .as("centroid"))
        .orderBy(col("cid"), col("dim"))
    }, """
      WITH qv AS (
        SELECT vec_id,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cv FROM qv WHERE vec_id < 8),
      d AS (
        SELECT q.vec_id, c.cid, q.qv,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                 AS BIGINT) AS d2
        FROM qv q CROSS JOIN c),
      best AS (
        SELECT vec_id, cid, qv FROM (
          SELECT vec_id, cid, qv,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rk
          FROM d)
        WHERE rk = 1),
      ex AS (
        SELECT cid, CAST(i - 1 AS INT) AS dim, qv[i] AS q
        FROM best, UNNEST(range(1, len(qv) + 1)) AS u(i))
      SELECT cid, dim, COUNT(*) AS n_members,
             round(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1e7), 5)
               AS centroid
      FROM ex GROUP BY cid, dim ORDER BY cid, dim"""),

    QuerySpec("x44_cluster_centroids", (s, dir) => {
      // per-cluster embedding centroids with fixed-point accumulation
      // (explicit half-up ×1e7 → exact long sums — order-independent
      // and engine-identical where float summation is neither): the
      // IVF-training / semantic-dedup reduction, grouped by label
      val e = t(s, dir, "embeddings")
      val q = floor(col("v").cast(DoubleType) * 1e7d + 0.5d).cast("long")
      e.select(col("label").as("cluster"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("q", q)
        .groupBy(col("cluster"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
        .select(col("cluster"), col("dim"),
          round(col("s").cast(DoubleType) / (col("n") * 1e7d), 5)
            .as("centroid"))
        .orderBy(col("cluster"), col("dim"))
    }, """
      WITH ex AS (
        SELECT label AS cluster, CAST(i - 1 AS INT) AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7 + 0.5)
                 AS BIGINT) AS q
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i))
      SELECT cluster, dim,
             round(CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1e7), 5)
               AS centroid
      FROM ex GROUP BY cluster, dim ORDER BY cluster, dim"""),

    QuerySpec("x40_keep_best_quality", (s, dir) => {
      // canonical election by QUALITY, not min-id: each near-dup
      // cluster keeps its longest member (ties → smaller id) — the
      // dedup cut that preserves the best copy instead of the
      // earliest; one extra window over the (tiny) component table
      val docs = t(s, dir, "documents")
      val comps = Dedup.connectedComponentsAuto(
        Dedup.simhashNearDups60(docs, col("doc_id"), col("text"),
          maxHamming = 3))
      val ranked = comps.join(
        docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      val byComp = Window.partitionBy(col("component"))
      ranked
        .withColumn("rn", row_number().over(
          byComp.orderBy(col("n_chars").desc, col("id").asc)))
        .withColumn("n_members", count(lit(1)).over(byComp))
        .filter(col("rn") === 1)
        .select(col("component"), col("id").as("canonical_id"),
          col("n_chars").as("canonical_chars"), col("n_members"))
        .orderBy(col("component"))
    }, """
      WITH RECURSIVE docs AS (
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
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM fp a JOIN fp b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, r.r FROM reach r JOIN sym s ON s.src = r.id),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
      j AS (SELECT c.component, c.id, d.n_chars
            FROM comp c JOIN documents d ON d.doc_id = c.id)
      SELECT component, id AS canonical_id, n_chars AS canonical_chars,
             n_members
      FROM (SELECT component, id, n_chars,
                   row_number() OVER (PARTITION BY component
                     ORDER BY n_chars DESC, id ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY component) AS n_members
            FROM j)
      WHERE rn = 1 ORDER BY component"""),

    QuerySpec("x4_ngram_jaccard_pairs", (s, dir) => {
      Dedup.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 1000), col("doc_id"),
          col("text"), threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }, """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents WHERE doc_id < 1000))
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""),

    QuerySpec("x4b_ngram_jaccard_dfcut", (s, dir) => {
      // the 100 TB form of x4: stop-shingles (df > cutoff) dropped from
      // candidate generation — the postings join's only quadratic skew —
      // while Jaccard still verifies EXACTLY over the full shingle sets
      Dedup.ngramJaccardPairsDfCut(
          t(s, dir, "documents").filter(col("doc_id") < 1000), col("doc_id"),
          col("text"), threshold = 0.8, maxDocFreq = 50L)
        .orderBy(col("id_a"), col("id_b"))
    }, """
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [array_to_string(toks, ' ')] END) AS s
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS toks
              FROM documents WHERE doc_id < 1000)),
      posts AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
      rare AS (SELECT shingle FROM posts
               GROUP BY shingle HAVING COUNT(*) <= 50),
      pruned AS (SELECT p.doc_id, p.shingle
                 FROM posts p JOIN rare r ON p.shingle = r.shingle),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM pruned a JOIN pruned b
                 ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
               len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b)
      WHERE jaccard >= 0.8 ORDER BY id_a, id_b"""),

    QuerySpec("x5_embed_cosine_pairs", (s, dir) => {
      Dedup.cosinePairs(t(s, dir, "embeddings"), col("vec_id"),
          col("embedding"), threshold = 0.40)
        .orderBy(col("id_a"), col("id_b"))
    }, """
      SELECT id_a, id_b, round(cos_sim, 4) AS cos_sim FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))))
                 AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      WHERE cos_sim > 0.40 ORDER BY id_a, id_b"""),

    QuerySpec("x46_blocked_cosine_pairs", (s, dir) => {
      // x5's documented scale path made concrete: embeddings block
      // into centroid cells (the x45 exact integer argmin) and the
      // O(n²) cosine verify runs WITHIN cells only — pair space
      // divides by the cell count; cross-cell near-dups are the
      // recall trade every blocked/IVF scheme makes
      // norms once per row, native codegen'd dot per pair (the
      // cosinePairs discipline — the composed-HOF cosine is ~25×
      // slower across a cell's quadratic pair space)
      //
      // cell count scales with the corpus (same ⌈n/250⌉-floor-8 rule
      // and rationale as x52 — fixed k makes pair counts quadratic in
      // corpus growth; k resolves to 8 at sf0.01/sf0.1 so oracle rows
      // are unchanged); formula replicated in the DuckDB oracle
      val embAll46 = t(s, dir, "embeddings")
      val k46 = math.max(8L,
        math.ceil(embAll46.count() / 250.0).toLong).toInt
      val cells = Similarity.assignCells(embAll46,
          "vec_id", "embedding", k = k46)
        .withColumn("nrm",
          graft.functions.VectorExprs.norm(col("embedding")))
      cells.as("a")
        .join(cells.as("b"), col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos_sim",
          graft.functions.VectorExprs.dot(
            col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cos_sim") > 0.40)
        .select(col("a.cid").as("cell"), col("a.vec_id").as("id_a"),
          col("b.vec_id").as("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    }, """
      WITH qv AS (
        SELECT vec_id, embedding,
               list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1e7 + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cv FROM qv
            WHERE vec_id < GREATEST(8, CAST(ceil(
              (SELECT COUNT(*) FROM embeddings) / 250.0) AS BIGINT))),
      d AS (
        SELECT q.vec_id, q.embedding, c.cid,
               CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                 AS BIGINT) AS d2
        FROM qv q CROSS JOIN c),
      cells AS (
        SELECT cid, vec_id, embedding FROM (
          SELECT cid, vec_id, embedding,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rk
          FROM d)
        WHERE rk = 1)
      SELECT cell, id_a, id_b, round(cos_sim, 4) AS cos_sim FROM (
        SELECT a.cid AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))))
                 AS cos_sim
        FROM cells a JOIN cells b
          ON a.cid = b.cid AND a.vec_id < b.vec_id)
      WHERE cos_sim > 0.40 ORDER BY id_a, id_b"""),
  )
}
