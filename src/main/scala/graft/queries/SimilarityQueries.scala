package graft.queries

import graft.SparkEntry._
import graft.functions.CorpusFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity queries: exact top-k, the IVF, IVF-PQ and NSW
  * index tiers with their append and compaction paths, classification
  * over embeddings, quantization and projection.
  */
object SimilarityQueries {

  /** The quantized-probe oracle shared by q_ann_ivf_quant and its split
    * twin: all cells probed (nProbe = nCenters), candidates ranked on
    * the QUANTIZED cosine — codes/min/scale replayed exactly as in
    * q_quantize_int8, dequantized through the same double→float cast,
    * ranked by list_cosine_similarity (dot / sqrt(na·nb), the CosineSim
    * kernel's formula).
    */
  private def quantProbeOracleSql: String =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |s AS (SELECT vec_id, e, list_min(e) AS mn,
      |    (list_max(e) - list_min(e)) / 255.0 AS sc FROM v),
      |dq AS (SELECT vec_id,
      |    CASE WHEN sc > 0 THEN list_transform(e,
      |        x -> CAST(CAST(mn + round((x - mn) / sc) * sc AS FLOAT)
      |          AS DOUBLE))
      |      ELSE list_transform(e, x -> CAST(CAST(mn AS FLOAT)
      |          AS DOUBLE)) END AS dv
      |  FROM s),
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id < 10),
      |scored AS (SELECT q.query_id, dq.vec_id,
      |    list_cosine_similarity(q.qv, dq.dv) AS cos
      |  FROM q, dq WHERE q.query_id <> dq.vec_id)
      |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin

  /** q_mmr_rerank oracle: the greedy argmax unrolls to k CTE levels.
    * Each level computes, for every unselected candidate, the max cosine
    * to the selected set — cosine spelled ip/(sqrt·sqrt) with
    * list_inner_product exactly like mmrRerank's inner loop (the
    * q_pq_probe precedent: sequential dot products are bit-equal) — and
    * picks argmax of CAST(0.7)·score − (1.0−0.7)·msim with the op's
    * (v DESC, score DESC, doc_id) tie-break. All literals CAST to
    * DOUBLE (DuckDB parses 0.7 as DECIMAL; the op's (1.0 − 0.7) is the
    * double 0.30000000000000004, NOT 0.3).
    */
  private def mmrOracleSql(k: Int): String = {
    val cos = (a: String, b: String) =>
      s"""CASE WHEN list_inner_product($a, $a) > 0
         |        AND list_inner_product($b, $b) > 0
         |   THEN list_inner_product($a, $b)
         |     / (sqrt(list_inner_product($a, $a))
         |        * sqrt(list_inner_product($b, $b)))
         |   ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
    val head =
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    CAST(embedding AS DOUBLE[]) AS qv
         |  FROM embeddings WHERE vec_id < 3),
         |c0 AS (SELECT q.query_id, e.vec_id AS doc_id,
         |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[]))
         |      AS score,
         |    CAST(e.embedding AS DOUBLE[]) AS dv
         |  FROM q, embeddings e WHERE q.query_id <> e.vec_id),
         |cands AS MATERIALIZED (SELECT query_id, doc_id, score, dv FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, doc_id) AS rn FROM c0) WHERE rn <= 20),
         |sel1 AS MATERIALIZED (SELECT query_id, doc_id, dv,
         |    1 AS mmr_rank FROM (
         |  SELECT query_id, doc_id, dv, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
         |  FROM cands) WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { r =>
      s"""pick$r AS MATERIALIZED (SELECT query_id, doc_id, dv,
         |    $r AS mmr_rank FROM (
         |  SELECT m.query_id, m.doc_id, m.dv, row_number() OVER (
         |      PARTITION BY m.query_id
         |      ORDER BY CAST(0.7 AS DOUBLE) * m.score
         |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * m.msim
         |          DESC,
         |        m.score DESC, m.doc_id) AS rn
         |  FROM (SELECT c.query_id, c.doc_id,
         |      any_value(c.score) AS score, any_value(c.dv) AS dv,
         |      max(${cos("c.dv", "s.dv")}) AS msim
         |    FROM cands c
         |    JOIN sel${r - 1} s ON s.query_id = c.query_id
         |    LEFT JOIN sel${r - 1} x ON x.query_id = c.query_id
         |      AND x.doc_id = c.doc_id
         |    WHERE x.doc_id IS NULL
         |    GROUP BY c.query_id, c.doc_id) m) WHERE rn = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1}
         |  UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT query_id, doc_id, CAST(mmr_rank AS INTEGER) AS mmr_rank
         |FROM sel$k""".stripMargin
  }

  /** Build the q_random_project oracle: one UNION ALL branch per output
    * dim, each an explicit left-associated ± chain over
    * CAST(embedding[i] AS DOUBLE) with the same md5-derived signs as
    * [[graft.ops.Similarity.randomProject]].
    */
  private def rpOracleSql(inDim: Int, outDim: Int, seed: String): String =
    (0 until outDim).map { j =>
      val chain = (0 until inDim).map { i =>
        val term = s"CAST(embedding[${i + 1}] AS DOUBLE)"
        val sign = graft.ops.Similarity.rpSign(seed, i, j)
        if (i == 0) { if (sign > 0) term else s"(- $term)" }
        else { if (sign > 0) s" + $term" else s" - $term" }
      }.mkString
      s"""SELECT vec_id, CAST($j AS INTEGER) AS out_dim,
         |  round($chain, 6) AS value
         |FROM embeddings
         |WHERE embedding IS NOT NULL AND len(embedding) = $inDim""".stripMargin
    }.mkString("\nUNION ALL\n")

  private def simTopKOracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
      |      CAST(e.embedding AS DOUBLE[])) AS cos
      |  FROM q, embeddings e WHERE q.query_id <> e.vec_id)
      |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin

  private def knnClassifyOracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
      |      CAST(e.embedding AS DOUBLE[])) AS cos
      |  FROM q, embeddings e WHERE q.query_id <> e.vec_id),
      |nn AS (SELECT query_id, vec_id FROM (
      |  SELECT query_id, vec_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored) WHERE rank <= 5),
      |votes AS (SELECT nn.query_id, e.label, count(*) AS n
      |  FROM nn JOIN embeddings e USING (vec_id) GROUP BY 1, 2)
      |SELECT query_id, label AS pred_label,
      |  CAST(n AS BIGINT) AS n_votes
      |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY n DESC, label) AS r FROM votes)
      |WHERE r = 1""".stripMargin

  private def embNearPairsOracleSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a, embeddings b
      |WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0
      |  AND a.vec_id < b.vec_id
      |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |        CAST(b.embedding AS DOUBLE[])) >= 0.3""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_sim_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val c = emb.select(col("vec_id"), col("embedding").as("_cv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("_cos").desc, col("vec_id"))
      c.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("_cos", cosine_sim(col("_qv"), col("_cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "vec_id", "rank")
    }, Sql(simTopKOracleSql)),

    QueryDef("q_emb_near_pairs", (s, d) => {
      // EXACT near-pair baseline on a 1-in-10 sample — deliberately the
      // brute-force O((n/10)^2) form so DuckDB can oracle it bit-exact;
      // the scale path is q_emb_near_pairs_lsh below (same pairs via
      // banded blocking, no cross join)
      val emb = t(s, d, "embeddings").filter(col("vec_id") % 10 === 0)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos", cosine_sim(col("_va"), col("_vb")))
        .filter(col("cos") >= 0.3)
        .select("id_a", "id_b")
    }, Sql(embNearPairsOracleSql)),

    QueryDef("q_emb_near_pairs_lsh", (s, d) => {
      // the 100 TB near-pair path (ops.Similarity.cosinePairs: hyperplane
      // band blocking — candidates meet in (band, key) buckets, a plain
      // equi-join, no cartesian term) in its STAGED-FORM certification:
      // planes = 0 degenerates the blocking to one bucket, so the full
      // band/dedup/threshold code path must reproduce the exact all-pairs
      // sibling — SAME oracle as q_emb_near_pairs. Deployment-parameter
      // recall (16 planes / 8 bands ≈ 0.97 at this 0.3 threshold) stays
      // spec-pinned in Round5OpsSpec on the same sample.
      graft.ops.Similarity.cosinePairs(
        t(s, d, "embeddings").filter(col("vec_id") % 10 === 0),
        threshold = 0.3, planes = 0, bands = 1)
        .select("id_a", "id_b")
    }, Sql(embNearPairsOracleSql)),

    QueryDef("q_knn_classify", (s, d) => {
      // label propagation from exact top-5 cosine neighbors (majority
      // vote, ties to the smallest label) — deterministic, so the oracle
      // replays it; 100 TB path swaps the neighbor source for ANN/IVF
      // via knnClassifyFrom
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.knnClassify(qs, emb, k = 5)
    }, Sql(knnClassifyOracleSql)),

    QueryDef("q_label_centroids", (s, d) => {
      // class prototypes: element-wise per-label mean in pos-exploded
      // form (each mean rounds to 6 dp — SQL-replayable; the array shape
      // would hash engine-dependently)
      graft.ops.Similarity.labelCentroids(par(s, t(s, d, "embeddings")))
    }, Sql(
      """SELECT label, CAST(u.i - 1 AS INTEGER) AS pos,
        |  round(avg(CAST(u.x AS DOUBLE)), 6) AS mean
        |FROM embeddings,
        |  LATERAL (SELECT unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i) u
        |GROUP BY label, u.i""".stripMargin)),

    QueryDef("q_centroid_classify", (s, d) => {
      // Rocchio: nearest per-label centroid by cosine — centroids from
      // labelCentroids, ranking on the 6-dp ROUNDED cosine with ties to
      // the smallest label (oracle convention: both engines order on the
      // same lattice value, immune to float sum-order)
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.centroidClassify(qs,
        graft.ops.Similarity.centroidsAsArrays(
          graft.ops.Similarity.labelCentroids(emb)))
        // ranking is certified; the cosine VALUE itself never rides an
        // oracle hash (float sum-order exposure — q_sim_topk precedent)
        .select("query_id", "pred_label")
    }, Sql(
      """WITH c AS (
        |  SELECT label, CAST(u.i - 1 AS INTEGER) AS pos,
        |    CAST(CAST(round(avg(CAST(u.x AS DOUBLE)), 6) AS REAL)
        |      AS DOUBLE) AS m
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS x,
        |      generate_subscripts(embedding, 1) AS i) u
        |  GROUP BY label, u.i),
        |q AS (
        |  SELECT vec_id AS query_id, CAST(u.i - 1 AS INTEGER) AS pos,
        |    CAST(u.x AS DOUBLE) AS qx
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS x,
        |      generate_subscripts(embedding, 1) AS i) u
        |  WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, c.label,
        |    sum(q.qx * c.m) / sqrt(sum(q.qx * q.qx))
        |      / sqrt(sum(c.m * c.m)) AS cos
        |  FROM q JOIN c USING (pos) GROUP BY 1, 2)
        |SELECT query_id, label AS pred_label FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cos, 6) DESC, label) AS r FROM s)
        |WHERE r = 1""".stripMargin)),

    QueryDef("q_knn_classify_ann", (s, d) => {
      // the 100 TB shape of q_knn_classify (neighbors from the cached IVF
      // index probe instead of the exact scan) in its STAGED-FORM
      // certification: nProbe = nCenters makes the probe's neighbor set
      // exactly bruteForceTopK's, so the probe + vote pipeline must equal
      // knnClassify — SAME oracle as q_knn_classify. Deployment-parameter
      // (nProbe 4) vote agreement stays spec-pinned (Round5fOpsSpec).
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = cachedIvfIndex(s, d,
        graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16))
      graft.ops.Similarity.knnClassifyFrom(
        graft.ops.Similarity.ivfProbe(qs, idx, k = 5, nProbe = 16), emb)
    }, Sql(knnClassifyOracleSql)),

    QueryDef("q_mmr_rerank", (s, d) => {
      // MMR diversification over a brute-force cosine top-20 candidate
      // set. EXACT oracle: the greedy argmax unrolls to k = 5 CTE
      // levels with the op's exact double arithmetic (mmrOracleSql);
      // Round6OpsSpec additionally pins hand-computed selections
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("vec_id"))
      val cands = emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("score", cosine_sim(col("_qv"), col("embedding")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 20)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("score"), col("embedding"))
      graft.ops.Similarity.mmrRerank(cands, k = 5)
    }, Sql(
      // greedy MMR unrolled to k selection levels (engine-exact doubles:
      // list_inner_product == the op's sequential cosine loop)
      mmrOracleSql(k = 5))),

    QueryDef("q_rrf_fuse", (s, d) => {
      // hybrid retrieval: BM25 lexical leg + brute-force cosine dense leg,
      // fused by reciprocal rank (ops.Similarity.rrfFuse). Both legs are
      // rank tables the oracle reproduces exactly; the two-leg double sum
      // is commutative-exact, so the fused score hashes
      val qs = t(s, d, "documents").filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(filter(
            split(lower(trim(col("text"))), "\\s+"),
            tk => tk =!= ""), 1, 8), " ").as("text"))
      // lexical leg probes the SESSION postings index (identical scores
      // to the one-shot operator — q_bm25_probe's certified equivalence)
      val lexical = graft.ops.TextAnalysis.bm25Probe(cachedPostings(s, d), qs)
        .select("query_id", "doc_id", "rank")
      val emb = t(s, d, "embeddings")
      val dq = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("_qv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("_cos").desc, col("vec_id"))
      val dense = emb.select(col("vec_id"), col("embedding").as("_cv"))
        .crossJoin(broadcast(dq))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("_cos", cosine_sim(col("_qv"), col("_cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.ops.Similarity.rrfFuse(Seq(lexical, dense))
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |  WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |qterm AS (
        |  SELECT DISTINCT doc_id AS query_id,
        |    unnest(list_slice(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t <> ''), 1, 8)) AS term
        |  FROM documents WHERE doc_id < 3),
        |dft AS (
        |  SELECT tf.term, count(*) AS df FROM tf
        |  WHERE tf.term IN (SELECT term FROM qterm) GROUP BY 1),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |      * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))), 6)
        |      AS bm25
        |  FROM qterm q
        |  JOIN tf ON tf.term = q.term
        |  JOIN dft d ON d.term = q.term
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, doc_id, rnk AS r FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
        |    FROM scored) WHERE rnk <= 10),
        |dq AS (SELECT vec_id AS query_id, embedding AS qv
        |       FROM embeddings WHERE vec_id < 3),
        |dscored AS (
        |  SELECT dq.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(dq.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM dq, embeddings e WHERE dq.query_id <> e.vec_id),
        |dense AS (
        |  SELECT query_id, vec_id AS doc_id, rnk AS r FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        |    FROM dscored) WHERE rnk <= 5),
        |legs AS (SELECT * FROM lex UNION ALL SELECT * FROM dense),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    round(sum(CAST(1.0 AS DOUBLE) / (60 + r)), 6) AS rrf,
        |    CAST(count(*) AS BIGINT) AS n_legs
        |  FROM legs GROUP BY 1, 2)
        |SELECT query_id, doc_id, rrf, n_legs,
        |  CAST(fr AS INTEGER) AS fused_rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS fr FROM fused)
        |WHERE fr <= 10""".stripMargin)),

    QueryDef("q_ann_topk", (s, d) => {
      // LSH top-k in its STAGED-FORM certification: planes = 0 puts every
      // vector in one bucket, so the full band/bucket-join/re-rank code
      // path must equal bruteForceTopK — SAME oracle as q_sim_topk (the
      // q_ivfpq_topk recipe). Deployment-parameter recall (16 planes /
      // 8 bands) stays spec-pinned in Round5OpsSpec.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.annTopK(q, emb, k = 5, planes = 0, bands = 1)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // ---- round 8 -----------------------------------------------------
      // staged-form identities: degenerate/exhaustive parameters make each
      // approximate path equal its exact sibling BY CONSTRUCTION, so the
      // production code path rides the sibling's exact oracle verbatim
      // (the q_ivfpq_topk recipe — see each query's comment)
      simTopKOracleSql)),

    QueryDef("q_ann_ivf", (s, d) => {
      // IVF probe in its STAGED-FORM certification: nProbe = nCenters
      // probes every cell, and each corpus vector lives in exactly one
      // cell, so the full routing + cell-join + re-rank code path must
      // equal bruteForceTopK — SAME oracle as q_sim_topk (kmeans cells
      // become irrelevant to the RESULT while the dataflow still runs).
      // The index is built once per (session, dir) and reused — the
      // build-once/probe-many deployment shape (build timed separately
      // as q_ann_ivf_build); deployment-parameter recall (nProbe 4 of
      // 16) stays spec-pinned in Round5OpsSpec.
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = cachedIvfIndex(s, d,
        graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16))
      graft.ops.Similarity.ivfProbe(q, idx, k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }, Sql(simTopKOracleSql)),

    QueryDef("q_ann_ivf_quant", (s, d) => {
      // quantized IVF probe, EXACT-oracled: nProbe = nCenters probes all
      // cells (cell routing drops out of the result), and int8
      // quantization is itself SQL-replayable (q_quantize_int8's
      // precedent) — the oracle recomputes codes/min/scale, dequantizes
      // `min + code·scale` through the same float cast, and ranks on the
      // identical quantized cosine. The 4x-less-bytes asymmetric-distance
      // scan is what a 100 TB vector store actually runs; deployment
      // recall (nProbe 4) stays unit-tested (CorpusOpsSpec).
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val qidx = cachedIvfIndexQ(s, d, graft.ops.Similarity.quantizeIndex(
        cachedIvfIndex(s, d,
          graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16))))
      graft.ops.Similarity.ivfProbeQuantized(q, qidx, k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // all cells probed (nProbe = nCenters), candidates ranked on the
      // QUANTIZED cosine: codes/min/scale replayed exactly as in
      // q_quantize_int8, dequantized through the same double→float cast,
      // ranked by the same dot/(sqrt·sqrt)-free list_cosine_similarity
      // formula the CosineSim kernel uses (dot / sqrt(na·nb))
      quantProbeOracleSql)),

    QueryDef("q_ann_ivfq_split", (s, d) => {
      // the quantized tier's SPLIT probe (ops.Similarity
      // .ivfProbeQuantizedSplit — q_ann_ivf_split's byte-code sibling,
      // the pre-compaction deployment shape at 4x less scanned bytes):
      // base = the even-half int8 index (session-cached), delta = the
      // odd half routed + quantized per execution (the streamed delta
      // tree's schema). Staged exhaustive (nProbe = nCenters) the
      // merged per-side top-k equals the GLOBAL quantized top-k — the
      // per-candidate quantized cosine depends only on its own
      // codes/min/scale, never on which side it sat — so
      // q_ann_ivf_quant's exact oracle certifies the merge algebra.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val baseQ = cachedIvfQHalf(s, d)
      val delta = graft.ops.Similarity.quantizeInt8(
          graft.ops.Similarity.ivfAssign(
            emb.filter(col("vec_id") % 2 === 1), cachedIvfHalf(s, d))
            .withColumnRenamed("_cv", "embedding"), "embedding")
        .select("vec_id", "center_id", "codes", "q_min", "q_scale")
      graft.ops.Similarity.ivfProbeQuantizedSplit(qs, baseQ, delta,
          k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // the quantized SPLIT probe merges per-side top-k over the SAME
      // per-vector quantization (codes/min/scale are side-independent),
      // so staged exhaustive it equals the global quantized top-k —
      // q_ann_ivf_quant's oracle verbatim
      quantProbeOracleSql),
      discontinuity = Some("r11: new query")),

    QueryDef("q_ivfpq_compact", (s, d) => {
      // crash-safe compaction for the COMBINED byte-code tier
      // (q_ann_ivf_compact's sibling through the SCHEMA-GENERIC
      // compactIvfDeltas): the session-cached artifact folded the odd
      // half's PQ code rows into a committed generation with the delta
      // tree left on disk. The WithDelta reader must skip the folded
      // partition, and the staged probe (all cells, exhaustive
      // overfetch, exact re-rank tail) must equal brute force over the
      // FULL corpus — q_sim_topk's oracle.
      val (prefix, deltaPath) = compactedIvfPq(s, d)
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = graft.ops.IndexStore.readIvfPqIndexWithDelta(s, prefix,
        deltaPath)
      graft.ops.Similarity.ivfPqProbe(qs, idx, emb, k = 5, nProbe = 8,
          overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // the byte-code tier's compaction: staged exhaustive probe through
      // the crash window (folded PQ delta partition still on disk) with
      // the exact re-rank tail — brute force's oracle again
      simTopKOracleSql),
      discontinuity = Some("r11: new query")),

    QueryDef("q_ann_ivf_build", (s, d) => {
      // the offline half of the IVF pair: a FRESH index build every
      // execution (deterministic k-means + aggregate-argmin cell
      // assignment), so its bench time is the honest indexing cost rather
      // than a cache hit. Returns per-cell occupancy (rows-only).
      val emb = par(s, t(s, d, "embeddings"))
      val idx = graft.ops.Similarity.buildIvfIndex(emb, nCenters = 16)
      val out = idx.cells.groupBy("center_id")
        .agg(count(lit(1)).as("cell_size"))
        .orderBy("center_id")
        .localCheckpoint(true)
      idx.release()
      out
    }, NoOracle("k-means training is model state; the index it builds is " +
      "certified through the probe queries")),

    QueryDef("q_ivf_assign", (s, d) => {
      // incremental cell routing (ops.Similarity.ivfAssign) made EXACT
      // via the literal-model seam (the q_pca_project recipe): the index
      // carries 16 FORMULA centroids — centroid[j][i] =
      // ((1 + (i+1)·(j+1)) mod 67) − 33, integer-valued floats both
      // engines rebuild verbatim — so nearest-cell assignment (argmax
      // cosine, ties to the smallest center_id) replays in SQL through
      // the REAL assignToCentroids code path. K-MEANS-built routing
      // stays covered by q_ann_ivf_append (ivfAssign inside) and
      // Round5dOpsSpec's unchanged-vectors-reproduce-cells pin; the
      // honest Lloyd build cost stays on q_ann_ivf_build.
      import s.implicits._
      val cents = (0 until 16).map(j =>
        (j, Array.tabulate(64)(i0 =>
          (((1 + (i0 + 1) * (j + 1)) % 67) - 33).toFloat)))
        .toDF("center_id", "centroid")
      val idx = graft.ops.Similarity.IvfIndex(cents,
        t(s, d, "embeddings").limit(0)
          .select(col("vec_id"), col("embedding").as("_cv"),
            lit(0).as("center_id")))
      val batch = t(s, d, "embeddings").filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      graft.ops.Similarity.ivfAssign(batch, idx)
        .groupBy("center_id").agg(count(lit(1)).as("appended"))
        .orderBy("center_id")
    }, Sql(
      // literal-model seam: the 16 formula centroids rebuild verbatim in
      // SQL (integer-valued floats), so nearest-cell routing replays as
      // argmax cosine with the smallest-center tiebreak
      """WITH b AS (
        |  SELECT vec_id + 1000000 AS bid, embedding FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |cents AS (
        |  SELECT CAST(j AS INTEGER) AS center_id,
        |    [CAST(((1 + i * (j + 1)) % 67) - 33 AS DOUBLE)
        |     FOR i IN range(1, 65)] AS c
        |  FROM range(0, 16) t(j)),
        |scored AS (
        |  SELECT b.bid, cents.center_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      cents.c) AS cos
        |  FROM b, cents),
        |best AS (
        |  SELECT bid, center_id FROM (
        |    SELECT bid, center_id, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, center_id) AS rn FROM scored)
        |  WHERE rn = 1)
        |SELECT center_id, count(*) AS appended
        |FROM best GROUP BY center_id""".stripMargin)),

    QueryDef("q_ivf_drift", (s, d) => {
      // drift-triggered retrain signal (ops.Similarity.indexDriftReport)
      // made EXACT via the q_ivf_assign literal-model seam: the indexed
      // corpus is the 1-in-10 sample routed through the REAL ivfAssign
      // path against the 16 formula centroids, the "arriving batch" is
      // a disjoint 1-in-10 sample — per-cell occupancies are integer
      // counts and the report-level total-variation distance replays as
      // one HUGEINT floor-division, so the retrain DECISION itself is
      // oracle-certified. K-means-built drift cadence stays spec-pinned
      // (Round10OpsSpec: zero-drift identity, planted-shift retrain).
      import s.implicits._
      val cents = (0 until 16).map(j =>
        (j, Array.tabulate(64)(i0 =>
          (((1 + (i0 + 1) * (j + 1)) % 67) - 33).toFloat)))
        .toDF("center_id", "centroid")
      val emb = t(s, d, "embeddings")
      val router = graft.ops.Similarity.IvfIndex(cents,
        emb.limit(0).select(col("vec_id"), col("embedding").as("_cv"),
          lit(0).as("center_id")))
      val idx = graft.ops.Similarity.IvfIndex(cents,
        graft.ops.Similarity.ivfAssign(
          emb.filter(col("vec_id") % 10 === 0), router))
      graft.ops.Similarity.indexDriftReport(idx,
          emb.filter(col("vec_id") % 10 === 5))
        .orderBy("center_id")
    }, Sql(
      // the drift report over the same literal-model routing: two cell
      // histograms (index sample / batch sample), then the report-level
      // total-variation distance as ONE HUGEINT floor-division and the
      // integer threshold compare — the retrain decision replayed exactly
      """WITH cents AS (
        |  SELECT CAST(j AS INTEGER) AS center_id,
        |    [CAST(((1 + i * (j + 1)) % 67) - 33 AS DOUBLE)
        |     FOR i IN range(1, 65)] AS c
        |  FROM range(0, 16) t(j)),
        |ih AS (SELECT center_id, count(*) AS n_index FROM (
        |    SELECT e.vec_id, cents.center_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(
        |          CAST(e.embedding AS DOUBLE[]), cents.c) DESC,
        |          cents.center_id) AS rn
        |    FROM embeddings e, cents WHERE e.vec_id % 10 = 0)
        |  WHERE rn = 1 GROUP BY center_id),
        |bh AS (SELECT center_id, count(*) AS n_batch FROM (
        |    SELECT e.vec_id, cents.center_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(
        |          CAST(e.embedding AS DOUBLE[]), cents.c) DESC,
        |          cents.center_id) AS rn
        |    FROM embeddings e, cents WHERE e.vec_id % 10 = 5)
        |  WHERE rn = 1 GROUP BY center_id),
        |hist AS MATERIALIZED (SELECT cents.center_id,
        |    coalesce(ih.n_index, 0) AS n_index,
        |    coalesce(bh.n_batch, 0) AS n_batch
        |  FROM cents LEFT JOIN ih USING (center_id)
        |             LEFT JOIN bh USING (center_id)),
        |tot AS (SELECT CAST(sum(n_index) AS HUGEINT) AS ni,
        |    CAST(sum(n_batch) AS HUGEINT) AS nb FROM hist),
        |tv AS (SELECT CASE WHEN ni > 0 AND nb > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT)
        |        * sum(abs(CAST(n_batch AS HUGEINT) * ni
        |                - CAST(n_index AS HUGEINT) * nb)))
        |        // (CAST(2 AS HUGEINT) * ni * nb) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS tv_u6
        |  FROM hist, tot GROUP BY ni, nb)
        |SELECT h.center_id, CAST(h.n_index AS BIGINT) AS n_index,
        |  CAST(h.n_batch AS BIGINT) AS n_batch, tv.tv_u6,
        |  tv.tv_u6 >= 250000 AS retrain
        |FROM hist h, tv""".stripMargin),
      discontinuity = Some("r10: new query")),

    QueryDef("q_ann_ivf_append", (s, d) => {
      // incremental index MAINTENANCE certified exactly: the base index
      // holds only the even half of the corpus (built once per session —
      // the persisted artifact), each execution APPENDS the odd half
      // (ops.Similarity.ivfAppend: nearest-cell routing, batch-side pin,
      // the honest per-append cost), and the staged probe
      // (nProbe = nCenters) over the appended index must equal brute
      // force over the FULL corpus — q_sim_topk's oracle — which fails
      // if any appended vector landed unreachable or with a wrong
      // vector payload. Deployment-parameter append behavior stays
      // spec-pinned (Round9bOpsSpec: empty-append bit-equality, planted
      // duplicate recall at nProbe 4).
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = cachedIvfHalf(s, d)
      val appended = graft.ops.Similarity.ivfAppend(
        base, emb.filter(col("vec_id") % 2 === 1))
      val out = graft.ops.Similarity.ivfProbe(q, appended, k = 5,
          nProbe = 16)
        .select("query_id", "vec_id", "rank")
        .localCheckpoint(true)
      appended.releaseDelta() // per-execution artifact; base is cached
      out
    }, Sql(
      // append-maintenance staged forms: probe-after-append over the full
      // (base ∪ delta = whole corpus) must equal brute force
      simTopKOracleSql)),

    QueryDef("q_ann_ivf_split", (s, d) => {
      // the SPLIT probe (ops.Similarity.ivfProbeSplit — the
      // pre-compaction deployment shape): base = the cached even-half
      // index (the persisted bucketed artifact, probed zero-Exchange),
      // delta = the odd half routed through ivfAssign (the streamed
      // delta tree's shape), probed separately and merged by one rank
      // layer over <= 2k rows per query. Staged exhaustive
      // (nProbe = nCenters), so the merged result must equal brute
      // force over the FULL corpus — q_sim_topk's oracle — certifying
      // the top-k merge algebra end-to-end.
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = cachedIvfHalf(s, d)
      val delta = graft.ops.Similarity.ivfAssign(
        emb.filter(col("vec_id") % 2 === 1), base)
      graft.ops.Similarity.ivfProbeSplit(q, base, delta, k = 5,
          nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // the split probe's per-side top-k merge must reproduce the same
      // global exact top-k (staged exhaustive on both sides)
      simTopKOracleSql),
      discontinuity = Some("r10: new query")),

    QueryDef("q_ann_ivf_compact", (s, d) => {
      // crash-safe delta COMPACTION certified exactly
      // (ops.IndexStore.compactIvfDeltas): the session-cached artifact
      // folded the odd-half delta partition into a committed generation
      // and LEFT the delta tree on disk — the crash window between the
      // commit marker and the lazy delta cleanup. The WithDelta reader
      // must skip the folded partition (a double-count would insert
      // every odd vector twice into the ranking and shift ranks), and
      // the staged probe (nProbe = nCenters) over the compacted index
      // must equal brute force over the FULL corpus — q_sim_topk's
      // oracle. Crash-before-commit fallback and re-run convergence are
      // CompactionSpec's.
      val (prefix, deltaPath) = compactedIvf(s, d)
      val emb = par(s, t(s, d, "embeddings"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val idx = graft.ops.IndexStore.readIvfIndexWithDelta(s, prefix,
        deltaPath)
      graft.ops.Similarity.ivfProbe(q, idx, k = 5, nProbe = 16)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // compaction: probing the committed generation through the WithDelta
      // reader (folded delta tree still on disk — the crash window) must
      // equal brute force over the full corpus; a double-counted partition
      // would occupy duplicate ranks
      simTopKOracleSql),
      discontinuity = Some("r11: new query")),

    QueryDef("q_ivfpq_append", (s, d) => {
      // the combined tier's append path (ops.Similarity.ivfPqAppend):
      // route the odd half to the even-half index's cells and PQ-encode
      // it against the EXISTING codebooks, then the staged probe
      // (nProbe = nCenters, exhaustive overfetch) must equal brute force
      // over the full corpus — q_sim_topk's oracle — certifying that
      // appended codes decode/score correctly end-to-end. Centroids and
      // codebooks retrain on drift cadence, never per append.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val base = cachedIvfPqHalf(s, d)
      val appended = graft.ops.Similarity.ivfPqAppend(
        base, emb.filter(col("vec_id") % 2 === 1))
      val out = graft.ops.Similarity.ivfPqProbe(qs, appended, emb, k = 5,
          nProbe = 8, overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
        .localCheckpoint(true)
      appended.releaseDelta()
      out
    }, Sql(simTopKOracleSql)),

    QueryDef("q_quantize_int8", (s, d) => {
      // int8 embedding quantization (ops.Similarity.quantizeInt8): the
      // 4x-smaller storage tier for a 100 TB vector store. Codes are
      // integers, so the oracle check is exact: per-vector code sum +
      // dimension + the quantization scale (floor-scaled)
      graft.ops.Similarity.quantizeInt8(par(s, t(s, d, "embeddings")))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x.cast("long"))
            .as("q_sum"),
          size(col("codes")).as("dim"),
          floor(col("q_scale") * 1e9).cast("long").as("scale_1e9"))
    }, Sql(
      // identical double formula on both sides (mn, sc = (mx-mn)/255.0, then
      // round((x-mn)/sc)): IEEE ops in the same order are bit-equal, codes
      // are exact integers, so sum/dim/floor(scale) compare exactly
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, e, list_min(e) AS mn,
        |    (list_max(e) - list_min(e)) / 255.0 AS sc FROM v)
        |SELECT vec_id,
        |  CAST(CASE WHEN sc > 0
        |    THEN list_sum(list_transform(e, x -> round((x - mn) / sc)))
        |    ELSE 0 END AS BIGINT) AS q_sum,
        |  CAST(len(e) AS INTEGER) AS dim,
        |  CAST(floor(sc * 1e9) AS BIGINT) AS scale_1e9
        |FROM s""".stripMargin)),

    QueryDef("q_pq_encode", (s, d) => {
      // product-quantization encode (ops.Similarity.pqEncode): the 32x
      // storage tier below int8 — 8 byte codes + one stored norm per
      // 64-dim vector. Data-row codebooks (pqCodebooksFromRows) make the
      // per-subspace L2 argmin exactly SQL-replayable; codes are
      // integers, exploded to scalar rows for the exact oracle. The
      // trained path (trainPqCodebooks) runs the identical dataflow and
      // is certified by q_pq_probe + PqSpec's recall floor.
      val emb = par(s, t(s, d, "embeddings"))
      val cb = graft.ops.Similarity.pqCodebooksFromRows(emb, m = 8, ksub = 16)
      graft.ops.Similarity.pqEncode(emb, cb)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
    }, Sql(
      // PQ encode with the data-row codebooks: per (vector, subspace) the
      // argmin-L2 code, ties to the smallest code. list_distance is the
      // sqrt of the Spark side's squared-L2 — argmin-equivalent (monotone);
      // exact ties (identical slices) are exactly equal in both engines.
      """WITH cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INTEGER) AS code, embedding
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |sub AS (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER)
        |          AS sub),
        |d AS (SELECT e.vec_id, sub.sub, cb.code,
        |    list_distance(
        |      CAST(list_slice(e.embedding, sub.sub*8+1, sub.sub*8+8)
        |        AS DOUBLE[]),
        |      CAST(list_slice(cb.embedding, sub.sub*8+1, sub.sub*8+8)
        |        AS DOUBLE[])) AS dist
        |  FROM embeddings e CROSS JOIN sub CROSS JOIN cb),
        |r AS (SELECT vec_id, sub, code,
        |    row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY dist, code) AS rn
        |  FROM d)
        |SELECT vec_id, sub, code FROM r WHERE rn = 1""".stripMargin)),

    QueryDef("q_pq_probe", (s, d) => {
      // asymmetric-distance PQ probe (ops.Similarity.pqProbe: the fan-out
      // over byte codes, the broadcast (sub, code) inner-product table
      // join, the per-(query, vector) sum, the window rank — the corpus
      // side never touches a float vector) in its STAGED-FORM
      // certification: m = 1 with the data-row codebooks
      // (pqCodebooksFromRows — SQL-replayable, the q_pq_encode precedent)
      // makes every stage exactly replayable — one code per vector, so
      // the ADC sum is a single deterministic dot product and the oracle
      // recomputes codes, recon_norm, and the ADC cosine bit-for-bit.
      // Deployment (trained m=16 codebooks, 8-way partial sums) stays on
      // q_pq_probe_rerank/q_ivfpq_probe + PqSpec's recall floor.
      val emb = par(s, t(s, d, "embeddings"))
      val cb = graft.ops.Similarity.pqCodebooksFromRows(emb, m = 1, ksub = 16)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.pqProbe(q,
          graft.ops.Similarity.pqEncode(emb, cb), cb, k = 10)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // the m = 1 staged ADC replica: data-row codebooks (16 lowest-id
      // vectors), argmin-L2 code per vector (q_pq_encode's argmin, full
      // 64-dim slices), then the ADC cosine EXACTLY as pqProbe computes it
      // — ip / (sqrt(‖c‖²)·sqrt(‖q‖²)), NOT list_cosine_similarity's
      // ip / sqrt(‖c‖²·‖q‖²) (different rounding); sum order is a single
      // dot product on both sides, so the doubles are bit-equal
      """WITH cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INTEGER) AS code, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |d AS (SELECT e.vec_id, cb.code,
        |    list_distance(CAST(e.embedding AS DOUBLE[]), cb.cv) AS dist
        |  FROM embeddings e CROSS JOIN cb),
        |enc AS (SELECT vec_id, code FROM (
        |    SELECT vec_id, code, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, code) AS rn FROM d) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |      FROM embeddings WHERE vec_id < 10),
        |scored AS (SELECT q.query_id, enc.vec_id,
        |    CASE WHEN list_inner_product(cb.cv, cb.cv) > 0
        |           AND list_inner_product(q.qv, q.qv) > 0
        |      THEN list_inner_product(q.qv, cb.cv)
        |        / (sqrt(list_inner_product(cb.cv, cb.cv))
        |           * sqrt(list_inner_product(q.qv, q.qv)))
        |      ELSE 0.0 END AS cos
        |  FROM q CROSS JOIN enc JOIN cb USING (code)
        |  WHERE q.query_id <> enc.vec_id)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin)),

    QueryDef("q_pq_probe_rerank", (s, d) => {
      // the standard PQ deployment (ops.Similarity.pqProbeRerank: ADC
      // byte scan nominates candidates, exact cosine re-ranks only that
      // set — the float corpus never shuffles) in its STAGED-FORM
      // certification: k·overfetch > corpus size means every ADC
      // candidate survives to the exact re-rank regardless of its
      // (trained-codebook) ADC score, so the full nominate + re-rank
      // code path — through the session-cached TRAINED m=16 codebooks —
      // must equal bruteForceTopK exactly (the q_ivfpq_topk recipe).
      // Deployment overfetch recall stays pinned by PqSpec's floor and
      // q_ivfpq_probe's realistic-parameter probe.
      val (cb, enc) = cachedPq(s, d)
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.pqProbeRerank(q, enc, cb, emb, k = 10,
        overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // exhaustive overfetch → every vector survives ADC nomination →
      // exact re-rank IS brute force (same shape as q_sim_topk at k = 10)
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e WHERE q.query_id <> e.vec_id)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin)),

    QueryDef("q_random_project", (s, d) => {
      // Johnson-Lindenstrauss random projection (ops.Similarity
      // .randomProject): 64-d float embeddings down to 8 dims through the
      // md5-seeded ±1 Achlioptas matrix — one codegen'd add/subtract
      // chain per output dim, no shuffle; the oracle replays the exact
      // same sign literals and left-associated sum
      graft.ops.Similarity.randomProject(
        t(s, d, "embeddings"), inDim = 64, outDim = 8)
    }, Sql(
      // the oracle replays the EXACT sign literals and left-associated
      // double sum the Spark expression evaluates (signs from rpSign)
      rpOracleSql(inDim = 64, outDim = 8, seed = "rp"))),

    QueryDef("q_hard_negatives", (s, d) => {
      // hard-negative mining (ops.Similarity.hardNegatives): top-5
      // most-similar DIFFERENT-label corpus vectors per labeled query —
      // the contrastive-training pair miner; brute-force neighbor source
      // here, ANN/IVF via hardNegativesFrom at scale
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label"))
      graft.ops.Similarity.hardNegatives(qs, emb, k = 5)
    }, Sql(
      // q_knn_classify's neighbor CTE with the different-label predicate —
      // null labels excluded on BOTH sides, exactly as the operator does
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 10 AND label IS NOT NULL),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e
        |  WHERE q.query_id <> e.vec_id AND e.label IS NOT NULL
        |    AND e.label <> q.ql)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin)),

    QueryDef("q_hard_negatives_from", (s, d) => {
      // the rerank stage certified separately (ops.Similarity
      // .hardNegativesFrom): exhaustive brute-force candidates (k =
      // corpus size) make the staged form equal the one-shot by
      // construction — SAME ORACLE as q_hard_negatives, the
      // build/probe certification pattern
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label"))
      val cands = graft.ops.Similarity.bruteForceTopK(
        qs.select("query_id", "embedding"), emb, k = 1 << 20)
      graft.ops.Similarity.hardNegativesFrom(cands, qs, emb, k = 5)
    }, Sql(
      // IDENTICAL SQL to q_hard_negatives: exhaustive candidates make the
      // staged rerank equal the one-shot form by construction
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 10 AND label IS NOT NULL),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e
        |  WHERE q.query_id <> e.vec_id AND e.label IS NOT NULL
        |    AND e.label <> q.ql)
        |SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin)),

    QueryDef("q_ivfpq_topk", (s, d) => {
      // the combined IVF-PQ tier (ops.Similarity.ivfPqProbe) in its
      // STAGED-FORM certification: nProbe = nCenters (all cells probed)
      // and k·overfetch > corpus size (every ADC candidate survives to
      // the exact re-rank), so the full cell-routing + byte-scan +
      // re-rank code path must reproduce brute force EXACTLY — SAME
      // oracle as q_sim_topk (the q_hard_negatives_from pattern)
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.ivfPqProbe(qs, cachedIvfPq(s, d), emb, k = 5,
          nProbe = 8, overfetch = 1 << 18)
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // ---- round 7 -----------------------------------------------------
      // the staged-form IVF-PQ identity rides brute force's exact oracle
      // (all cells probed + exhaustive overfetch == bruteForceTopK by
      // construction, through the REAL probe code path)
      simTopKOracleSql)),

    QueryDef("q_nsw_topk", (s, d) => {
      // the graph-ANN tier (ops.Similarity.nswSearch over the cached
      // single-layer NSW graph) in its STAGED-FORM certification:
      // entries = the whole corpus with ef > corpus size scores every
      // node up front, so the full score/dedup/prune/rank code path —
      // one beam hop included — must equal bruteForceTopK — SAME oracle
      // as q_sim_topk (the q_ivfpq_topk recipe). Deployment parameters
      // live on q_nsw_probe + the Round8bOpsSpec recall floor.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.nswSearch(qs, cachedNsw(s, d), emb, k = 5,
          ef = 1 << 18, hops = 1, entries = Some(emb.select("vec_id")))
        .select("query_id", "vec_id", "rank")
    }, Sql(simTopKOracleSql)),

    QueryDef("q_nsw_topk_persisted", (s, d) => {
      // the CROSS-SESSION deployment shape of the graph tier
      // (q_bm25_probe_persisted's recipe): the NSW graph written to
      // bucketed tables (IndexStore, edges on src) and read back from
      // disk — the staged search (entries = corpus, ef > n, one hop
      // through the RELOADED adjacency) runs against the on-disk
      // artifact and the SAME exact oracle as q_nsw_topk certifies
      // write -> read -> search.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.nswSearch(qs, persistedNsw(s, d), emb, k = 5,
          ef = 1 << 18, hops = 1, entries = Some(emb.select("vec_id")))
        .select("query_id", "vec_id", "rank")
    }, Sql(
      // write -> read -> staged search over the reloaded on-disk graph
      simTopKOracleSql)),

    QueryDef("q_nsw_append", (s, d) => {
      // graph-tier index MAINTENANCE (ops.Similarity.nswAppend — HNSW
      // insertion as ONE batch beam search + bidirectional connect) in
      // the STAGED FORM: entries = the whole corpus with exhaustive ef
      // makes the neighbor search exact brute-force top-m by
      // construction, so the appended edge set (forward + back-edges)
      // replays in SQL as top-8-cosine per batch vector plus its mirror
      // — certifying the insertion path end-to-end through the real
      // search/connect code. Deployment-parameter appends (ef 32,
      // 3 hops) are pinned by planted-duplicate reachability in
      // Round9cOpsSpec; the base graph stays session-cached (build
      // cadence) while the append runs per execution (append cadence).
      val emb = par(s, t(s, d, "embeddings"))
      val batch = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      val appended = graft.ops.Similarity.nswAppend(cachedNsw(s, d),
        batch, emb, m = 8, ef = 1 << 18, hops = 0,
        entries = Some(emb.select(col("vec_id"))))
      val out = appended.edges
        .filter(col("src") >= 1000000L || col("dst") >= 1000000L)
        .localCheckpoint(true)
      appended.releaseDelta() // per-execution artifact; base is cached
      out
    }, Sql(
      // staged nswAppend: the appended edge set is exact brute-force top-8
      // per batch vector (entries = corpus, exhaustive ef) plus its mirror
      """WITH b AS (
        |  SELECT vec_id + 1000000 AS bid, embedding FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |scored AS (
        |  SELECT b.bid, e.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM b, embeddings e),
        |nn AS MATERIALIZED (
        |  SELECT bid, vec_id FROM (
        |    SELECT bid, vec_id, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, vec_id) AS rn FROM scored)
        |  WHERE rn <= 8)
        |SELECT bid AS src, vec_id AS dst FROM nn
        |UNION
        |SELECT vec_id AS src, bid AS dst FROM nn""".stripMargin)),

    QueryDef("q_nsw_drift", (s, d) => {
      // the graph tier's rebuild-cadence signal (ops.Similarity
      // .nswDriftReport — the q_ivf_drift/q_bm25_drift sibling) made
      // EXACT via the staged search seam: the index adjacency is a
      // deterministic RING over the 1-in-10 sample (whose edge COUNT —
      // the only thing the report reads from it — replays as one SQL
      // count), the arriving batch is the disjoint offset-5 sample, and
      // the insertion search runs STAGED (entries = whole corpus,
      // exhaustive ef, 0 hops) so the found set is exact brute-force
      // top-8 — n_new_edges replays as q_nsw_append's forward ∪ mirror
      // count, reach/growth as HUGEINT floor-divisions, and the REBUILD
      // decision itself is oracle-certified. Deployment-parameter drift
      // (real beam search over the k-means graph) is spec-pinned in
      // CompactionSpec.
      val emb = t(s, d, "embeddings")
      val sample = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
      val ring = sample
        .agg(array_sort(collect_list(col("vec_id"))).as("_a"))
        .select(col("_a"), posexplode(col("_a")).as(Seq("_i", "src")))
        .select(col("src"), element_at(col("_a"),
          ((col("_i") + 1) % size(col("_a"))) + 1).as("dst"))
      val idx = graft.ops.Similarity.NswIndex(ring, sample)
      val batch = emb.filter(col("vec_id") % 10 === 5)
        .withColumn("vec_id", col("vec_id") + 1000000L)
      graft.ops.Similarity.nswDriftReport(idx, batch, emb, m = 8,
        ef = 1 << 18, hops = 0, entries = Some(emb.select("vec_id")))
    }, Sql(
      // the graph drift report over the STAGED insertion search: found =
      // exact brute-force top-8 per batch vector (q_nsw_append's nn CTE on
      // the offset-5 sample), n_new_edges = the deduped forward ∪ mirror
      // count, n_index_edges = the ring's size (one edge per sampled id),
      // reach/growth as HUGEINT floor-divisions, then the rebuild decision
      """WITH b AS MATERIALIZED (
        |  SELECT vec_id + 1000000 AS bid, embedding FROM embeddings
        |  WHERE vec_id % 10 = 5),
        |scored AS (
        |  SELECT b.bid, e.vec_id,
        |    list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM b, embeddings e),
        |nn AS MATERIALIZED (
        |  SELECT bid, vec_id FROM (
        |    SELECT bid, vec_id, row_number() OVER (PARTITION BY bid
        |      ORDER BY cos DESC, vec_id) AS rn FROM scored)
        |  WHERE rn <= 8),
        |edges AS (
        |  SELECT bid AS src, vec_id AS dst FROM nn
        |  UNION
        |  SELECT vec_id AS src, bid AS dst FROM nn),
        |cnt AS (SELECT
        |    (SELECT count(*) FROM b) AS n_batch,
        |    (SELECT count(DISTINCT bid) FROM nn) AS n_reached,
        |    (SELECT count(*) FROM edges) AS n_new_edges,
        |    (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)
        |      AS n_index_edges),
        |u6 AS (SELECT n_batch, n_reached, n_new_edges, n_index_edges,
        |    CASE WHEN n_batch > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT) * n_reached)
        |        // CAST(n_batch AS HUGEINT) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS reach_u6,
        |    CASE WHEN n_index_edges + n_new_edges > 0 THEN
        |      CAST((CAST(1000000 AS HUGEINT) * n_new_edges)
        |        // (CAST(n_index_edges AS HUGEINT) + n_new_edges)
        |        AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS growth_u6
        |  FROM cnt)
        |SELECT n_batch, n_reached, n_new_edges, n_index_edges,
        |  n_index_edges AS n_built_edges, reach_u6, growth_u6,
        |  (n_batch > 0 AND reach_u6 < 990000) OR growth_u6 >= 250000
        |    AS degrade
        |FROM u6""".stripMargin),
      discontinuity = Some("r11: new query")),

    QueryDef("q_nsw_probe", (s, d) => {
      // the same graph at DEPLOYMENT parameters: beam from the nCenters
      // cell gateways, ef = 32, 3 hops — per hop only the (queries × ef)
      // frontier broadcasts against the adjacency and only new nodes
      // fetch a vector. Rows-only (graph reachability is approximate by
      // construction); Round8bOpsSpec pins the recall floor vs
      // bruteForceTopK and a planted must-hop graph golden.
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.nswSearch(qs, cachedNsw(s, d), emb, k = 5,
          ef = 32, hops = 3)
        .select("query_id", "vec_id", "rank")
    }, NoOracle("graph reachability is approximate; Round8bOpsSpec pins the " +
      "recall floor")),

    QueryDef("q_ivfpq_probe", (s, d) => {
      // the same index at DEPLOYMENT parameters (nProbe 4 of 8 cells,
      // 3x overfetch): the plan a billion-vector store actually runs —
      // rows-only (approximate by design); Round7bOpsSpec pins the
      // recall floor against bruteForceTopK
      val emb = par(s, t(s, d, "embeddings"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ops.Similarity.ivfPqProbe(qs, cachedIvfPq(s, d), emb, k = 5,
          nProbe = 4, overfetch = 3)
        .select("query_id", "vec_id", "rank")
    }, NoOracle("approximate by design at deployment parameters; " +
      "Round7bOpsSpec pins the recall floor")),

    QueryDef("q_emb_moments", (s, d) => {
      // exact integer covariance sufficient statistics (ops.Similarity
      // .embeddingMoments): quantize-first (float*1e6 is exact in
      // double), then every sum is integer-exact and ORDER-INDEPENDENT
      // — upper-triangle (i<=j) pair stream collapsed by map-side agg
      graft.ops.Similarity.embeddingMoments(
        t(s, d, "embeddings").filter(col("vec_id") < 2000),
        dim = 64)
    }, Sql(
      // quantize-first (round(x*1e6) exact in double), then integer sums:
      // the one covariance formulation that is order-independent
      """WITH base AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
        |  FROM embeddings
        |  WHERE vec_id < 2000 AND embedding IS NOT NULL
        |    AND len(embedding) = 64),
        |pairs AS (
        |  SELECT s.i AS i, u.j AS j, q[s.i] AS xi, q[u.j] AS xj
        |  FROM base, generate_series(1, 64) s(i),
        |    generate_series(1, 64) u(j)
        |  WHERE u.j >= s.i)
        |SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
        |  count(*) AS n,
        |  CAST(sum(xi) AS BIGINT) AS s_i,
        |  CAST(sum(xj) AS BIGINT) AS s_j,
        |  CAST(sum(xi * xj) AS BIGINT) AS s_ij
        |FROM pairs GROUP BY 1, 2""".stripMargin)),

    QueryDef("q_pca_project", (s, d) => {
      // PCA projection in the STAGED-FORM certification: the REAL
      // pcaProject code path (k=4 zip_with/aggregate dot chains over the
      // full 64-dim array, posexplode long form) against a caller-
      // supplied LITERAL orthonormal basis — Hadamard H4 rows / 2
      // (entries ±0.5) over disjoint coordinate quadruples, zero mean.
      // Inputs are pre-quantized onto the 2^-4 lattice (floor(x*16)/16,
      // exact in both engines), so every product is a multiple of 2^-5,
      // the left-to-right fold is IEEE-exact, and round(·, 6) is the
      // identity (5-dp values) — the projection replays term-for-term in
      // SQL. The Jacobi FIT stays covered by Round7eOpsSpec (planted
      // rank recovery, orthonormality, eigenvalue order) and its
      // sufficient statistics by q_emb_moments' exact oracle; deployment
      // runs pcaFit -> pcaProject with this identical projection chain.
      val h4 = Array(Array(1, 1, 1, 1), Array(1, -1, 1, -1),
        Array(1, 1, -1, -1), Array(1, -1, -1, 1))
      val comps = Array.tabulate(4) { j =>
        val v = new Array[Double](64)
        (0 until 4).foreach(i => v(16 * j + i) = 0.5 * h4(j)(i))
        v
      }
      val model = graft.ops.Similarity.PcaModel(dim = 64, k = 4,
        mean = new Array[Double](64), components = comps,
        eigenvalues = Array(4.0, 3.0, 2.0, 1.0))
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 2000)
        .withColumn("embedding", transform(col("embedding"),
          x => floor(x.cast("double") * 16) / 16))
      graft.ops.Similarity.pcaProject(emb, model)
    }, Sql(
      // the staged literal-basis projection replayed term-for-term: each
      // component j reads its coordinate quadruple (p+1..p+4, 1-based)
      // with the H4 sign pattern; (s*q)/2 equals the kernel's q*(±0.5)
      // exactly (negation and halving are IEEE-exact), the leading
      // CAST(0 AS DOUBLE) mirrors the fold's +0.0 init (so a -0.0 never
      // survives), and round(·,6) is the identity on the 2^-5 lattice
      """WITH q AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 2000 AND embedding IS NOT NULL
        |    AND len(embedding) = 64
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |t AS (
        |  SELECT vec_id, c.j AS component,
        |    ((((CAST(0 AS DOUBLE)
        |      + (c.s1 * (floor(CAST(embedding[c.p + 1] AS DOUBLE) * 16)
        |                 / 16) / 2))
        |      + (c.s2 * (floor(CAST(embedding[c.p + 2] AS DOUBLE) * 16)
        |                 / 16) / 2))
        |      + (c.s3 * (floor(CAST(embedding[c.p + 3] AS DOUBLE) * 16)
        |                 / 16) / 2))
        |      + (c.s4 * (floor(CAST(embedding[c.p + 4] AS DOUBLE) * 16)
        |                 / 16) / 2)) AS v
        |  FROM q, (VALUES (0, 0, 1, 1, 1, 1), (1, 16, 1, -1, 1, -1),
        |                  (2, 32, 1, 1, -1, -1), (3, 48, 1, -1, -1, 1))
        |       AS c(j, p, s1, s2, s3, s4))
        |SELECT vec_id, CAST(component AS INTEGER) AS component,
        |  round(v, 6) AS value
        |FROM t""".stripMargin),
      discontinuity = Some("r9: measures projection only (fit moved to spec " +
        "coverage)"))
  )
}
