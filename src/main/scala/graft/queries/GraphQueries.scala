package graft.queries

import graft.SparkEntry._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph queries: components, PageRank variants, label propagation,
  * k-core, triangles and modularity, over the author graph or the
  * md5-random document graph.
  */
object GraphQueries {

  /** Deterministic md5-random test graph on 97 vertices, one edge per
    * document, endpoints from two independent md5 lattices. A polynomial
    * derivation like (doc_id % 97, (7·doc_id+3) % 97) would make dst a
    * pure function of src — a triangle-free functional permutation — so
    * the endpoints must hash doc_id, not its residue.
    */
  private def mdGraph(docs: DataFrame): DataFrame =
    docs.select(
      (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 97).as("src"),
      (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":t"))),
        1, 8), 16, 10).cast("long") % 97).as("dst"))

  /** The q_triangle_counts / q_clustering_coeff edge CTE — the DuckDB
    * twin of [[mdGraph]] (same md5 lattice, same 97-vertex space).
    */
  private def mdGraphSql: String =
    "raw AS (SELECT " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
      "AS BIGINT) % 97 AS s, " +
      "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':t'), 1, 8)) " +
      "AS BIGINT) % 97 AS t FROM documents)"

  /** q_k_core oracle depth: far above the observed peel rounds (≤ 5 at
    * every SF on the 97-vertex md5 graph); extra rounds idle on the
    * converged core, so overshoot is free correctness margin.
    */
  private val KcoreOracleRounds = 24

  /** Unrolled FIXED-POINT PageRank rounds (the GraphOps scale seam,
    * S = 1e6): expects prologue CTEs `edges(src, dst, w)` (symmetrized,
    * duplicates preserved), `deg(src, wdeg)` and `verts(v)`; emits
    * r0..rN replaying powerIterate's integer recurrence verbatim —
    * per-edge (rank·w) // wdeg, damp as (85·Σ) // 100, reset re-added
    * each round. `resetSql` is the per-vertex scaled reset expression
    * over `verts.v` (e.g. "150000" for the uniform 0.15·1e6).
    */
  private def fpRankRoundsSql(rounds: Int, resetSql: String): String = {
    // each round is referenced once by the next, but MATERIALIZED keeps
    // DuckDB 1.0 from inlining the whole chain (and edges/deg/verts,
    // referenced every round, must be materialized in the prologue)
    val r0 = s"r0 AS MATERIALIZED (SELECT verts.v AS v,\n" +
      s"  CAST($resetSql AS HUGEINT) AS rnk FROM verts)"
    val steps = (1 to rounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT verts.v AS v,
         |    CAST($resetSql AS HUGEINT)
         |      + (85 * coalesce(c.s, 0)) // 100 AS rnk
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, sum((pr.rnk * e.w) // d.wdeg) AS s
         |    FROM edges e JOIN deg d ON d.src = e.src
         |      JOIN r${i - 1} pr ON pr.v = e.src
         |    GROUP BY 1) c ON c.v = verts.v)""".stripMargin
    }
    (r0 +: steps).mkString(",\n")
  }

  /** q_author_rank / q_author_rank_weighted oracles: replay the star (or
    * capped-pair) co-supplier edge construction over VARCHAR keys (the
    * op compares uuids as STRINGS — min/inequality must be lexicographic
    * here too), then the unrolled fixed-point rounds.
    */
  private def authorRankOracleSql: String =
    s"""WITH mem AS (SELECT CAST(l_orderkey AS VARCHAR) AS o,
       |    CAST(l_suppkey AS VARCHAR) AS m
       |  FROM lineitem WHERE l_orderkey <= 1000),
       |hub AS (SELECT o, min(m) AS h FROM mem GROUP BY 1),
       |star AS (SELECT DISTINCT h AS src, m AS dst
       |  FROM mem JOIN hub USING (o) WHERE m <> h),
       |edges AS MATERIALIZED (SELECT src, dst, 1 AS w FROM star
       |  UNION ALL SELECT dst, src, 1 FROM star),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT m AS v FROM mem),
       |${fpRankRoundsSql(8, "150000")}
       |SELECT CAST(v AS BIGINT) AS supp_key,
       |  CAST(rnk AS BIGINT) AS rank_fp6 FROM r8""".stripMargin

  private def authorRankWeightedOracleSql: String =
    s"""WITH mem AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS o,
       |    CAST(l_suppkey AS VARCHAR) AS m
       |  FROM lineitem WHERE l_orderkey <= 1000),
       |sizes AS (SELECT o, count(*) AS k FROM mem GROUP BY 1),
       |small AS (SELECT mem.o, mem.m FROM mem JOIN sizes USING (o)
       |          WHERE k <= 100),
       |prs AS (SELECT a.m AS ma, b.m AS mb, count(*) AS w
       |  FROM small a JOIN small b ON a.o = b.o AND a.m < b.m
       |  GROUP BY 1, 2),
       |big AS (SELECT mem.o, mem.m FROM mem JOIN sizes USING (o)
       |        WHERE k > 100),
       |bighub AS (SELECT o, min(m) AS h FROM big GROUP BY 1),
       |bigstar AS (SELECT DISTINCT h AS ma, m AS mb
       |  FROM big JOIN bighub USING (o) WHERE m <> h),
       |half AS (SELECT ma, mb, w FROM prs
       |  UNION ALL SELECT ma, mb, 1 AS w FROM bigstar),
       |edges AS MATERIALIZED (SELECT ma AS src, mb AS dst, w FROM half
       |  UNION ALL SELECT mb, ma, w FROM half),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT m AS v FROM mem),
       |${fpRankRoundsSql(8, "150000")}
       |SELECT CAST(v AS BIGINT) AS supp_key,
       |  CAST(rnk AS BIGINT) AS rank_fp6 FROM r8""".stripMargin

  /** q_ppr oracle: the md5-random edge list with DUPLICATES preserved
    * (rankUndirected never dedups — each parallel edge carries weight),
    * teleport mass 0.15·1e6 on {0,1,2} only, 20 unrolled rounds.
    */
  private def pprOracleSql: String =
    s"""WITH $mdGraphSql,
       |e0 AS (SELECT s AS a, t AS b FROM raw WHERE s <> t),
       |edges AS MATERIALIZED (SELECT a AS src, b AS dst, 1 AS w FROM e0
       |  UNION ALL SELECT b, a, 1 FROM e0),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0
       |  UNION ALL SELECT unnest([0, 1, 2])) x),
       |${fpRankRoundsSql(20,
          "CASE WHEN verts.v IN (0, 1, 2) THEN 150000 ELSE 0 END")}
       |SELECT CAST(v AS BIGINT) AS vertex,
       |  CAST(rnk AS BIGINT) AS rank_fp6 FROM r20""".stripMargin

  /** q_textrank oracle: the pmi-collocation tokenization builds the
    * co-occurrence graph (prev <> term, count >= 2), 20 unrolled
    * fixed-point rounds, top-20 on (textrank DESC, term).
    */
  private def textrankOracleSql: String =
    s"""WITH toks AS (SELECT w[i] AS term,
       |    CASE WHEN i > 1 THEN w[i-1] END AS prev
       |  FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
       |        FROM documents) t,
       |  LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
       |  WHERE w[i] <> ''),
       |pc AS (SELECT prev, term, count(*) AS w FROM toks
       |  WHERE prev IS NOT NULL AND prev <> term GROUP BY 1, 2
       |  HAVING count(*) >= 2),
       |edges AS MATERIALIZED (SELECT prev AS src, term AS dst, w FROM pc
       |  UNION ALL SELECT term, prev, w FROM pc),
       |deg AS MATERIALIZED (SELECT src, sum(w) AS wdeg FROM edges
       |  GROUP BY 1),
       |verts AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT prev AS v FROM pc UNION ALL SELECT term FROM pc) x),
       |${fpRankRoundsSql(20, "150000")}
       |SELECT CAST(v AS VARCHAR) AS term,
       |  CAST(rnk AS BIGINT) AS textrank FROM r20
       |ORDER BY textrank DESC, term LIMIT 20""".stripMargin

  /** Unrolled synchronous label propagation over [[mdGraphSql]] — one CTE
    * level per round, each replaying labelPropagation's integer recipe
    * exactly: neighbor votes + one self-vote, count, argmax with
    * (count DESC, community ASC) tie-break. Rounds at-or-past the op's
    * early-exit fixpoint are identity, so any `rounds` >= the op's
    * maxIter-capped round count replays the result bit-for-bit.
    */
  private def lpaOracleSql(rounds: Int): String = {
    // AS MATERIALIZED: DuckDB 1.0 inlines CTEs by default, and each
    // round references the previous label table twice — inlining would
    // double the expression tree per round (2^rounds blowup)
    val head =
      s"""WITH $mdGraphSql,
         |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
         |      FROM raw WHERE s <> t),
         |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |  UNION ALL SELECT b, a FROM e),
         |lab0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, u AS community
         |  FROM sym)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""lab$r AS MATERIALIZED (SELECT vertex, community FROM (
         |  SELECT vertex, community, row_number() OVER (
         |      PARTITION BY vertex ORDER BY n DESC, community) AS rn
         |  FROM (SELECT vertex, community, count(*) AS n FROM (
         |      SELECT s.u AS vertex, l.community
         |      FROM sym s JOIN lab${r - 1} l ON l.vertex = s.v
         |      UNION ALL SELECT vertex, community FROM lab${r - 1}) v
         |    GROUP BY 1, 2) c) WHERE rn = 1)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT CAST(vertex AS BIGINT) AS vertex," +
      s"\n  CAST(community AS BIGINT) AS community FROM lab$rounds"
  }

  /** Unrolled k-core peeling over [[mdGraphSql]]: per level, keep the
    * vertices of canonical degree >= k, restrict edges to kept×kept —
    * kCore's loop verbatim. Peeling is monotone (a converged core maps
    * to itself), so any `rounds` >= the op's convergence count is exact.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED on every level: each e/k level is referenced 2-3
    // times by the next — DuckDB 1.0's default inlining would make the
    // plan tree exponential in the round count
    val head =
      s"""WITH $mdGraphSql,
         |e0 AS MATERIALIZED (SELECT DISTINCT least(s, t) AS a,
         |       greatest(s, t) AS b FROM raw WHERE s <> t)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM e${r - 1}
         |    UNION ALL SELECT b FROM e${r - 1}) x
         |  GROUP BY v HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT v AS vertex, count(*) AS core_degree
         |FROM (SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds) x
         |GROUP BY v""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_author_rank", (s, d) => {
      // co-supplier PageRank (graph.GraphOps.authorRank): star-edge
      // centrality over the same bipartite graph as q_graph_components.
      // EXACT oracle via the FIXED-POINT seam (scale = 1e6): every round
      // is integer (rank·w) DIV wdeg + (85·Σ) DIV 100, so the 8 rounds
      // unroll to 8 SQL CTE levels bit-for-bit — the iterative-rank
      // family's staged-form certification. 8 fixed rounds in
      // run-exactly-N mode (tol=0 skips the per-round convergence
      // query); GraphAndStreamSpec additionally pins the double-mode
      // dataflow against a reference implementation.
      val supplierOrders = par(s, t(s, d, "lineitem"))
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_suppkey").cast("string").as("src"),
          col("l_orderkey").cast("string").as("dst"))
      graft.graph.GraphOps.authorRank(supplierOrders, tol = 0.0,
        maxIter = 8, scale = Some(1000000L))
        .select(col("author_uuid").cast("long").as("supp_key"),
          col("pagerank").as("rank_fp6"))
    }, Sql(
      // fixed-point PageRank family (the GraphOps scale = 1e6 seam):
      // integer rounds unroll to CTE levels bit-for-bit
      authorRankOracleSql)),

    QueryDef("q_author_rank_weighted", (s, d) => {
      // true co-occurrence weights (#shared orders per supplier pair),
      // k^2 pair join capped per order group (GraphOps.authorRankWeighted)
      // — same fixed-point seam and unrolled exact oracle as
      // q_author_rank, with the count weights riding the integer rounds
      val supplierOrders = par(s, t(s, d, "lineitem"))
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_suppkey").cast("string").as("src"),
          col("l_orderkey").cast("string").as("dst"))
      graft.graph.GraphOps.authorRankWeighted(supplierOrders, tol = 0.0,
        maxIter = 8, maxGroupSize = 100, scale = Some(1000000L))
        .select(col("author_uuid").cast("long").as("supp_key"),
          col("pagerank").as("rank_fp6"))
    }, Sql(authorRankWeightedOracleSql)),

    QueryDef("q_graph_components", (s, d) => {
      // co-supplier graph: suppliers linked when they supply the same
      // order (the co-authorship connected-components analogue). Keys are
      // zero-padded so the component label (min member key, a string min)
      // agrees with numeric min — letting the oracle replay the components
      // as a recursive-CTE reachability fixpoint.
      val supplierOrders = par(s, t(s, d, "lineitem")).select(
        lpad(col("l_suppkey").cast("string"), 10, "0").as("src"),
        col("l_orderkey").cast("string").as("dst"))
      graft.graph.GraphOps.coauthorComponents(supplierOrders)
        .select(col("author_uuid").cast("long").as("supp_key"),
          col("component_id").cast("long").as("component_id"))
    }, Sql(
      """WITH RECURSIVE co AS (
        |  SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey),
        |reach(x, y) AS (
        |  SELECT x, y FROM co
        |  UNION
        |  SELECT r.x, c.y FROM reach r JOIN co c ON r.y = c.x)
        |SELECT CAST(x AS BIGINT) AS supp_key,
        |  CAST(min(y) AS BIGINT) AS component_id
        |FROM reach GROUP BY x""".stripMargin)),

    QueryDef("q_triangle_counts", (s, d) => {
      // per-vertex triangle counts (graph.GraphOps.triangleCounts) over a
      // deterministic md5-random graph on 97 vertices (~|docs| edges —
      // triangle-rich; a mod-97 polynomial derivation would make dst a
      // function of src and the graph a triangle-free permutation) —
      // degree-ordered orientation caps the wedge join at O(m^1.5); the
      // oracle enumerates a<b<c triangles directly
      graft.graph.GraphOps.triangleCounts(mdGraph(t(s, d, "documents")))
    }, Sql(
      // direct a<b<c triangle enumeration (the oracle needs no degree
      // orientation; the triangle SET is orientation-invariant)
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT vertex, count(*) AS n_triangles
        |FROM (SELECT unnest([u, v, w]) AS vertex FROM tri) x
        |GROUP BY 1""".stripMargin)),

    QueryDef("q_clustering_coeff", (s, d) => {
      // local clustering coefficient (graph.GraphOps
      // .clusteringCoefficient) over the same md5-random graph as
      // q_triangle_counts — exact integer (n_triangles, n_wedges)
      // fraction per vertex, every vertex reported
      graft.graph.GraphOps.clusteringCoefficient(
        mdGraph(t(s, d, "documents")))
    }, Sql(
      // same md5-random graph as q_triangle_counts; integer division (//)
      // mirrors the Spark shiftright
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |deg AS (SELECT v, count(*) AS degree FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) x
        |  GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tc AS (SELECT vertex, count(*) AS n_triangles
        |  FROM (SELECT unnest([u, v, w]) AS vertex FROM tri) x
        |  GROUP BY 1)
        |SELECT deg.v AS vertex, deg.degree,
        |  coalesce(tc.n_triangles, 0) AS n_triangles,
        |  CAST((deg.degree * (deg.degree - 1)) // 2 AS BIGINT) AS n_wedges
        |FROM deg LEFT JOIN tc ON tc.vertex = deg.v""".stripMargin)),

    QueryDef("q_k_core", (s, d) => {
      // k-core decomposition (graph.GraphOps.kCore): the dense core of
      // the md5-random graph after iteratively peeling sub-5-degree
      // vertices. EXACT oracle: the peel is integer degree-filtering, so
      // it unrolls to KcoreOracleRounds CTE levels (overshoot idles on
      // the converged core); Round6bOpsSpec pins multi-round peeling
      graft.graph.GraphOps.kCore(mdGraph(t(s, d, "documents")), k = 5)
    }, Sql(
      // k-core peeling is integer degree-filtering to a fixpoint; the
      // unrolled levels overshoot the op's data-dependent round count and
      // idle on the converged core. KcoreOracleRounds = 24 vs <= 5
      // observed peel rounds at every driver SF; if a future SF ever
      // needed more, the end-to-end DuckDB compare would fail loudly
      // (an unconverged oracle core differs from the op's fixpoint)
      // rather than silently pass.
      kCoreOracleSql(k = 5, rounds = KcoreOracleRounds))),

    QueryDef("q_label_propagation", (s, d) => {
      // community detection (graph.GraphOps.labelPropagation) over the
      // md5-random graph: synchronous min-tie-break LPA with self-vote
      // damping. EXACT oracle: every round is integer votes + integer
      // tie-break, so the 10 rounds unroll to 10 CTE levels (post-
      // convergence rounds are identity — round counts need not agree);
      // Round6cOpsSpec pins planted communities and the tie-break
      graft.graph.GraphOps.labelPropagation(
        mdGraph(t(s, d, "documents")), maxIter = 10)
    }, Sql(
      // synchronous min-tie-break LPA is pure integer arithmetic (labels
      // are vertex ids, votes are counts), so the 10 rounds unroll to 10
      // CTE levels; rounds past the op's early exit re-apply a fixpoint
      // and change nothing, so round counts need not agree
      lpaOracleSql(rounds = 10))),

    QueryDef("q_textrank", (s, d) => {
      // TextRank keywords (ops.TextAnalysis.textRankKeywords): word
      // co-occurrence graph -> weighted PageRank (graph.GraphOps
      // .pageRank, run-exactly-20 mode: the word graph is
      // vocabulary-sized, so bench cost is per-round overhead and 20
      // rounds sit well past convergence) -> top-20 terms. EXACT oracle
      // via the fixed-point seam (scale = 1e6): graph build, rounds,
      // and the (textrank DESC, term) top-k tie-break are all integer;
      // Round6dOpsSpec pins the double mode's planted hub graph and
      // the generic pageRank's closed-form star
      graft.ops.TextAnalysis.textRankKeywords(
        par(s, t(s, d, "documents")), k = 20, minCount = 2, maxIter = 20,
        scale = Some(1000000L))
    }, Sql(textrankOracleSql)),

    QueryDef("q_ppr", (s, d) => {
      // personalized PageRank (graph.GraphOps.pageRankPersonalized):
      // teleport mass only on vertices {0,1,2} of the md5-random graph
      // — proximity-to-topic ranking. EXACT oracle via the fixed-point
      // seam (scale = 1e6): the teleport vector is built integrally and
      // the 20 rounds unroll to SQL; Round6fOpsSpec pins double-mode
      // source-component locality and the closed-form 2-path
      val g = mdGraph(t(s, d, "documents"))
      graft.graph.GraphOps.pageRankPersonalized(
        g, g.sparkSession.range(3).toDF("v"), tol = 0.0, maxIter = 20,
        scale = Some(1000000L))
        .select(col("vertex"), col("pagerank").as("rank_fp6"))
    }, Sql(pprOracleSql)),

    QueryDef("q_modularity", (s, d) => {
      // per-community modularity PARTS (graph.GraphOps.modularityParts)
      // over the md5-random graph with the deterministic vertex%10
      // labeling — the integer sufficient statistics (e_c, d_c) of Q,
      // exact-oracled so community QUALITY is certifiable independently
      // of the detector (LPA itself is also exact-oracled — unrolled)
      val g = mdGraph(t(s, d, "documents"))
      val verts = g.select(col("src").as("vertex"))
        .union(g.select(col("dst"))).distinct()
      graft.graph.GraphOps.modularityParts(g,
        verts.withColumn("community", col("vertex") % 10))
    }, Sql(
      // the q_triangle_counts md5 graph with the deterministic vertex%10
      // labeling; labels derive from edge ENDPOINTS, so every canonical
      // edge is labeled and the labeled subgraph is the whole graph
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |deg AS (SELECT v % 10 AS community, count(*) AS degree_sum
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) x
        |  GROUP BY 1),
        |intra AS (SELECT a % 10 AS community, count(*) AS n_intra
        |  FROM e WHERE a % 10 = b % 10 GROUP BY 1)
        |SELECT deg.community,
        |  CAST(coalesce(intra.n_intra, 0) AS BIGINT) AS n_intra_edges,
        |  CAST(deg.degree_sum AS BIGINT) AS degree_sum
        |FROM deg LEFT JOIN intra ON deg.community = intra.community"""
        .stripMargin)),

    QueryDef("q_modularity_score", (s, d) => {
      // the folded one-row form (graph.GraphOps.modularity): Q as the
      // exact integer fraction q_num/q_den = (4m·Σe_c − Σd_c²)/4m² —
      // DECIMAL-guarded against BIGINT overflow at real edge counts
      val g = mdGraph(t(s, d, "documents"))
      val verts = g.select(col("src").as("vertex"))
        .union(g.select(col("dst"))).distinct()
      graft.graph.GraphOps.modularity(g,
        verts.withColumn("community", col("vertex") % 10))
    }, Sql(
      // folded integer fraction: q_num = 4m·Σe_c − Σd_c², q_den = 4m²
      // (values far under BIGINT at the 97-vertex fixture; the Spark side
      // DECIMAL-guards real scales)
      s"""WITH $mdGraphSql,
        |e AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        |      FROM raw WHERE s <> t),
        |m AS (SELECT count(*) AS m FROM e),
        |deg AS (SELECT v % 10 AS community, count(*) AS ds
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) x
        |  GROUP BY 1),
        |si AS (SELECT count(*) AS si FROM e WHERE a % 10 = b % 10),
        |sd AS (SELECT CAST(sum(ds * ds) AS BIGINT) AS sd2 FROM deg)
        |SELECT CAST(m.m AS BIGINT) AS m, CAST(si.si AS BIGINT) AS sum_intra,
        |  CAST(4 * m.m * si.si - sd.sd2 AS BIGINT) AS q_num,
        |  CAST(4 * m.m * m.m AS BIGINT) AS q_den
        |FROM m, si, sd""".stripMargin))
  )
}
