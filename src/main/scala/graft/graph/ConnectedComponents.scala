package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-native connected components via the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", ACM SoCC 2014): O(log² n) rounds, each round
  * two hash-shuffle aggregations + equi-joins, no RDD handoff.
  *
  * Why this instead of GraphX Pregel for the engine's clustering paths
  * (dedup clusters, co-contributor components): GraphX is correct and
  * scale-safe, but it exits Catalyst — the edge list must be materialized
  * into RDDs up front (`localCheckpoint` + `.rdd`), every superstep pays
  * Pregel's fixed join overhead, and the result has to be lifted back into
  * a DataFrame. This formulation stays in Catalyst end-to-end: AQE
  * coalesces/splits the (hub-skewed) groupBy partitions, shuffles carry
  * 16-byte rows, and lineage is cut with one `localCheckpoint` per round.
  * Star-shaped near-dup graphs converge in 1-2 rounds; pathological chains
  * in O(log² n).
  *
  * Invariant maintained between half-rounds: edges are oriented
  * (u, v) with u > v ("u points at a smaller candidate root"). At the fixed
  * point the edge set is exactly {(member, component-min)} for every
  * non-min member, so the final label map is one aggregation.
  */
object ConnectedComponents {

  /** large-star: every node u connects its LARGER neighbors to the minimum
    * of its neighborhood (including u itself). Keeps all components
    * connected, strictly shrinks tall trees toward the minimum.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min(col("v")).as("_mn"))
      .select(col("u"), least(col("_mn"), col("u")).as("m"))
    nbrs.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: every node u connects its SMALLER-or-equal neighbors (and
    * itself) to the minimum of that set. Input/output oriented u > v.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    val moved = e.join(mins, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val self = mins.select(col("u"), col("m").as("v"))
    moved.union(self).filter(col("u") =!= col("v")).distinct()
  }

  /** Small-graph backend: one executor task runs min-root union-find over
    * the whole edge set (path-compressed; roots stay the component min
    * because union always hangs the larger root under the smaller). NOT a
    * driver collect — the data never leaves the cluster, and the caller
    * gates entry by edge count so the single task's memory is bounded.
    * Rationale: the alternating-star loop pays ~5 shuffle stages per round
    * regardless of size; a near-dup pair graph that shrank to thousands of
    * edges (the common case — pairs over a high threshold are rare
    * relative to the corpus) resolves in milliseconds one-pass.
    */
  private def unionFindLabels(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("u"), col("v")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) {
            val n = parent.getOrElse(c, c); parent.update(c, r); c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
        }
        parent.keysIterator.toArray.iterator.map(k => (k, find(k)))
      }
      .toDF("u", "v")
  }

  /** Connected components over long vertex ids.
    *
    * Backend is chosen by runtime edge count (AQE-spirit): at or below
    * `smallGraphThreshold` distinct edges the whole graph resolves in one
    * executor-side union-find pass ([[unionFindLabels]]); above it, the
    * alternating-star loop runs distributed. Both produce identical
    * labels, so the choice is invisible to callers.
    *
    * @param vertices one long column `id` (isolated vertices allowed)
    * @param edges    (src, dst) long pairs, undirected, self-loops ignored
    * @param smallGraphThreshold max distinct edge count routed to the
    *   single-task backend (~24 B/entry resident: 2M ≈ 50 MB — well under
    *   any executor sizing; raise/lower to taste, 0 forces the loop)
    * @return (id, component_id) — component_id is the min id in the
    *   component; singletons label themselves
    */
  def run(vertices: DataFrame, edges: DataFrame,
          maxRounds: Int = 50,
          smallGraphThreshold: Long = 2000000L): DataFrame = {
    val verts = vertices.select(col("id").cast("long").as("id"))
    // the edge count (backend choice) is observed by the pinning job
    val e0 = Iterate.pin(edges
      .select(greatest(col("src"), col("dst")).cast("long").as("u"),
        least(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), count(lit(1)).as("edges"))

    val edgeCount = e0.long("edges")
    if (edgeCount <= smallGraphThreshold) {
      val labels = unionFindLabels(e0.df)
        .select(col("u").as("id"), col("v").as("component_id"))
      val out = verts.join(labels, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("component_id"), col("id")).as("component_id"))
        .localCheckpoint(true)
      e0.release()
      return out
    }

    // iterate to the fixed point: a round whose edge set carries the
    // same signature as the previous round's changed nothing. Signature =
    // (count, XOR of row hashes): order-independent and overflow-free
    // (sum would trip ANSI long-overflow on hash values); XOR is
    // collision-sound here because the edge set is distinct. Both are
    // observed by the job that pins the round — no separate signature pass.
    def sig(p: Iterate.Pin) = (p.stats.get("edges"), p.stats.get("xor"))
    val r = Iterate.fixpoint("connectedComponents",
        Iterate.Superstep(e0, e0.stats, converged = edgeCount == 0),
        maxRounds)(_.release()) { e =>
      val next = Iterate.pin(smallStar(largeStar(e.df)),
        count(lit(1)).as("edges"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("xor"))
      Iterate.Superstep(next, next.stats, converged = sig(next) == sig(e))
    }
    val e = r.state.df
    // labels from a non-converged edge set can wrongly SPLIT components;
    // failing loudly beats silently-bad clustering. Alternating-star
    // converges in O(log² n) rounds, so hitting this means maxRounds was
    // sized far below the graph's diameter class — raise it.
    if (!r.converged) {
      e.unpersist()
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds; " +
          "raise maxRounds")
    }

    val labels = e.groupBy("u").agg(min(col("v")).as("component_id"))
      .select(col("u").as("id"), col("component_id"))
    val out = verts.join(labels, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("component_id"), col("id")).as("component_id"))
      .localCheckpoint(true)
    e.unpersist()
    out
  }
}
