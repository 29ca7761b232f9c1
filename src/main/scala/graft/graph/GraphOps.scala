package graft.graph

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
  DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Graph-shaped analytics over the property-graph tables, as pure
  * Catalyst dataflows — nothing here leaves Catalyst.
  *
  * The fixpoint operators ([[unitHierarchy]], [[kCore]],
  * [[labelPropagation]], and [[ConnectedComponents.run]]) run each
  * superstep through [[Iterate]]: the round's new state is pinned with an
  * eager `localCheckpoint`, the statistic that decides convergence
  * (frontier size, peeled vertices, changed labels, edge-set signature)
  * is observed by that same job, and the previous round's pin is
  * released. A superstep is therefore its dataflow's jobs and nothing
  * else — no count/head/isEmpty probe after the pin. [[powerIterate]]'s
  * edge pin observes its edge count and fixed-point guard statistics
  * the same way.
  *
  * The reference delegates graph traversal to Memgraph (e.g. the unit_of
  * workstream hierarchy, create_graph.py:162-169, and author/output
  * neighborhood queries). Batch-analytic equivalents:
  *
  *  - [[unitHierarchy]]   — transitive closure of unit_of (frontier
  *                          iteration, O(depth) rounds, bounded lineage)
  *  - [[coauthorComponents]] — connected components of the co-authorship
  *                          graph (a batch primitive Memgraph has no
  *                          equivalent for)
  *  - [[authorRank]]      — PageRank over co-authorship, an analytics
  *                          upgrade the row-at-a-time reference cannot do
  *
  * Vertex ids are xxhash64 of the uuid — deterministic, collision-safe at
  * any realistic node count (64-bit), computed distributed.
  */
object GraphOps {

  private def vid(c: org.apache.spark.sql.Column) = xxhash64(c)

  /** Transitive closure of the unit_of hierarchy: for every unit, the set
    * of ancestor unit ids (workstream containment). Iterative DataFrame
    * self-joins with early exit — depth-bounded (org hierarchies are
    * shallow); each round joins only the frontier (the newest depth).
    * The closure is pinned once per round ([[Iterate]] superstep:
    * bounded lineage, and the new frontier's size — the early exit —
    * observed by the same job) and the previous round's blocks are
    * released.
    *
    * @param unitOf edge table (src = child unit id, dst = parent unit id)
    * @return (unit_id, ancestor_id, depth)
    */
  def unitHierarchy(unitOf: DataFrame, maxDepth: Int = 16): DataFrame = {
    val edges = unitOf.select(col("src"), col("dst")).localCheckpoint(true)
    val base = Iterate.pin(edges.select(col("src").as("unit_id"),
      col("dst").as("ancestor_id"), lit(1).as("depth")),
      count(lit(1)).as("frontier"))
    // state = (closure, depth of its newest rows); the frontier is those
    // rows, and each round pins closure ∪ new rows as ONE frame. (A union
    // of two separately pinned frames fails Catalyst's constraint rewrite
    // when the newer pin was projected from the older one.)
    val r = Iterate.fixpoint("unitHierarchy",
        Iterate.Superstep((base.df, 1), base.stats,
          converged = base.long("frontier") == 0),
        maxDepth - 1)(st => Pins.release(st._1)) { case (closure, d) =>
      val next = closure.filter(col("depth") === d).alias("f")
        .join(edges.alias("e"), col("f.ancestor_id") === col("e.src"))
        .select(col("f.unit_id"), col("e.dst").as("ancestor_id"),
          (col("f.depth") + 1).as("depth"))
        .join(closure.select("unit_id", "ancestor_id"),
          Seq("unit_id", "ancestor_id"), "left_anti")
      val p = Iterate.pin(closure.union(next),
        count_if(col("depth") === d + 1).as("frontier"))
      Iterate.Superstep((p.df, d + 1), p.stats,
        converged = p.long("frontier") == 0)
    }
    Pins.release(edges)
    r.state._1
  }

  /** Contributor-graph edge list WITHOUT the k-squared self-join: instead
    * of pairing every two members of a group (k² rows per group — a hub
    * output with 10⁴ contributors would emit 10⁸ edges), emit a STAR per
    * group: every member links to the group's minimum member. k-1 edges per
    * group, identical connectivity (any two members of the group are
    * connected through the hub), so connected components are EXACTLY the
    * same. Output size is linear in the input — skew-proof by construction.
    */
  private def starEdges(memberOf: DataFrame): DataFrame = {
    val hub = memberOf.groupBy("o").agg(min(col("m")).as("src"))
    memberOf.join(hub, Seq("o"))
      .filter(col("m") =!= col("src"))
      .select(col("src"), col("m").as("dst"))
      .distinct()
  }

  /** A membership (src = member, dst = group) decoded on the driver. Per
    * row: its group, a dense index (-1 for a null group), and its member
    * vertex, a dense index over the member `vid`s in first-seen order.
    * Per vertex: its `vid` (`vids.values`) and its member value.
    */
  private final class Membership(val group: Array[Int],
                                 val vertex: Array[Int],
                                 val vids: VertexIndex,
                                 val values: ArrayBuffer[Any]) {
    def vidOf(v: Int): Long = vids.values(v).asInstanceOf[Long]
  }

  /** Decode the `rows` rows of a pinned (o, m, vid) membership. */
  private def decodeMembership(df: DataFrame, rows: Long): Membership = {
    val n = rows.toInt
    val groups = new VertexIndex
    val mem = new Membership(new Array[Int](n), new Array[Int](n),
      new VertexIndex, ArrayBuffer.empty[Any])
    var i = 0
    Iterate.decode(df, rows) { r =>
      mem.group(i) = if (r.isNullAt(0)) -1 else groups(r.get(0))
      val v = mem.vids(r.getLong(2))
      if (v == mem.values.size) mem.values += r.get(1)
      mem.vertex(i) = v; i += 1
    }
    mem
  }

  /** Run a co-membership operator over `authorOf` (src = member uuid, dst
    * = group) on its membership projection: the group (its `vid` hash
    * when `hashGroups`), the member and the member's `vid`, as (o, m,
    * vid). Outside [[Iterate.distributed]], when the members are strings
    * (the groups too, unless `hashGroups`), the projection is pinned once,
    * with its rows counted by the pin's own job. Within [[Iterate.folds]]'s
    * cap it decodes once and `fold` builds the result on the driver, a
    * local frame, or declines (None) when the graph it would build passes
    * the cap. Otherwise `distributed` builds the result from the pin, so
    * the membership is scanned once on either path, and the pin is
    * released once that result is materialized. Inside
    * [[Iterate.distributed]], or for other column types, `distributed`
    * reads the projection unpinned.
    */
  private def foldMembership(authorOf: DataFrame, hashGroups: Boolean)
                            (fold: Membership => Option[DataFrame])
                            (distributed: DataFrame => DataFrame): DataFrame = {
    val membership = authorOf.select(
      (if (hashGroups) vid(col("dst")) else col("dst")).as("o"),
      col("src").as("m"), vid(col("src")).as("vid"))
    def strings(c: String) = authorOf.schema(c).dataType == StringType
    if (Iterate.foldMaxRows == 0 || !strings("src") ||
        !(hashGroups || strings("dst"))) distributed(membership)
    else {
      val p = Iterate.pin(membership, count(lit(1)).as("rows"))
      try {
        val rows = p.long("rows")
        (if (Iterate.folds(rows)) fold(decodeMembership(p.df, rows))
         else None).getOrElse(distributed(p.df))
      } finally p.release()
    }
  }

  /** Ranks of `values` (strings, or null) in Spark's string order: UTF-8
    * bytes compared unsigned, the order `min` and `<` follow on a string
    * column. `String.compareTo` compares UTF-16 units and disagrees with
    * it above U+FFFF. A null ranks last, at `Int.MaxValue`.
    */
  private def stringRanks(values: collection.IndexedSeq[Any]): Array[Int] = {
    val utf8 = values.map(v =>
      if (v == null) null else UTF8String.fromString(v.asInstanceOf[String]))
    val rank = Array.fill(values.size)(Int.MaxValue)
    values.indices.filter(utf8(_) != null)
      .sortWith((a, b) => utf8(a).binaryCompare(utf8(b)) < 0)
      .zipWithIndex.foreach { case (v, r) => rank(v) = r }
    rank
  }

  /** Connected components of the co-authorship graph: two authors are
    * linked when they share an output. Star-edge construction (see
    * [[starEdges]]) keeps the edge list linear in |author_of| — no k² hub
    * blowup — then the alternating large/small-star DataFrame CC
    * ([[ConnectedComponents]]) finds the clusters without leaving Catalyst.
    * The raw component label (min vertex hash) is normalized to the MIN
    * MEMBER UUID per component, which is deterministic, hash-free, and
    * reproducible by a plain min-label fixpoint (oracle-checkable).
    *
    * Groups and members are keyed by their `vid` hashes, so a null output
    * is a group like any other (`xxhash64(null)` is 42: the authors of
    * null outputs are linked to each other), and a null author is a
    * vertex whose component is labelled by its least non-null member
    * (null when it has none). A membership within [[Iterate.folds]]'s cap
    * takes the driver fold ([[foldMembership]]): one pin of the hashed
    * membership, then [[ConnectedComponents.componentMins]]' union-find
    * over the member `vid`s on the driver; the result is a local frame.
    *
    * @param authorOf edge table (src = author uuid, dst = output uuid)
    * @return (author_uuid, component_id) — component_id is the min author
    *   uuid in the component
    */
  def coauthorComponents(authorOf: DataFrame): DataFrame =
    foldMembership(authorOf, hashGroups = true)(mem =>
      Some(foldComponents(mem, authorOf.sparkSession)))(componentsLoop)

  /** [[coauthorComponents]]' distributed build over the (o, m, vid)
    * membership: star edges by one aggregation,
    * [[ConnectedComponents.run]], then the label window.
    */
  private def componentsLoop(membership: DataFrame): DataFrame = {
    // both keys are hashed to longs ONCE, in the membership projection:
    // every downstream shuffle — including the big membership groupBy —
    // moves 8-byte keys, not strings (group identity by hash rests on the
    // same 64-bit no-collision assumption as vid itself). Star edges come
    // out of a SINGLE aggregation: collect_set dedupes members per group
    // with map-side partial aggregation, the set-min is the hub — no
    // membership-dedup shuffle, no hub join. Caveat: one group's member
    // set is one row, so beyond ~10^6 members per group prefer a
    // groupBy-min + join.
    val star = membership.groupBy("o")
      .agg(collect_set(col("vid")).as("_vs"))
      .select(array_min(col("_vs")).as("src"), explode(col("_vs")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // the vertex map is reused on both sides of the label normalization;
    // pin it once, release it and the components' pin after the (small)
    // result is materialized
    val verts = membership.select(col("m")).distinct()
      .select(vid(col("m")).as("vid"), col("m"))
      .localCheckpoint(true)
    val cc = graft.graph.ConnectedComponents.run(
      verts.select(col("vid").as("id")), star)
    val labeled = verts.join(cc, verts("vid") === cc("id"))
    // normalize: hash label -> min member uuid (deterministic,
    // oracle-able). The per-component min rides a window over the
    // labeled frame instead of a groupBy + join back: the join executed
    // the verts⋈cc subtree once per side (Catalyst has no cross-branch
    // reuse) and paid an aggregation exchange on top of the join's —
    // one component-keyed exchange now does both (guide §2.4)
    val out = labeled
      .withColumn("_cm", min(col("m")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("component_id")))
      .select(col("m").as("author_uuid"), col("_cm").as("component_id"))
      .localCheckpoint(true)
    Pins.release(verts, cc)
    out
  }

  /** [[coauthorComponents]]' DRIVER FOLD: each member joins the first
    * member of its group in [[ConnectedComponents.componentMins]] (the
    * small-graph backend's union-find, keyed by the member `vid`s), and
    * each component is labelled by its least non-null member in Spark's
    * string order, as the distributed window's `min` labels it.
    */
  private def foldComponents(mem: Membership,
                             spark: SparkSession): DataFrame = {
    val first = new java.util.HashMap[Int, java.lang.Long]()
    val root = ConnectedComponents.componentMins(
      mem.vertex.indices.iterator.map { i =>
        val v = mem.vidOf(mem.vertex(i))
        val f = first.putIfAbsent(mem.group(i), v)
        (v, if (f == null) v else f.longValue)
      })
    val rank = stringRanks(mem.values)
    val least = scala.collection.mutable.LongMap.empty[Int] // per root
    for (v <- mem.values.indices if mem.values(v) != null) {
      val r = root(mem.vidOf(v))
      if (least.get(r).forall(l => rank(v) < rank(l))) least(r) = v
    }
    spark.createDataFrame(mem.values.indices.map { v =>
        Row(mem.values(v),
          least.get(root(mem.vidOf(v))).map(mem.values).orNull)
      }.asJava,
      StructType(Seq(StructField("author_uuid", StringType),
        StructField("component_id", StringType))))
  }

  /** A rank graph on the driver, decoded from [[powerIterate]]'s pins or
    * built from a membership: the vertex values (`uuid` field) with their
    * reset cells `r0`, and per directed edge (the first `edges` slots) its
    * endpoints as vertex indexes, its weight and its source's weighted
    * out-degree. The cells are Long arrays in fixed mode, Double arrays
    * otherwise.
    */
  private final case class RankGraph(uuid: StructField, uuids: Array[Any],
                                     r0: Array[_], esi: Array[Int],
                                     edi: Array[Int], w: Array[_],
                                     wdeg: Array[_], edges: Int)

  private def requireScale(scale: Option[Long]): Unit =
    scale.foreach(s => require(s >= 20 && s % 20 == 0,
      "scale must be a positive multiple of 20 (0.15·S must be integral)"))

  /** Fixed-mode guard 1 over the weights (as doubles) and the sources'
    * weighted out-degrees; returns the max weight. Weights must be
    * integral (checked in double space, so also < 2^53 where that check
    * is itself exact) and non-negative. The division hazard is NOT a zero
    * weight per se (a zero edge alongside positive siblings contributes 0
    * and cannot zero the source's out-degree) — it is an ALL-zero
    * out-degree source, so that is what's guarded: min per-source
    * weighted out-degree must be strictly positive (min over the edge
    * rows = min over sources, every source owning ≥ 1 edge row; exact in
    * long given integrality, which is validated first).
    */
  private def weightGuard(minW: Double, maxW: Double, fracW: Double,
                          minWdeg: Double): Long = {
    require(minW >= 0d, "fixed-point rank mode requires " +
      s"non-negative weights (min w = $minW)")
    require(maxW < 9007199254740992d, // 2^53
      s"fixed-point rank mode requires weights < 2^53 (max w = $maxW)")
    require(fracW == 0d, "fixed-point rank mode requires " +
      "integer-valued weights (a fractional weight would be " +
      "silently truncated by the long cast) — scale the weights " +
      "onto the integer lattice first")
    require(minWdeg > 0d, "fixed-point rank mode requires " +
      "every source's weighted out-degree > 0 (min out-degree = " +
      s"$minWdeg — an all-zero-out-degree source would divide by zero)")
    maxW.toLong
  }

  /** Fixed-mode guard 2 over the reset vector: Long headroom. Total damped
    * mass is bounded by sum(r0)/0.15 (per-source contributions never
    * exceed the source's rank, and integer DIV only shrinks them), so the
    * two per-round products — rank·w per edge and 85·Σcontribs per vertex
    * — stay inside Long iff the bound does; checked in BigInt so the
    * check itself cannot wrap. The DuckDB oracles compute in HUGEINT, so
    * past this bound op and oracle would silently diverge — hence the
    * loud failure here. Like the weights, a caller-supplied reset vector
    * must already be the scaled LONG lattice — fractional values are
    * caught loudly instead of letting cast("long") truncate them.
    */
  private def resetGuard(r0Min: Double, r0Frac: Double, r0Abs: Double,
                         r0Sum: BigInt, maxW: Long): Unit = {
    require(r0Min >= 0d, "fixed-point reset vector must be non-negative")
    require(r0Frac == 0d, "fixed-point rank mode requires " +
      "an integer-valued reset vector (a fractional reset would be " +
      "silently truncated by the long cast) — pre-scale it onto " +
      "the integer lattice")
    require(r0Abs < 9007199254740992d, // 2^53
      "fixed-point reset values must stay below 2^53")
    val bound = r0Sum * 100 / 15 + 1
    require(bound * maxW <= BigInt(Long.MaxValue) &&
        bound * 85 <= BigInt(Long.MaxValue),
      s"fixed-point overflow precondition failed: damped-mass bound " +
        s"$bound times max weight $maxW (or times 85) exceeds Long — " +
        "lower the scale or the weights")
  }

  /** The one convergence rule of [[powerIterate]]'s fold and distributed
    * loop: tol > 0 stops at the first round whose max |Δrank| <= tol
    * (Iterate WARNs when maxIter runs out first); tol <= 0 runs exactly
    * maxIter rounds and measures no delta — when the round budget binds
    * (bounded-round snapshots) the convergence test is pure per-round
    * overhead (on the distributed loop, a separate delta query every
    * round).
    */
  private def iterateRanks[S](tol: Double, maxIter: Int, init: S)
                             (release: S => Unit)(step: S => S)
                             (maxDelta: (S, S) => Double): S =
    if (tol <= 0)
      Iterate.rounds("powerIterate", init, maxIter)(release)(step)
    else Iterate.fixpoint("powerIterate",
        Iterate.Superstep(init, Map.empty, converged = false),
        maxIter)(release) { prev =>
      val next = step(prev)
      val d = maxDelta(next, prev)
      Iterate.Superstep(next, Map("max_delta" -> d), converged = d <= tol)
    }.state

  /** [[powerIterate]]'s DRIVER FOLD: its rounds over a [[RankGraph]],
    * whether decoded from its pins or built from a membership. The
    * recurrence is IDENTICAL to the distributed loop's: in fixed mode the
    * integer ops are order-free, so the fold is bit-equal to the
    * distributed loop (and to the unrolled SQL oracles); in double mode
    * summation order differs only within the non-order-pinned float
    * semantics the distributed loop already has. The graph is PARALLEL
    * PRIMITIVE ARRAYS (the bradleyTerry ei/ej/en layout); only the round
    * kernels are typed per mode: their arithmetic genuinely differs.
    * Returns (author_uuid, pagerank), a local frame.
    */
  private def foldRanks(g: RankGraph, tol: Double, maxIter: Int,
                        spark: SparkSession): DataFrame = {
    val n = g.uuids.length
    val (esi, edi, m) = (g.esi, g.edi, g.edges)
    def maxAbs(d: Int => Double): Double = {
      var dlt = 0d
      var i = 0
      while (i < n) {
        val d0 = d(i)
        if (d0 > dlt) dlt = d0
        i += 1
      }
      dlt
    }
    val rank: Array[_] = (g.r0, g.w, g.wdeg) match {
      case (r0: Array[Long], ew: Array[Long], ewd: Array[Long]) =>
        iterateRanks(tol, maxIter, r0)(_ => ()) { rank =>
          val acc = new Array[Long](n)
          var e = 0
          while (e < m) {
            acc(edi(e)) += rank(esi(e)) * ew(e) / ewd(e); e += 1
          }
          Array.tabulate(n)(i => r0(i) + 85L * acc(i) / 100L)
        }((next, prev) => maxAbs(i => math.abs(next(i) - prev(i)).toDouble))
      case (r0: Array[Double], ew: Array[Double], ewd: Array[Double]) =>
        iterateRanks(tol, maxIter, r0)(_ => ()) { rank =>
          val acc = new Array[Double](n)
          var e = 0
          while (e < m) {
            acc(edi(e)) += rank(esi(e)) * ew(e) / ewd(e); e += 1
          }
          Array.tabulate(n)(i => r0(i) + 0.85 * acc(i))
        }((next, prev) => maxAbs(i => math.abs(next(i) - prev(i))))
    }
    spark.createDataFrame(
      Seq.tabulate(n)(i => Row(g.uuids(i), rank(i))).asJava,
      StructType(Seq(g.uuid.copy(name = "author_uuid"),
        StructField("pagerank", rank match {
          case _: Array[Long] => LongType
          case _ => DoubleType
        }))))
  }

  /** Weighted-PageRank power iteration as a pure dataflow: per round, one
    * join of the (vid-hashed, weighted-degree-annotated) edge list to
    * current ranks, one contribution aggregation, one left join back onto
    * the vertex set (isolated vertices hold the reset rank). The rounds
    * run on [[Iterate]] (`"powerIterate superstep <i>"`): lineage is cut
    * per round and the previous round's pin released. Callers must
    * pass a symmetrized edge list, so every edge endpoint has out-degree
    * ≥ 1 and dangling mass cannot occur. Unweighted PageRank is the w=1
    * special case (weighted out-degree = plain out-degree). The edge list
    * and the vertex set are pinned here, each by one job that also counts
    * its rows; when both counts pass [[Iterate.folds]] the pins decode
    * into a [[RankGraph]] and the rounds run in [[foldRanks]] instead.
    *
    * @param verts  (uuid, vid), unpinned: pinned here once
    * @param wedges (src, dst, w) with vid-hashed endpoints, symmetrized
    * @return (author_uuid, pagerank), unnormalized (reset + damp·contribs)
    */
  private def powerIterate(verts: DataFrame, wedges: DataFrame,
                           tol: Double, maxIter: Int,
                           resetCol: Option[String] = None,
                           scale: Option[Long] = None): DataFrame = {
    // scale = Some(S) switches the cell arithmetic to FIXED-POINT LONGS
    // (rank in units of 1/S): per-edge contribution (rank·w) DIV wdeg,
    // damp as (85·Σ) DIV 100 — exact integer ops that are associative
    // and engine-independent, so an S-scaled run replays bit-for-bit in
    // any SQL engine as unrolled rounds (the contract-certification
    // seam; the double mode stays the production default). Both fixed-
    // mode preconditions — integer-valued weights and Long headroom for
    // the per-round products — are VALIDATED below (guard 1 observed by
    // the edge pin's own job, guard 2 by the vertex pin's), failing
    // loudly instead of silently truncating on the long cast or wrapping
    // on overflow.
    requireScale(scale)
    val fixed = scale.isDefined
    // The per-source weighted out-degree rides a src-partitioned WINDOW
    // over the edge frame, not a groupBy + self-join: the caller's edge
    // subtree then executes exactly ONCE into the pin, where the join
    // shape ran it once per join side plus once per guard pass. One
    // exchange on src (the sort-merge join needed the same sort anyway).
    // The edge count (the fold gate) and, in fixed mode, the guard-1
    // statistics are observed by the job that writes the pin.
    val wsrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val wd = Iterate.pin((if (fixed)
        // the long cast is validated by guard 1 on the pinned rows: if a
        // fractional weight slipped in, the integrality require throws
        // before any truncated value feeds a computation
        wedges.select(col("src"), col("dst"),
          col("w").cast("double").as("_wd0"), col("w").cast("long").as("w"))
      else wedges.select(col("src"), col("dst"), col("w")))
      .withColumn("_wdeg", sum(col("w")).over(wsrc)),
      count(lit(1)).as("edges") +: (if (!fixed) Nil else Seq(
        max(abs(col("_wd0") - floor(col("_wd0")))).as("frac_w"),
        max(col("_wd0")).as("max_w"), min(col("_wd0")).as("min_w"),
        min(col("_wdeg").cast("double")).as("min_wdeg"))): _*)
    val withDeg = wd.df
    val nEdges = wd.long("edges")
    val maxW: Long =
      if (!fixed || nEdges == 0) 1L // empty edge list: nothing to overflow
      else {
        def g(name: String) = wd.stats(name).asInstanceOf[Double]
        weightGuard(g("min_w"), g("max_w"), g("frac_w"), g("min_wdeg"))
      }
    // uniform 0.15 reset (classic PageRank) or a per-vertex reset
    // vector (personalized PageRank — teleport mass only onto the
    // topic set); the vector rides the vertex pin so each round's
    // rebuild stays one narrow join. In fixed mode a caller-supplied
    // reset column must already be the scaled LONG vector; the mass sum
    // of guard 2 runs in DECIMAL so the precondition check itself cannot
    // wrap. The job that pins the vertex set observes guard 2's
    // statistics and the vertex count of the fold gate: no separate pass
    // over the vertices.
    val vp = Iterate.pin(resetCol.map(rc => verts.withColumn("_r0", col(rc)))
      .getOrElse(verts.withColumn("_r0",
        scale.map(s => lit(3L * (s / 20)).cast("long") // 0.15·S, integrally
        ).getOrElse(lit(0.15)))),
      count(lit(1)).as("verts") +: (if (!fixed) Nil else Seq(
        coalesce(sum(col("_r0").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("r0_sum"),
        coalesce(min(col("_r0").cast("double")), lit(0d)).as("r0_min"),
        coalesce(max(abs(col("_r0").cast("double") -
          floor(col("_r0").cast("double")))), lit(0d)).as("r0_frac"),
        coalesce(max(abs(col("_r0").cast("double"))), lit(0d))
          .as("r0_abs"))): _*)
    val vr = vp.df
    val nVerts = vp.long("verts")
    if (fixed) {
      def g(name: String) = vp.stats(name).asInstanceOf[Double]
      resetGuard(g("r0_min"), g("r0_frac"), g("r0_abs"),
        BigInt(vp.stats("r0_sum").asInstanceOf[java.math.BigDecimal]
          .toBigInteger), maxW)
    }
    val out =
      if (Iterate.folds(nEdges) && Iterate.folds(nVerts)) {
        // the pins decode once for both modes: vertex values and ids,
        // edge endpoints as vertex indexes, and the mode's cells cast to
        // `cell`; an edge with an endpoint outside the vertex set drops,
        // like the joins drop it
        val cell = if (fixed) "long" else "double"
        def cells(k: Long): Array[_] =
          if (fixed) new Array[Long](k.toInt) else new Array[Double](k.toInt)
        def set(a: Array[_], i: Int, r: Row, c: Int): Unit = a match {
          case a: Array[Long] => a(i) = r.getLong(c)
          case a: Array[Double] => a(i) = r.getDouble(c)
        }
        val (uuids, r0) = (new Array[Any](nVerts.toInt), cells(nVerts))
        val (esi, edi) =
          (new Array[Int](nEdges.toInt), new Array[Int](nEdges.toInt))
        val (ew, ewd) = (cells(nEdges), cells(nEdges))
        val idx = new java.util.HashMap[Long, Integer](
          math.min(nVerts * 2, 1L << 30).toInt)
        var i = 0
        Iterate.decode(vr.select(col("vid"), col("_r0").cast(cell),
            col("uuid")), nVerts) { r =>
          uuids(i) = r.get(2); set(r0, i, r, 1)
          idx.put(r.getLong(0), i); i += 1
        }
        var m = 0
        Iterate.decode(withDeg.select(col("src"), col("dst"),
            col("w").cast(cell), col("_wdeg").cast(cell)), nEdges) { r =>
          val si = idx.get(r.getLong(0))
          val di = idx.get(r.getLong(1))
          if (si != null && di != null) {
            esi(m) = si.intValue; edi(m) = di.intValue
            set(ew, m, r, 2); set(ewd, m, r, 3); m += 1
          }
        }
        foldRanks(RankGraph(vr.schema("uuid"), uuids, r0, esi, edi, ew, ewd,
          m), tol, maxIter, vr.sparkSession)
      } else {
        val init = vr.select(col("vid"), col("_r0").as("pagerank"))
          .localCheckpoint(true)
        val ranks = iterateRanks(tol, maxIter, init)(Pins.release(_)) {
            ranks =>
          val contribExpr =
            if (fixed) expr("(pagerank * w) DIV _wdeg")
            else col("pagerank") * col("w") / col("_wdeg")
          val contribs = withDeg
            .join(ranks.withColumnRenamed("vid", "src"), Seq("src"))
            .select(col("dst").as("vid"), contribExpr.as("_c"))
            .groupBy("vid").agg(sum(col("_c")).as("_csum"))
          // `ranks` must appear in next's plan exactly ONCE: localCheckpoint
          // rewrites the LogicalRDD's stats from the pre-checkpoint plan, and
          // join-size estimates MULTIPLY — a second ranks join would square
          // sizeInBytes every round, and the BigInt's digit count then doubles
          // per round until Catalyst spends minutes multiplying million-digit
          // numbers (observed at ~25 rounds). Hence convergence is measured by
          // a separate terminal query over the two pinned iterates, whose
          // stats feed nothing downstream.
          val dampTerm =
            if (fixed)
              expr("(85 * coalesce(_csum, CAST(0 AS BIGINT))) DIV 100")
            else lit(0.85) * coalesce(col("_csum"), lit(0d))
          vr.select(col("vid"), col("_r0"))
            .join(contribs, Seq("vid"), "left_outer")
            .select(col("vid"), (col("_r0") + dampTerm).as("pagerank"))
            .localCheckpoint(true)
        } { (next, ranks) =>
          next
            .join(ranks.withColumnRenamed("pagerank", "_prev"), Seq("vid"))
            .agg(coalesce(max(abs(col("pagerank") - col("_prev")))
              .cast("double"), lit(0d)))
            .head().getDouble(0)
        }
        val out = vr.join(ranks, Seq("vid"))
          .select(col("uuid").as("author_uuid"), col("pagerank"))
          .localCheckpoint(true)
        Pins.release(ranks)
        out
      }
    Pins.release(withDeg, vr)
    out
  }

  /** [[authorRank]] / [[authorRankWeighted]]'s DRIVER FOLD: the
    * co-membership graph built on the driver from the decoded membership,
    * then [[foldRanks]]. A member `vid` is a vertex (a null member's too,
    * isolated as in the distributed vertex set); groups are the non-null
    * group values, since a null key joins nothing on the distributed path.
    * `half` gets each group's distinct members as ranks in Spark's string
    * order ([[stringRanks]], ascending, null last) and returns one
    * direction of the edges as (a, b, w) rank triples, or None when both
    * directions would pass [[Iterate.folds]]'s cap. Both directions are
    * the edges, w the weight and the per-source sum of w the weighted
    * out-degree, so the fixed-mode guards run on the same statistics as
    * the edge and vertex pins observe.
    */
  private def rankMembership(mem: Membership, spark: SparkSession,
                             tol: Double, maxIter: Int, scale: Option[Long])
                            (half: Array[Array[Int]] =>
                              Option[(Array[Int], Array[Int], Array[Long])]
                            ): Option[DataFrame] = {
    requireScale(scale)
    val rank = stringRanks(mem.values)
    // (group << 32 | member rank), sorted and deduplicated in place: each
    // group's distinct members are one run, ascending
    val keys = Array.newBuilder[Long]
    for (i <- mem.group.indices if mem.group(i) >= 0)
      keys += mem.group(i).toLong << 32 | rank(mem.vertex(i))
    val sorted = keys.result()
    java.util.Arrays.sort(sorted)
    var d = 0
    for (k <- sorted if d == 0 || sorted(d - 1) != k) { sorted(d) = k; d += 1 }
    val groups = Array.newBuilder[Array[Int]]
    var i = 0
    while (i < d) {
      var j = i + 1
      while (j < d && sorted(j) >>> 32 == sorted(i) >>> 32) j += 1
      groups += Array.tabulate(j - i)(x => sorted(i + x).toInt)
      i = j
    }
    half(groups.result()).map { case (a, b, w) =>
      val n = mem.values.size
      val byRank = new Array[Int](n)
      for (j <- 0 until n if rank(j) != Int.MaxValue) byRank(rank(j)) = j
      val h = a.length
      val esi = Array.tabulate(2 * h)(e =>
        byRank(if (e < h) a(e) else b(e - h)))
      val edi = Array.tabulate(2 * h)(e =>
        byRank(if (e < h) b(e) else a(e - h)))
      val ew = Array.tabulate(2 * h)(e => w(e % h))
      val deg = new Array[Long](n)
      for (e <- 0 until 2 * h) deg(esi(e)) += ew(e)
      val ewd = esi.map(deg)
      val uuid = StructField("uuid", StringType)
      val g = scale match {
        case Some(s) =>
          val maxW =
            if (h == 0) 1L
            else weightGuard(ew.min.toDouble, ew.max.toDouble, 0d,
              ewd.min.toDouble)
          val r0 = 3L * (s / 20) // 0.15·S, integrally
          resetGuard(if (n == 0) 0d else r0.toDouble, 0d,
            if (n == 0) 0d else math.abs(r0).toDouble, BigInt(r0) * n, maxW)
          RankGraph(uuid, mem.values.toArray, Array.fill(n)(r0), esi, edi,
            ew, ewd, 2 * h)
        case None =>
          RankGraph(uuid, mem.values.toArray, Array.fill(n)(0.15), esi,
            edi, ew.map(_.toDouble), ewd.map(_.toDouble), 2 * h)
      }
      foldRanks(g, tol, maxIter, spark)
    }
  }

  /** Packed (a << 32 | b) rank pairs, sorted, as (a, b, count) triples. */
  private def countPairs(pairs: Array[Long])
      : (Array[Int], Array[Int], Array[Long]) = {
    java.util.Arrays.sort(pairs)
    val (a, b, w) = (Array.newBuilder[Int], Array.newBuilder[Int],
      Array.newBuilder[Long])
    var i = 0
    while (i < pairs.length) {
      var j = i + 1
      while (j < pairs.length && pairs(j) == pairs(i)) j += 1
      a += (pairs(i) >>> 32).toInt; b += pairs(i).toInt; w += j - i
      i = j
    }
    (a.result(), b.result(), w.result())
  }

  /** Non-null members of a group of ranks (ascending, null last). */
  private def nonNull(g: Array[Int]): Int =
    if (g.last == Int.MaxValue) g.length - 1 else g.length

  /** Star edges of `groups` (member ranks, ascending, null last): per
    * group, one less than its non-null members. */
  private def starCount(groups: Array[Array[Int]]): Long =
    groups.map(g => math.max(nonNull(g) - 1, 0).toLong).sum

  /** [[starEdges]] over groups of member ranks (ascending, null last):
    * each group's least non-null member links to its other non-null
    * members, as packed (hub << 32 | member) pairs.
    */
  private def starPairs(groups: Array[Array[Int]]): Array[Long] = {
    val out = new Array[Long](starCount(groups).toInt)
    var p = 0
    for (g <- groups; x <- 1 until nonNull(g)) {
      out(p) = g(0).toLong << 32 | g(x); p += 1
    }
    out
  }

  /** PageRank over the co-authorship graph (centrality of authors). The
    * co-edge list uses the same star construction as
    * [[coauthorComponents]] (symmetrized), trading exact clique weights for
    * linear edge growth — rank ordering within components is preserved for
    * hub detection while staying skew-proof. For exact co-occurrence
    * weights on moderate hubs see [[authorRankWeighted]].
    *
    * Groups and hubs are the distributed path's: output strings, the
    * least member in Spark's string order (UTF-8 bytes, not
    * `String.compareTo`), and a row with a null output joins nothing, so
    * it adds its author as a vertex and no edge. A membership within
    * [[Iterate.folds]]'s cap, whose star edges both ways fit it too,
    * builds the graph on the driver and runs [[powerIterate]]'s fold
    * rounds ([[rankMembership]]): one pin, one decode, a local result —
    * see [[pageRank]]'s note on double-mode summation-order drift. Above
    * the cap the star edges are built as DataFrames from the same pin.
    */
  def authorRank(authorOf: DataFrame, tol: Double = 0.001,
                 maxIter: Int = 30,
                 scale: Option[Long] = None): DataFrame =
    foldMembership(authorOf, hashGroups = false)(mem =>
      rankMembership(mem, authorOf.sparkSession, tol, maxIter, scale) {
        groups =>
          if (!Iterate.folds(2 * starCount(groups))) None
          else {
            val (a, b, w) = countPairs(starPairs(groups))
            Some((a, b, w.map(_ => 1L)))
          }
      })(authorRankLoop(_, tol, maxIter, scale))

  /** [[authorRank]]'s distributed build over the (o, m, vid) membership:
    * star edges as DataFrames, then [[powerIterate]].
    */
  private def authorRankLoop(membership: DataFrame, tol: Double,
                             maxIter: Int, scale: Option[Long]): DataFrame = {
    val star = starEdges(membership.select(col("o"), col("m")))
    val coedges = star.union(
      star.select(col("dst").as("src"), col("src").as("dst")))
    val verts = membership.select(col("m").as("uuid")).distinct()
      .select(col("uuid"), vid(col("uuid")).as("vid"))
    val edges = coedges
      .select(vid(col("src")).as("src"), vid(col("dst")).as("dst"),
        lit(1L).as("w"))
    powerIterate(verts, edges, tol, maxIter, scale = scale)
  }

  /** PageRank with TRUE co-occurrence weights: edge (a, b) carries the
    * number of outputs the two authors share, so a pair that co-authors 10
    * papers pulls 10× the rank mass of a one-off collaboration — the exact
    * centrality [[authorRank]]'s star construction approximates.
    *
    * Pair edges are k² per output group, so generation is CAPPED (df-cap
    * style, like the shingle self-joins): groups larger than
    * `maxGroupSize` are excluded from PAIR generation and contribute
    * star edges at weight 1 instead — a mega-hub's k² blowup is avoided
    * while its members stay connected and ranked. Below the cap the
    * centrality is exact; authors appearing only in capped groups keep
    * star connectivity rather than dropping to the reset rank.
    *
    * Memberships are distinct (output, author) strings; a null author
    * counts toward its group's size but pairs with no one, a null output
    * joins nothing, and pairs and hubs follow Spark's string order. A
    * membership within [[Iterate.folds]]'s cap, whose pair and star edges
    * both ways fit it too, builds the graph on the driver and runs
    * [[powerIterate]]'s fold rounds ([[rankMembership]]). Otherwise the
    * pairs are built as DataFrames from the same pin; a decline on the
    * pair count has already paid the membership's decode.
    *
    * @param authorOf edge table (src = author uuid, dst = output uuid)
    * @return (author_uuid, pagerank), unnormalized (reset + damp·contribs)
    */
  def authorRankWeighted(authorOf: DataFrame, tol: Double = 0.001,
                         maxIter: Int = 30,
                         maxGroupSize: Int = 1000,
                         scale: Option[Long] = None): DataFrame = {
    require(maxGroupSize >= 2, "maxGroupSize must allow at least one pair")
    foldMembership(authorOf, hashGroups = false)(mem =>
      rankMembership(mem, authorOf.sparkSession, tol, maxIter, scale) {
        groups =>
          val (small, big) = groups.partition(_.length <= maxGroupSize)
          val pairCount =
            small.map(g => nonNull(g).toLong * (nonNull(g) - 1) / 2).sum
          if (!Iterate.folds(2 * (pairCount + starCount(big)))) None
          else {
            val pairs = new Array[Long](pairCount.toInt)
            var p = 0
            for (g <- small; x <- 0 until nonNull(g);
                 y <- x + 1 until nonNull(g)) {
              pairs(p) = g(x).toLong << 32 | g(y); p += 1
            }
            val (pa, pb, pw) = countPairs(pairs)
            val (sa, sb, _) = countPairs(starPairs(big))
            Some((pa ++ sa, pb ++ sb, pw ++ sa.map(_ => 1L)))
          }
      })(authorRankWeightedLoop(_, tol, maxIter, maxGroupSize, scale))
  }

  /** [[authorRankWeighted]]'s distributed build over the (o, m, vid)
    * membership: the capped pair join and star fallback as DataFrames,
    * then [[powerIterate]].
    */
  private def authorRankWeightedLoop(membership: DataFrame, tol: Double,
                                     maxIter: Int, maxGroupSize: Int,
                                     scale: Option[Long]): DataFrame = {
    val distinctMembers = membership.select(col("o"), col("m")).distinct()
    val sizes = distinctMembers.groupBy("o").agg(count(lit(1)).as("_k"))
    val small = distinctMembers.join(sizes.filter(col("_k") <= maxGroupSize)
      .select("o"), Seq("o"))
    // k² pair join runs only under the cap; weight = #shared outputs
    val pairs = small.select(col("o"), col("m").as("ma"))
      .join(small.select(col("o"), col("m").as("mb")), Seq("o"))
      .filter(col("ma") < col("mb"))
      .groupBy("ma", "mb").agg(count(lit(1)).cast("double").as("w"))
    // capped-out groups fall back to weight-1 star edges (connectivity
    // without the quadratic term)
    val big = distinctMembers.join(sizes.filter(col("_k") > maxGroupSize)
      .select("o"), Seq("o"))
    val bigStar = starEdges(big)
      .select(col("src").as("ma"), col("dst").as("mb"), lit(1d).as("w"))
    val half = pairs.union(bigStar)
    val coedges = half.union(
      half.select(col("mb").as("ma"), col("ma").as("mb"), col("w")))
    val verts = membership.select(col("m").as("uuid")).distinct()
      .select(col("uuid"), vid(col("uuid")).as("vid"))
    val edges = coedges
      .select(vid(col("ma")).as("src"), vid(col("mb")).as("dst"), col("w"))
    powerIterate(verts, edges, tol, maxIter, scale = scale)
  }

  /** Per-vertex triangle counts (Schank–Wagner / Cohen's MapReduce
    * orientation, the standard distributed formulation): edges are
    * canonicalized undirected, then ORIENTED from the lower to the higher
    * (degree, id) endpoint — the orientation caps every vertex's
    * out-degree at O(√m), so the wedge self-join that enumerates
    * candidate (v, w) pairs is bounded by Σ outdeg² = O(m^1.5) instead of
    * the hub-quadratic Σ deg² a naive formulation pays (one celebrity
    * vertex with 10⁷ neighbors would otherwise emit 10¹⁴ wedges).
    * Closing edges are confirmed with one hash equi-join — every stage is
    * a shuffle on vertex keys, AQE-splittable, no window, no collect.
    *
    * Clustering-coefficient and community-health audits over the
    * co-citation / co-authorship graphs ride this directly.
    *
    * @param edges (srcCol, dstCol) — direction ignored, self-loops and
    *              duplicate edges dropped, null endpoints dropped
    * @return (vertex, n_triangles) for every vertex in ≥ 1 triangle
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val e = canonEdges(edges, srcCol, dstCol)
    triangleCountsCanonical(e, degreesCanonical(e))
  }

  /** Undirected canonical edge set: (a < b), self-loops, nulls and
    * duplicates dropped.
    */
  private def canonEdges(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()

  /** (v, _d) undirected degrees of the canonical edge set. */
  private def degreesCanonical(e: DataFrame): DataFrame =
    e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("_d"))

  private def triangleCountsCanonical(e: DataFrame,
                                      deg: DataFrame): DataFrame = {
    // orient low (deg, id) -> high (deg, id); the dst tuple key rides
    // along so the wedge pair can be ordered without re-joining degrees
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("_d").as("_da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("_d").as("_db")), Seq("b"))
    def key(d: String, v: String) =
      struct(col(d).as("d"), col(v).as("i"))
    val aLow = key("_da", "a") < key("_db", "b")
    val o = withDeg.select(
      when(aLow, col("a")).otherwise(col("b")).as("u"),
      when(aLow, col("b")).otherwise(col("a")).as("t"),
      when(aLow, key("_db", "b")).otherwise(key("_da", "a")).as("_tk"))
    // wedges (u; v < w by tuple order) closed by the oriented edge v->w
    // (orientation guarantees the closing edge points low-to-high)
    val tri = o.select(col("u"), col("t").as("v"), col("_tk").as("_vk"))
      .join(o.select(col("u"), col("t").as("w"), col("_tk").as("_wk")),
        Seq("u"))
      .filter(col("_vk") < col("_wk"))
      .join(o.select(col("u").as("v"), col("t").as("w")), Seq("v", "w"))
      .select("u", "v", "w")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
  }

  /** k-CORE decomposition (Seidman 1983): the maximal subgraph where
    * every vertex keeps degree ≥ k, found by iteratively peeling all
    * sub-k vertices until fixpoint — the graph-cleaning gate before
    * centrality/community passes (peripheral tendrils and one-off
    * spam vertices fall out; the dense core of the co-citation graph
    * survives).
    *
    * Each round ([[Iterate]] superstep) is one degree aggregate + two
    * left-semi equi-joins on the SHRINKING edge set, pinned in one job
    * that also observes the peeled vertices and the kept edges, so
    * lineage stays one round deep and no count pass follows. All
    * sub-k vertices peel SIMULTANEOUSLY per round, so rounds are
    * bounded by the peeling depth (typically ≪ 20 on real graphs; a
    * worst-case path graph peels two vertices a round — set `maxIter`
    * accordingly or pre-filter such tendrils). An edge set within
    * [[Iterate.folds]]'s cap peels in the driver fold instead: the same
    * rounds over the decoded edge list, the result a local frame.
    *
    * @return (vertex, core_degree) — degree WITHIN the k-core; empty
    *         when no k-core exists
    * @throws IllegalStateException when `maxIter` rounds leave vertices
    *         to peel
    */
  def kCore(edges: DataFrame, k: Int, srcCol: String = "src",
            dstCol: String = "dst", maxIter: Int = 1000): DataFrame = {
    require(k >= 1 && maxIter >= 1)
    val e0 = Iterate.pin(canonEdges(edges, srcCol, dstCol),
      count(lit(1)).as("kept"))
    def core(e: DataFrame) = degreesCanonical(e)
      .select(col("v").as("vertex"), col("_d").as("core_degree"))
    def noFixpoint(stats: Map[String, Any]) = new IllegalStateException(
      s"kCore: no fixpoint after $maxIter rounds (${stats("kept")} edges live)")
    val vertexType = e0.df.schema("a").dataType
    if (Iterate.folds(e0.long("kept")) && driverKeyed(vertexType)) {
      // DRIVER FOLD: the same simultaneous peel over the decoded edge
      // list. The state is the live edges' indexes; a round's degrees,
      // peeled vertices and kept edges are the distributed round's.
      val vertex = new VertexIndex
      val m = e0.long("kept").toInt
      val ea = new Array[Int](m)
      val eb = new Array[Int](m)
      var j = 0
      Iterate.decode(e0.df, m) { r =>
        ea(j) = vertex(r.get(0)); eb(j) = vertex(r.get(1)); j += 1
      }
      val schema = core(e0.df).schema
      e0.release()
      def degrees(live: Array[Int]): Array[Long] = {
        val d = new Array[Long](vertex.size)
        live.foreach { e => d(ea(e)) += 1; d(eb(e)) += 1 }
        d
      }
      val r = Iterate.fixpoint("kCore",
          Iterate.Superstep(Array.range(0, m), e0.stats, converged = m == 0),
          maxIter)(_ => ()) { live =>
        val d = degrees(live)
        val peeled = d.count(x => x > 0 && x < k).toLong
        val kept = live.filter(e => d(ea(e)) >= k && d(eb(e)) >= k)
        Iterate.Superstep(kept,
          Map("kept" -> kept.length.toLong, "peeled" -> peeled),
          converged = kept.isEmpty || peeled == 0)
      }
      if (!r.converged) throw noFixpoint(r.stats)
      val d = degrees(r.state)
      edges.sparkSession.createDataFrame((0 until vertex.size)
        .filter(d(_) > 0).map(v => Row(vertex.values(v), d(v))).asJava,
        schema)
    } else {
      val r = Iterate.fixpoint("kCore",
          Iterate.Superstep(e0.df, e0.stats, converged = e0.long("kept") == 0),
          maxIter)(Pins.release(_)) { e =>
        // peeled vertices are observed on the degree aggregate, inside the
        // round's own job: a vertex below k loses all of its (>= 1) edges,
        // so no vertex peeled <=> no edge dropped. The semi-joins keep the
        // pinned edge set's size estimate from growing round over round.
        // `kept` is tested first: when nothing is kept, adaptive execution
        // may prune the empty keep side, observation included.
        val keep = degreesCanonical(e)
          .observe("kcore-peeled", count_if(col("_d") < k).as("peeled"))
          .filter(col("_d") >= k).select("v")
        val p = Iterate.pin(e
          .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
          .select("a", "b"), count(lit(1)).as("kept"))
        Iterate.Superstep(p.df, p.stats,
          converged = p.long("kept") == 0 || p.long("peeled") == 0)
      }
      if (!r.converged) {
        Pins.release(r.state)
        throw noFixpoint(r.stats)
      }
      core(r.state)
    }
  }

  /** Whether a vertex type folds on the driver: the fold keys vertices by
    * their row values, and a binary value's `equals` is identity, not
    * content.
    */
  private def driverKeyed(t: DataType): Boolean =
    t match {
      case BinaryType => false
      case ArrayType(e, _) => driverKeyed(e)
      case s: StructType => s.fields.forall(f => driverKeyed(f.dataType))
      case _ => true
    }

  /** Dense driver-side indexes of the vertex values a fold decodes, in
    * first-seen order.
    */
  private final class VertexIndex {
    val values = ArrayBuffer.empty[Any]
    private val index = new java.util.HashMap[Any, Integer]()
    def size: Int = values.size
    def apply(v: Any): Int = {
      val i = index.get(v)
      if (i != null) i.intValue
      else { index.put(v, values.size); values += v; values.size - 1 }
    }
  }

  /** Local clustering coefficient as an exact integer fraction: per
    * vertex, `n_triangles` closed out of `n_wedges` = d·(d−1)/2 open
    * wedges — cc = n_triangles/n_wedges (the repo's float-lattice rule:
    * publish the integers, divide downstream). The community-cohesion
    * audit over co-authorship/co-citation graphs; every vertex of the
    * graph appears, including triangle-free ones (n_triangles = 0).
    *
    * Same scale shape as [[triangleCounts]] (shares its oriented wedge
    * join) plus one degree aggregate and a left join. `n_wedges` is
    * computed in DECIMAL(38,0) and downcast behind a raise_error guard
    * (the plain Long product would wrap silently at d ≈ 3·10⁹).
    *
    * @return (vertex, degree, n_triangles, n_wedges)
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String = "src",
                            dstCol: String = "dst"): DataFrame = {
    val e = canonEdges(edges, srcCol, dstCol)
    val deg = degreesCanonical(e)
    val tri = triangleCountsCanonical(e, deg)
    // d(d-1)/2 in DECIMAL(38,0) behind a raise_error guard: the plain
    // Long product wraps silently at d ≈ 3e9 (the repo convention for
    // count products — see aucExact / tClosenessViolations)
    val dec = "decimal(38,0)"
    val wedges = (col("_d").cast(dec) * (col("_d") - 1).cast(dec))
      ./(lit(2).cast(dec))
    deg.join(tri, col("v") === col("vertex"), "left_outer")
      .select(col("v").as("vertex"), col("_d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(wedges > lit(Long.MaxValue).cast(dec),
          raise_error(concat(lit("clusteringCoefficient: n_wedges " +
            "overflows BIGINT: "), wedges.cast("string"))).cast("long"))
          .otherwise(wedges.cast("long")).as("n_wedges"))
  }

  /** Generic weighted PageRank over an ARBITRARY undirected edge list —
    * the public face of the [[authorRank]] machinery for callers whose
    * vertices aren't authors (word graphs, URL graphs, citation
    * projections). Edges are symmetrized (each edge contributes both
    * directions), so every endpoint has out-degree >= 1 and dangling
    * mass cannot occur; self-loops and null endpoints drop. Vertex
    * identity follows the repo convention: xxhash64 of the vertex value
    * keys every shuffle (8-byte keys, collision-safe at realistic vertex
    * counts) while the original value rides to the output.
    *
    * Same per-round shape and iterate-localCheckpoint-release
    * discipline as [[authorRank]] (one join + one aggregate + one left
    * join per round; tol <= 0 = run-exactly-maxIter mode that skips the
    * per-round convergence query).
    *
    * Sub-cap graphs (edges AND vertices within [[Iterate.folds]]'s cap)
    * fold the rounds driver-side. In fixed-point mode the fold is provably
    * bit-equal to the distributed loop; in DOUBLE mode it changes the
    * floating-point summation order, so floor-scaled projections (e.g.
    * floor(pagerank*1e6)) of pre-fold baselines can flip on boundary
    * values — last-ulp drift, within the non-order-pinned float
    * semantics the distributed loop already has. The fold is
    * [[Iterate]]'s: its gate reads the edge count observed by the edge
    * pin and the vertex count observed by the vertex pin (whose job also
    * checks the fixed-mode reset vector), both pins decode straight into
    * arrays, and the ranks come back as a local frame keyed by the vertex
    * values, with no join back onto the vertices. Inside
    * [[Iterate.distributed]] the distributed loop runs on any input.
    *
    * @param weightCol optional edge-weight column (default: every edge
    *                  weighs 1)
    * @return (vertex, pagerank), unnormalized (reset + damp * contribs)
    */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", weightCol: Option[String] = None,
               tol: Double = 0.001, maxIter: Int = 30,
               scale: Option[Long] = None): DataFrame =
    rankUndirected(edges, srcCol, dstCol, weightCol, tol, maxIter, None,
      scale)

  /** Shared scaffolding of [[pageRank]] / [[pageRankPersonalized]]:
    * clean + pin the edge list once (sym/verts/withDeg would otherwise
    * re-evaluate the caller's upstream plan four times before iteration
    * starts), symmetrize, hash vertices, iterate, release. `sources`
    * switches on the personalized reset vector — and JOINS INTO the
    * vertex set, so an isolated topic vertex still holds its 0.15
    * teleport mass instead of silently vanishing.
    */
  private def rankUndirected(edges: DataFrame, srcCol: String,
                             dstCol: String, weightCol: Option[String],
                             tol: Double, maxIter: Int,
                             sources: Option[DataFrame],
                             scale: Option[Long] = None): DataFrame = {
    val w = scale match {
      case Some(_) =>
        // fixed-point mode: integer-valued weights required — pass the
        // RAW values through (as double) so powerIterate's integrality
        // guard sees them; truncating here would hide a fractional
        // weight from the loud check
        weightCol.map(c => col(c).cast("double")).getOrElse(lit(1L))
      case None =>
        weightCol.map(c => col(c).cast("double")).getOrElse(lit(1d))
    }
    val half = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(col(srcCol).as("_a"), col(dstCol).as("_b"), w.as("w"))
      .localCheckpoint(true)
    val sym = half.union(
      half.select(col("_b").as("_a"), col("_a").as("_b"), col("w")))
    val endpoints = half.select(col("_a").as("uuid"))
      .union(half.select(col("_b").as("uuid")))
    val verts = (sources match {
      case None =>
        endpoints.distinct()
          .select(col("uuid"), vid(col("uuid")).as("vid"))
      case Some(srcDf) =>
        val src = srcDf.toDF("uuid").filter(col("uuid").isNotNull)
          .distinct().withColumn("_isSrc", lit(true))
        // union BEFORE distinct: edge-less topic vertices stay ranked.
        // Fixed mode builds the reset vector INTEGRALLY (0.15·S as
        // 3·(S/20)) — never 0.15·S through double multiplication
        val resetHit = scale.map(s => lit(3L * (s / 20)).cast("long"))
          .getOrElse(lit(0.15))
        val resetMiss = scale.map(_ => lit(0L).cast("long"))
          .getOrElse(lit(0d))
        endpoints.union(src.select("uuid")).distinct()
          .join(src, Seq("uuid"), "left_outer")
          .select(col("uuid"), vid(col("uuid")).as("vid"),
            when(col("_isSrc"), resetHit).otherwise(resetMiss)
              .as("_reset"))
    })
    val wedges = sym.select(vid(col("_a")).as("src"),
      vid(col("_b")).as("dst"), col("w"))
    val out = powerIterate(verts, wedges, tol, maxIter,
      resetCol = sources.map(_ => "_reset"), scale = scale)
      .withColumnRenamed("author_uuid", "vertex")
    // powerIterate's result reads neither half nor its own pins
    Pins.release(half)
    out
  }

  /** PERSONALIZED PageRank (topic-sensitive, Haveliwala 2002): teleport
    * mass lands only on the `sources` vertex set instead of uniformly,
    * so rank measures proximity to the topic set — "papers influential
    * AROUND this lab", "words central to THIS seed vocabulary",
    * related-item expansion from a seed list. Same symmetrized-edges /
    * hashed-vertex / iterate-checkpoint-release machinery as
    * [[pageRank]]; vertices outside `sources` hold reset mass 0 and are
    * ranked purely by received contributions, so rank is exactly zero
    * outside the sources' connected components. Unnormalized like every
    * rank here (reset + damp·contribs; 0.15 per source vertex).
    *
    * The reset vector rides the vertex table as a column — per round
    * the rebuild is still ONE narrow join; the source set is only
    * touched once at construction (left-join flag, null-safe).
    *
    * @param sources 1-column DataFrame of topic vertices (values of the
    *                same type as the edge endpoints)
    * @return (vertex, pagerank)
    */
  def pageRankPersonalized(edges: DataFrame, sources: DataFrame,
                           srcCol: String = "src", dstCol: String = "dst",
                           weightCol: Option[String] = None,
                           tol: Double = 0.001,
                           maxIter: Int = 30,
                           scale: Option[Long] = None): DataFrame = {
    require(sources.columns.length == 1,
      "sources must be a single-column DataFrame of topic vertices")
    rankUndirected(edges, srcCol, dstCol, weightCol, tol, maxIter,
      Some(sources), scale)
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007): every vertex starts in its own community and
    * per round adopts the most frequent label among its neighbors —
    * near-linear community detection, the cheap first cut before
    * anything modularity-based. Deterministic variant: each vertex also
    * votes for its OWN current label (damps the 2-coloring oscillation
    * synchronous LPA is known for) and ties break to the smallest label,
    * so reruns agree bit-for-bit — no randomized vertex order.
    *
    * Per round ([[Iterate]] superstep) ONE exchange, no join (the
    * Pregel message pattern): the state is (vertex, community,
    * neighbours); every vertex sends its label to each neighbour, and a
    * groupBy(vertex) collects the votes together with the vertex's own
    * row, which carries its previous label and its neighbour list
    * forward. Round 1 builds the neighbour lists from the edges; its
    * votes are the neighbour ids, the initial labels. The argmax is a
    * run-length fold over the sorted votes ([[argmaxVote]]), and the
    * number of changed labels is observed by the job that pins the
    * round. Early exit when a round changes no label; at `maxIter`
    * without that, the last labels are returned and the operator WARNs.
    * An edge list within [[Iterate.folds]]'s cap runs the same rounds in
    * the driver fold ([[foldLabels]]), and the result is a local frame.
    * Isolated vertices have no edges and are absent, matching
    * [[triangleCounts]] semantics.
    *
    * @param edges (srcCol, dstCol) — direction ignored, self-loops and
    *              duplicate edges dropped, null endpoints dropped
    * @return (vertex, community) — community = the surviving label,
    *         itself always some member vertex's id
    */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst",
                       maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1)
    val e = edges.filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
      col(srcCol) =!= col(dstCol))
    // both directions pinned as one plan, by one job that also counts the
    // arcs for the fold gate
    val sp = Iterate.pin(e.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .union(e.select(col(dstCol).as("u"), col(srcCol).as("v"))),
      count(lit(1)).as("arcs"))
    val sym = sp.df
    val labelType = sym.schema("u").dataType
    val out =
      if (Iterate.folds(sp.long("arcs")) && driverKeyed(labelType))
        foldLabels(sym, sp.long("arcs").toInt, labelType, maxIter)
      else {
        val none = lit(null).cast(labelType)
        // state None = before round 1, every vertex labelled by its own id
        val r = Iterate.fixpoint("labelPropagation",
            Iterate.Superstep(Option.empty[DataFrame], Map.empty,
              converged = false),
            maxIter)(_.foreach(Pins.release(_))) { state =>
          val votes = state match {
            case None => sym.groupBy(col("u").as("vertex")) // dedupes edges
              .agg(collect_set(col("v")).as("_nbrs"))
              .select(col("vertex"), col("_nbrs").as("_votes"),
                col("vertex").as("_prev"), col("_nbrs"))
            case Some(s) => s
              .select(explode(col("_nbrs")).as("vertex"),
                col("community").as("_vote"), none.as("_prev"),
                lit(null).cast(s.schema("_nbrs").dataType).as("_nbrs"))
              .union(s.select(col("vertex"), none.as("_vote"),
                col("community").as("_prev"), col("_nbrs")))
              .groupBy("vertex")
              .agg(collect_list(col("_vote")).as("_votes"),
                max(col("_prev")).as("_prev"), max(col("_nbrs")).as("_nbrs"))
          }
          val p = Iterate.pinAfter(votes.select(col("vertex"),
              argmaxVote(array_sort(concat(col("_votes"),
                array(col("_prev")))), labelType).as("community"),
              col("_prev"), col("_nbrs")),
            count_if(col("community") =!= col("_prev")).as("changed"))(
            _.drop("_prev"))
          Iterate.Superstep(Option(p.df), p.stats,
            converged = p.long("changed") == 0)
        }
        val state = r.state.get // maxIter >= 1: round 1 always runs
        try state.select("vertex", "community").localCheckpoint(true)
        finally Pins.release(state)
      }
    sp.release()
    out
  }

  /** [[labelPropagation]]'s DRIVER FOLD over the `arcs` pinned arcs
    * `sym` (u, v), both directions of every edge. The arcs decode sorted
    * by (u, v) in one task, so vertex indexes follow Spark's ordering of
    * the label type and a label is the index of the vertex it names: the
    * smallest label of a tie is the smallest index, for any label type.
    * The neighbour lists are deduped as `collect_set` dedupes them, and a
    * round is [[argmaxVote]] over the sorted votes: the vertex's own
    * label and each neighbour's.
    */
  private def foldLabels(sym: DataFrame, arcs: Int, labelType: DataType,
                         maxIter: Int): DataFrame = {
    val vertex = new VertexIndex
    val from = new Array[Int](arcs)
    val to = new Array[Any](arcs)
    var a = 0
    Iterate.decode(sym.coalesce(1).sortWithinPartitions("u", "v"), arcs) {
        r =>
      from(a) = vertex(r.get(0)); to(a) = r.get(1); a += 1
    }
    val n = vertex.size
    // neighbour lists as offsets into one array; equal neighbours of a
    // vertex are adjacent in (u, v) order
    val off = new Array[Int](n + 1)
    val nbr = new Array[Int](arcs)
    var m = 0
    a = 0
    for (i <- 0 until n) {
      off(i) = m
      while (a < arcs && from(a) == i) {
        val j = vertex(to(a))
        if (m == off(i) || nbr(m - 1) != j) { nbr(m) = j; m += 1 }
        a += 1
      }
    }
    off(n) = m
    val votes = new Array[Int](
      (0 until n).map(i => off(i + 1) - off(i)).foldLeft(0)(math.max) + 1)
    val r = Iterate.fixpoint("labelPropagation",
        Iterate.Superstep(Array.range(0, n), Map.empty, converged = false),
        maxIter)(_ => ()) { labels =>
      var changed = 0L
      val next = Array.tabulate(n) { i =>
        votes(0) = labels(i)
        var c = 1
        var t = off(i)
        while (t < off(i + 1)) { votes(c) = labels(nbr(t)); c += 1; t += 1 }
        java.util.Arrays.sort(votes, 0, c)
        var best = votes(0)
        var bestRun = 1
        var run = 1
        t = 1
        while (t < c) {
          run = if (votes(t) == votes(t - 1)) run + 1 else 1
          if (run > bestRun) { best = votes(t); bestRun = run }
          t += 1
        }
        if (best != labels(i)) changed += 1
        best
      }
      Iterate.Superstep(next, Map("changed" -> changed),
        converged = changed == 0)
    }
    sym.sparkSession.createDataFrame(
        Seq.tabulate(n)(i =>
          Row(vertex.values(i), vertex.values(r.state(i)))).asJava,
        StructType(Seq(StructField("vertex", labelType),
          StructField("community", labelType))))
  }

  /** Most frequent label of a SORTED vote array, ties to the smallest:
    * one fold tracking the current run and the best run so far — a run
    * replaces the best only when strictly longer, so among equal counts
    * the first (smallest) label wins.
    */
  private def argmaxVote(sortedVotes: Column,
                         labelType: org.apache.spark.sql.types.DataType
                        ): Column = {
    val none = lit(null).cast(labelType)
    aggregate(sortedVotes,
      struct(none.as("cur"), lit(0).as("run"), none.as("best"),
        lit(0).as("bestRun")),
      (acc, x) => {
        val run = when(acc("cur") === x, acc("run") + 1).otherwise(1)
        struct(x.as("cur"), run.as("run"),
          when(run > acc("bestRun"), x).otherwise(acc("best")).as("best"),
          greatest(run, acc("bestRun")).as("bestRun"))
      },
      acc => acc("best"))
  }

  /** Per-community modularity PARTS (Newman & Girvan 2004): for each
    * community of a labeling, the intra-community canonical edge count
    * `n_intra_edges` (both endpoints in the community) and the community
    * degree sum `degree_sum` — the two integer sufficient statistics of
    * Q = Σ_c [ e_c/m − (d_c/2m)² ]. Exposed as integers so community
    * quality is exact-oracle-checkable even when the community DETECTOR
    * ([[labelPropagation]]) is iterative/rows-only; [[modularity]] folds
    * them into the one-row (m, q_num, q_den) form.
    *
    * Graph semantics match the module's other undirected operators
    * (canonical a<b edges, self-loops/nulls/duplicates dropped), over
    * the LABELED subgraph: edges with an endpoint missing from
    * `communities` are excluded from m, intra counts, and degrees — the
    * restricted graph's modularity, deterministic instead of silently
    * null-joining. A NULL community label is a real label (null-safe
    * grouping), matching [[graft.ops.Dedup.contaminationReport]]'s rule.
    *
    * Scale shape: two broadcast-or-shuffle equi-joins of the edge set
    * against the (vertex, community) table, then community-dimension
    * aggregates — no window, no product; the parts table is
    * |communities|-sized.
    *
    * @param communities (vertexCol, communityCol)
    * @return (community, n_intra_edges, degree_sum)
    */
  def modularityParts(edges: DataFrame, communities: DataFrame,
                      srcCol: String = "src", dstCol: String = "dst",
                      vertexCol: String = "vertex",
                      communityCol: String = "community"): DataFrame = {
    val e = canonEdges(edges, srcCol, dstCol)
    val lab = communities
      .select(col(vertexCol).as("_v"), col(communityCol).as("_c"))
      .distinct()
    val le = e
      .join(lab.select(col("_v").as("a"), col("_c").as("_ca")), Seq("a"))
      .join(lab.select(col("_v").as("b"), col("_c").as("_cb")), Seq("b"))
    // degree sums from the labeled edge set's endpoint stream — one
    // union-explode aggregate; intra counts gate on label equality
    // (null-SAFE: two null-labeled endpoints are the same community)
    val degSums = le
      .select(explode(array(col("_ca"), col("_cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("degree_sum"))
    val intra = le.filter(col("_ca") <=> col("_cb"))
      .groupBy(col("_ca").as("community"))
      .agg(count(lit(1)).as("n_intra_edges"))
    degSums.join(intra, degSums("community") <=> intra("community"),
        "left_outer")
      .select(degSums("community"),
        coalesce(col("n_intra_edges"), lit(0L)).as("n_intra_edges"),
        col("degree_sum"))
  }

  /** Modularity Q of a community labeling as an exact integer fraction:
    * Q = q_num / q_den with q_num = 4m·Σ_c e_c − Σ_c d_c² and
    * q_den = 4m² (the closed form of Σ_c [e_c/m − (d_c/2m)²] over a
    * common denominator) — one bounded aggregate over the
    * [[modularityParts]] table plus the 1-row edge count. Integer-only
    * by the data-card rule; the consumer divides. d_c² and 4m² are
    * computed in DECIMAL(38,0) and guard-cast back to BIGINT (the
    * [[graft.ops.CorpusOps.aucExact]] overflow discipline — at 10⁹+
    * edges the fraction overflows BIGINT and this raises instead of
    * wrapping).
    *
    * @return one row (m, sum_intra, q_num, q_den)
    */
  def modularity(edges: DataFrame, communities: DataFrame,
                 srcCol: String = "src", dstCol: String = "dst",
                 vertexCol: String = "vertex",
                 communityCol: String = "community"): DataFrame = {
    val dec = "decimal(38,0)"
    def guarded(x: Column, what: String): Column =
      when(x > lit(Long.MaxValue).cast(dec) ||
          x < lit(Long.MinValue).cast(dec),
        raise_error(concat(lit(s"modularity: $what overflows BIGINT: "),
          x.cast("string"))).cast("long"))
        .otherwise(x.cast("long"))
    val e = canonEdges(edges, srcCol, dstCol)
    val lab = communities
      .select(col(vertexCol).as("_v"), col(communityCol).as("_c"))
      .distinct()
    val m = e
      .join(lab.select(col("_v").as("a")), Seq("a"), "left_semi")
      .join(lab.select(col("_v").as("b")), Seq("b"), "left_semi")
      .agg(count(lit(1)).cast(dec).as("_m"))
    modularityParts(edges, communities, srcCol, dstCol, vertexCol,
        communityCol)
      .agg(sum(col("n_intra_edges")).cast(dec).as("_si"),
        sum(col("degree_sum").cast(dec) * col("degree_sum").cast(dec))
          .as("_sd2"))
      .crossJoin(m) // 1-row totals
      .select(guarded(col("_m"), "m").as("m"),
        guarded(coalesce(col("_si"), lit(0).cast(dec)), "sum_intra")
          .as("sum_intra"),
        guarded(lit(4).cast(dec) * col("_m") *
            coalesce(col("_si"), lit(0).cast(dec)) -
            coalesce(col("_sd2"), lit(0).cast(dec)), "q numerator")
          .as("q_num"),
        guarded(lit(4).cast(dec) * col("_m") * col("_m"), "q denominator")
          .as("q_den"))
  }
}
