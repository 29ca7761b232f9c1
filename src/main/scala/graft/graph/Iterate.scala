package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, count, lit}

/** The superstep primitive shared by the iterative operators (Pregelix's
  * "one fixed dataflow per superstep"): a round is ONE job that both
  * writes the next state and reports the statistic the loop tests for
  * convergence.
  *
  *  - [[pin]] materializes a frame with an eager `localCheckpoint` and
  *    collects aggregate statistics over its rows through
  *    `Dataset.observe` in the SAME job — no separate `count()` /
  *    `head()` / `isEmpty` pass over the pinned rows.
  *  - [[gatedBroadcast]] pins a small table with its row count observed
  *    and broadcasts it when the count is under a cap.
  *  - [[fixpoint]] runs the rounds: it labels each round's jobs
  *    `"<operator> superstep <i>"` (restoring the caller's description
  *    afterwards), releases the previous state in a `finally`, logs one
  *    record per round (observed statistics, seconds), and WARNs when the
  *    round budget runs out before the fixpoint.
  *  - [[rounds]] is the fixed-round entry on top of [[fixpoint]]: exactly
  *    `n` rounds, labelled, released and logged the same way, never a
  *    WARN.
  *  - The driver fold runs the rounds of a small input on the driver, over
  *    driver arrays, with no Spark job per round. Its gate is [[folds]]:
  *    the input's row count, observed by the job that pins the input, is
  *    at most [[FoldMaxRows]]. [[decode]] then streams the pinned rows to
  *    the driver, and the fold's result goes back as a local relation,
  *    or pinned where its caller releases it. A folded round still runs
  *    through [[fixpoint]] or [[rounds]], so it
  *    is labelled, logged and WARNed like a distributed one. Each fold
  *    computes what its distributed loop computes, bit for bit; above the
  *    cap the distributed loop runs, and [[distributed]] forces it for any
  *    input (the one seam tests reach it through).
  *
  * [[fixpoint]]'s `while` is the one superstep loop in `graft`. Driven by
  * [[fixpoint]]: `unitHierarchy`, `kCore`, `labelPropagation`,
  * `connectedComponents` and `powerIterate` with `tol > 0` (PageRank,
  * author rank). Driven by [[rounds]]: `kmeans` (the Lloyd loop of
  * `kmeansCentroids`, `buildIvfIndex` and `trainPqCodebooks`),
  * `nswSearch`'s hops and `powerIterate` with `tol <= 0`. Folded below
  * the cap: `labelPropagation` and `kCore` (edge rows), `powerIterate`
  * (edge and vertex rows), the Lloyd loop (vector elements), and
  * `authorRank`, `authorRankWeighted` and `coauthorComponents`
  * (membership rows), which also build their co-membership graph on the
  * driver: the two ranks run `powerIterate`'s fold rounds over it, the
  * components a union-find.
  *
  * Observed statistics live in task accumulators. Callers test
  * convergence as a statistic being zero versus non-zero (no label
  * changed, no vertex peeled) rather than as two counts agreeing, so a
  * re-executed task that double-counts cannot flip the decision. The
  * one equality test, ConnectedComponents' round signature, is observed
  * at the top of the pinned plan, in the job's final stage, where each
  * partition is counted once.
  */
object Iterate {

  private lazy val log = org.apache.log4j.Logger.getLogger(getClass)

  /** A frame pinned by an eager `localCheckpoint` together with the
    * statistics observed by the job that wrote it. The pin's owner
    * releases it with [[release]].
    */
  final case class Pin(df: DataFrame, stats: Map[String, Any]) {
    /** A count-like statistic; an aggregate over no rows (null) reads 0. */
    def long(name: String): Long = stats.get(name) match {
      case Some(null) => 0L
      case Some(n: Number) => n.longValue
      case other => throw new IllegalStateException(
        s"no numeric statistic $name was observed (got $other)")
    }
    def release(): Unit = graft.Pins.release(df)
  }

  /** Pin `df`, observing the named aggregate `stats` over its rows. */
  def pin(df: DataFrame, stats: Column*): Pin = pinAfter(df, stats: _*)(identity)

  /** Pin the frame `finish` derives from `df`, with `stats` observed on
    * `df` itself — before a filter or projection in `finish` drops the
    * rows or columns they count. Still one job. The pin's statistics are
    * every observation in the pinned plan, so a `Dataset.observe` the
    * caller put deeper in the plan (on an aggregate feeding a join, say)
    * is reported too; each is read from the job's own query execution
    * once the pin is written, with no wait on the listener bus.
    */
  def pinAfter(df: DataFrame, stats: Column*)
              (finish: DataFrame => DataFrame): Pin = {
    val observed = finish(
      if (stats.isEmpty) df
      else df.observe(s"pin-${java.util.UUID.randomUUID()}", stats.head,
        stats.tail: _*))
    val pinned = observed.localCheckpoint(true)
    Pin(pinned, observed.queryExecution.observedMetrics.values
      .flatMap(r => r.getValuesMap[Any](r.schema.fieldNames)).toMap)
  }

  /** Row cap of [[gatedBroadcast]]: ~4M rows of a narrow dimension table
    * (8-byte keys, a few terms and longs) is tens to a few hundred MB as
    * a HashedRelation, comfortably inside executor memory and far above
    * any normal corpus's duplicated-gram census or n-gram vocabulary.
    * Callers whose rows carry k-char text pass a fraction of it.
    */
  val BroadcastCap: Long = 4L * 1000 * 1000

  /** Pin a small survivor or dimension table and pick the join strategy
    * from its row count, observed by the pin's own job: an explicit
    * `broadcast` of the pin up to `cap` rows, the plain pin (a shuffled
    * equi-join, linear, no executor-memory ceiling) above it. The gate is
    * explicit because an unhinted plan is not free even when AQE later
    * converts it to a broadcast join: the probe side is shuffle-WRITTEN
    * before AQE can decide (measured 20× on the span queries), and a pin
    * that is a join of pins has a pessimistic size estimate (sizes
    * multiply) that demotes the probe join to a full-stream shuffle
    * (measured 1.2×-2× on the lm scorers).
    */
  def gatedBroadcast(df: DataFrame, cap: Long = BroadcastCap): DataFrame = {
    val p = pin(df, count(lit(1)).as("rows"))
    if (p.long("rows") <= cap) broadcast(p.df) else p.df
  }

  /** Row cap of the driver fold, set from measurements at the cap
    * (`FoldProbe` in the test tree; 4 local cores, long vertex ids, hashed
    * random graphs of 8 arcs a vertex). At 2M rows each fold beats its
    * distributed loop on wall time and peaks at a few hundred MB of live
    * heap, fold (two runs) against loop:
    *
    *  - `labelPropagation`, 2M arcs, 10 rounds: 4.8–5.1 s against
    *    17.4 s, 274–278 MB against 667 MB;
    *  - `kCore`, 2M edges: 4.0–4.5 s against 7.0 s, 179–222 MB against
    *    562 MB;
    *  - `pageRank`, 2M arcs, 10 rounds: 5.2–6.8 s against 16.0 s,
    *    356–365 MB against 516 MB.
    *
    * The co-membership builds gate on membership rows, measured on 2M
    * memberships of 36-character author strings (250k authors, outputs of
    * two authors, so the weighted build's pairs both ways are 2M edges
    * too), result materialized, then two sinks of its 250k rows:
    *
    *  - `coauthorComponents`: 9.3–9.7 s + 2.8 s against 12.0 s + 0.3 s,
    *    408–423 MB against 429 MB;
    *  - `authorRank`, 10 rounds: 8.2–8.4 s + 1.8–1.9 s against
    *    39.7 s + 0.3 s, 484–486 MB against 597 MB;
    *  - `authorRankWeighted`, 10 rounds: 6.2–8.2 s + 1.8–1.9 s against
    *    36.9 s + 0.3 s, 470–491 MB against 917 MB.
    *
    * The components fold thus breaks even at the cap once its local
    * result is acted on twice; the rank folds stay well ahead.
    *
    * The loop's heap includes its tasks, which share the driver's heap in
    * local mode. The fold's state is about 90–180 B a row (the decoded
    * rows and boxed vertex values; string or struct vertex values cost
    * more), which the cap holds under ~400 MB of driver heap. Its result,
    * a local relation of up to one row a vertex, is shipped again by
    * every action on it: two actions on 250k rows took 1.1–1.6 s
    * against 0.2 s on the loop's pinned result, so a caller that acts on a large
    * result many times pins it. The Lloyd loop's fold also has a work cap
    * (`Similarity`): its rounds are cosines, not array passes.
    */
  val FoldMaxRows: Long = 2L * 1000 * 1000

  private val foldCap = new scala.util.DynamicVariable[Long](FoldMaxRows)

  /** The fold cap in force: [[FoldMaxRows]], or 0 inside [[distributed]]. */
  def foldMaxRows: Long = foldCap.value

  /** Run `body` with the fold gate shut: every iterative operator it calls
    * (on this thread, or a thread it starts) takes its distributed loop,
    * whatever the input's size.
    */
  def distributed[A](body: => A): A = foldCap.withValue(0L)(body)

  /** The fold gate: `rows` rows, as counted by the job that pinned them,
    * fold on the driver when they fit [[foldMaxRows]]. Inside
    * [[distributed]] nothing folds.
    */
  def folds(rows: Long): Boolean = foldMaxRows > 0 && rows <= foldMaxRows

  /** Hand each of the `rows` rows of `df` to `f` on the driver, in `df`'s
    * order. Up to 100k rows it is one `collect`, whose boxed rows are a
    * few MB; above it `toLocalIterator` streams a partition at a time, so
    * the driver's peak is the caller's arrays plus one partition of rows,
    * never a cap-sized collect. No rows, no job.
    */
  def decode(df: DataFrame, rows: Long)(f: Row => Unit): Unit =
    if (rows == 0) ()
    else if (rows <= 100000) df.collect().foreach(f)
    else df.toLocalIterator().forEachRemaining(r => f(r))

  /** One superstep's outcome: the next state, the statistics it observed
    * (logged), and whether it reached the fixpoint.
    */
  final case class Superstep[S](state: S, stats: Map[String, Any],
                                converged: Boolean)

  /** Where a [[fixpoint]] loop stopped: the last state (owned by the
    * caller), the rounds run, whether the last round converged, and that
    * round's statistics.
    */
  final case class Outcome[S](state: S, rounds: Int, converged: Boolean,
                              stats: Map[String, Any])

  /** Run `step` from `init` until a round converges or `maxIter` rounds
    * have run. `init` is the state before round 1; when it is already
    * converged (an empty edge set) no round runs. Each round's input
    * state is released by `release` once the round ends, whether it
    * succeeded or threw; the returned state belongs to the caller.
    */
  def fixpoint[S](operator: String, init: Superstep[S], maxIter: Int)
                 (release: S => Unit)(step: S => Superstep[S]): Outcome[S] = {
    var cur = init
    var round = 0
    while (!cur.converged && round < maxIter) {
      round += 1
      val t0 = System.nanoTime()
      val prev = cur.state
      cur = described(s"$operator superstep $round") {
        try step(prev) finally release(prev)
      }
      if (log.isInfoEnabled)
        log.info(s"$operator superstep $round: " +
          (Seq(show(cur.stats)).filter(_.nonEmpty) :+
            f"${(System.nanoTime() - t0) / 1e9}%.3f s").mkString(", "))
    }
    if (!cur.converged)
      log.warn(s"$operator: no fixpoint after $round supersteps " +
        s"(last superstep: ${show(cur.stats)})")
    Outcome(cur.state, round, cur.converged, cur.stats)
  }

  /** Run `step` exactly `n` rounds from `init` and return the last state
    * (the caller's). The round count is the stopping rule, so the state
    * carries the round number and the n-th round is the fixpoint: the
    * rounds are labelled, released and logged as [[fixpoint]]'s are, and
    * the budget running out is no WARN.
    */
  def rounds[S](operator: String, init: S, n: Int)
               (release: S => Unit)(step: S => S): S =
    fixpoint(operator, Superstep((init, 0), Map.empty, converged = n <= 0),
        n)((s: (S, Int)) => release(s._1)) { case (s, i) =>
      Superstep((step(s), i + 1), Map.empty, converged = i + 1 >= n)
    }.state._1

  /** Run `body` with `desc` as the description of the jobs this thread
    * starts, then restore the caller's description, whether `body`
    * returns or throws.
    */
  def described[A](desc: String)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }

  private def show(stats: Map[String, Any]): String =
    stats.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
}
