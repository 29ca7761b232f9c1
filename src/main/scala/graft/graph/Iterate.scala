package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The superstep primitive shared by the iterative graph operators
  * (Pregelix's "one fixed dataflow per superstep"): a round is ONE job
  * that both writes the next state and reports the statistic the loop
  * tests for convergence.
  *
  *  - [[pin]] materializes a frame with an eager `localCheckpoint` and
  *    collects aggregate statistics over its rows through
  *    `Dataset.observe` in the SAME job — no separate `count()` /
  *    `head()` / `isEmpty` pass over the pinned rows.
  *  - [[fixpoint]] runs the rounds: it labels each round's jobs
  *    `"<operator> superstep <i>"` (restoring the caller's description
  *    afterwards), releases the previous state in a `finally`, logs one
  *    record per round (observed statistics, seconds), and WARNs when the
  *    round budget runs out before the fixpoint.
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
    def release(): Unit = df.unpersist()
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
    val sc = SparkSession.active.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    var cur = init
    var round = 0
    try {
      while (!cur.converged && round < maxIter) {
        round += 1
        sc.setJobDescription(s"$operator superstep $round")
        val t0 = System.nanoTime()
        val prev = cur.state
        cur = try step(prev) finally release(prev)
        if (log.isInfoEnabled)
          log.info(f"$operator superstep $round: ${show(cur.stats)}, " +
            f"${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    } finally sc.setJobDescription(callerDescription)
    if (!cur.converged)
      log.warn(s"$operator: no fixpoint after $round supersteps " +
        s"(last superstep: ${show(cur.stats)})")
    Outcome(cur.state, round, cur.converged, cur.stats)
  }

  private def show(stats: Map[String, Any]): String =
    stats.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
}
