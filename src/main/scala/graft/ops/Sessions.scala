package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Batch sessionization: split each key's event stream into sessions at
  * inactivity gaps, over historical data.
  *
  * Shape: ONE shuffle on the keys, then two window passes over the same
  * (keys, ts) sort order — Catalyst reuses the single sort for both: a lag
  * to flag gap boundaries, a running sum to number them. Cost per key is
  * O(its rows); a hot key never fans out. This is the canonical
  * "boundary flag → prefix-sum" window composition, which is exactly
  * SQL-expressible and therefore oracle-checkable.
  */
object Sessions {

  /** Epoch micros of a timestamp column of EITHER flavor: the cast is an
    * identity on TIMESTAMP and a uniform session-tz shift on
    * TIMESTAMP_NTZ (`unix_micros` rejects NTZ directly) — gap and
    * duration arithmetic difference two such values, so the shift cancels.
    */
  private def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Annotate events with `session_index` (0-based per key, in ts order)
    * and a deterministic `session_id` string key-session composite.
    *
    * @param gapSeconds a new session starts when the gap since the
    *   previous event of the same key strictly exceeds this
    */
  def sessionize(events: DataFrame, keys: Seq[String], tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val newSession = coalesce(
      epochUs(col(tsCol)) - epochUs(lag(col(tsCol), 1).over(byKey)) >
        gapSeconds * 1000000L,
      lit(true)) // first event of a key opens a session
    events
      .withColumn("_boundary", newSession.cast("long"))
      .withColumn("session_index",
        (sum(col("_boundary")).over(byKey.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)) - 1).cast("long"))
      .withColumn("session_id",
        concat_ws("#", (keys.map(col) :+ col("session_index")): _*))
      .drop("_boundary")
  }

  /** Per-session rollup: bounds, duration, event count. */
  def sessionStats(sessionized: DataFrame, keys: Seq[String],
                   tsCol: String): DataFrame =
    sessionized.groupBy((keys :+ "session_index").map(col): _*)
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        (epochUs(max(col(tsCol))) - epochUs(min(col(tsCol))))
          .as("duration_us"),
        count(lit(1)).as("n_events"))

  /** Funnel analysis, EARLIEST-ANCHORED: per user, `t1` is the first
    * occurrence of step 1; each later step is the first event of its
    * type at-or-after the previous step's time AND within
    * `withinSeconds` of the ANCHOR (ClickHouse windowFunnel's window
    * convention). Deterministic and exactly SQL-expressible — the
    * sliding-anchor greedy variant (retry from every step-1 event) can
    * reach deeper but is order-sensitive per-user state; this is the
    * conservative, oracle-checkable definition, stated here so the
    * semantics are the contract. A step list with REPEATED types uses
    * at-or-after matching, so one event can satisfy two consecutive
    * identical steps — deduplicate or pre-label such streams upstream
    * if each step must consume a distinct event.
    *
    * Shape: one filtered aggregation per step, chained by equi-joins on
    * the user key — the step filter pushes into the scan, every join is
    * a hash join on `userCol`, per-step state is one timestamp per
    * user. No per-user event buffering (a windowFunnel-style
    * TypedImperativeAggregate must collect and sort each user's events
    * to be merge-correct — a hot user then owns an unbounded buffer).
    * k−1 shuffles for a k-step funnel, each over only that step's
    * filtered events.
    *
    * @return (userCol, t1 … tk nullable timestamps, stage ∈ [1, k]) —
    *         one row per user who performed step 1
    */
  def funnel(events: DataFrame, steps: Seq[String],
             withinSeconds: Long,
             userCol: String = "user_id", tsCol: String = "ts",
             typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2 && steps.size <= 8,
      s"funnel: 2..8 steps (got ${steps.size})")
    require(withinSeconds > 0, s"need withinSeconds > 0 (got $withinSeconds)")
    val k = steps.size
    def stepEvents(i: Int): DataFrame = events
      .filter(col(typeCol) === steps(i) && col(tsCol).isNotNull &&
        col(userCol).isNotNull)
      .select(col(userCol), col(tsCol).as("_ts"))
    var cur = stepEvents(0).groupBy(userCol)
      .agg(min(col("_ts")).as("t1"))
    for (i <- 2 to k) {
      val prevTs = Seq.tabulate(i - 1)(j => s"t${j + 1}")
      cur = stepEvents(i - 1)
        .join(cur, Seq(userCol))
        .filter(col("_ts") >= col(s"t${i - 1}") &&
          col("_ts") <= col("t1") + expr(s"INTERVAL $withinSeconds SECOND"))
        .groupBy((userCol +: prevTs).map(col): _*) // t1..t_{i-1} are
        .agg(min(col("_ts")).as(s"t$i")) // constant per user
        .join(cur, (userCol +: prevTs), "right_outer") // keep partials
        .select((userCol +: prevTs :+ s"t$i").map(col): _*)
    }
    // fold 2..k so the DEEPEST reached stage is the outermost test
    // (t_i non-null implies all earlier t's non-null)
    val stage = (2 to k).foldLeft(lit(1)) { (acc, i) =>
      when(col(s"t$i").isNotNull, lit(i)).otherwise(acc)
    }
    cur.withColumn("stage", stage)
  }

  /** Funnel analysis, SLIDING-ANCHOR (ClickHouse windowFunnel's greedy
    * mode — the variant [[funnel]]'s scaladoc scopes out): per user the
    * MAXIMUM depth over ALL step-1 anchors — a chain may start at any
    * step-1 event, each later step must follow the chain's previous step
    * in (ts, step) order and fall within `withinSeconds` of that chain's
    * OWN anchor. Reaches at least as deep as the earliest-anchored form
    * (a later anchor strictly dominates: any continuation within window
    * of an earlier anchor is within window of a later one, which is why
    * per-level state only needs the LATEST anchor able to reach that
    * level — the standard windowFunnel recurrence, one pass with O(k)
    * state after the per-user sort).
    *
    * Pinned semantics: events sort by (ts, step index), so
    * equal-timestamp events chain in step order (the at-or-after rule of
    * [[funnel]]); each event advances exactly its own step's level, so
    * REPEATED step types are rejected (`require(distinct)`) rather than
    * silently double-matched.
    *
    * Scale shape: the stream is pre-filtered to the k step types and
    * shuffled ONCE on the user key; each user's step events buffer only
    * for the sort, guarded by a hard `maxEventsPerUser` cap that RAISES
    * on pathological users (the maxPairs discipline — silent truncation
    * would understate depth). The recurrence is monotone (each level's
    * anchor is a running MAX of the previous level's window-valid
    * candidates), so it replays exactly as k−1 chained running-max
    * window layers — q_funnel_sliding rides an exact oracle;
    * Round8OpsSpec additionally pins goldens, the dominance property vs
    * [[funnel]], and the planted stream where sliding reaches strictly
    * deeper.
    *
    * @return (userCol long, stage ∈ [1, k], anchor_us epoch-micros of
    *         the deepest chain's latest anchor) — one row per user with
    *         ≥ 1 step-1 event
    */
  def funnelSliding(events: DataFrame, steps: Seq[String],
                    withinSeconds: Long, maxEventsPerUser: Int = 1 << 20,
                    userCol: String = "user_id", tsCol: String = "ts",
                    typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2 && steps.size <= 8,
      s"funnelSliding: 2..8 steps (got ${steps.size})")
    require(steps.distinct.size == steps.size,
      "funnelSliding: step types must be distinct (an event advances " +
        "exactly one level; use funnel's at-or-after form for repeats)")
    require(withinSeconds > 0, s"need withinSeconds > 0 (got $withinSeconds)")
    require(maxEventsPerUser >= 2,
      s"need maxEventsPerUser >= 2 (got $maxEventsPerUser)")
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.size
    val idx = steps.zipWithIndex.toMap
    val windowUs = withinSeconds * 1000000L
    events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isin(steps: _*))
      .select(col(userCol).cast("long"), epochUs(col(tsCol)), col(typeCol))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (user, it) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        it.foreach { e =>
          buf += ((e._2, idx(e._3)))
          if (buf.length > maxEventsPerUser)
            throw new IllegalStateException(
              s"funnelSliding: user $user exceeds maxEventsPerUser=" +
                s"$maxEventsPerUser step events — raise the cap or " +
                "pre-thin the stream")
        }
        buf.sortInPlace()
        // anchor(j) = latest step-1 timestamp whose chain reached level
        // j+1 given the events processed so far (time order = buf order)
        val anchor = Array.fill(k)(Long.MinValue)
        buf.foreach { case (ts, s) =>
          if (s == 0) { if (ts > anchor(0)) anchor(0) = ts }
          else if (anchor(s - 1) != Long.MinValue &&
              ts - anchor(s - 1) <= windowUs &&
              anchor(s - 1) > anchor(s))
            anchor(s) = anchor(s - 1)
        }
        if (anchor(0) == Long.MinValue) Iterator.empty
        else {
          val depth = anchor.lastIndexWhere(_ != Long.MinValue) + 1
          Iterator.single((user, depth, anchor(depth - 1)))
        }
      }
      .toDF(userCol, "stage", "anchor_us")
  }

  /** Event-transition (first-order Markov) counts: how often each event
    * type is immediately followed by each other type within a user's
    * stream — the path-analysis primitive behind "where do users go
    * after X" and drop-off diagnosis, and the raw counts for a
    * transition-probability matrix (the consumer's division).
    *
    * One window shuffle on the user key — per-user cost is O(its rows),
    * the same bounded-partition exemption sessionize documents — then a
    * pair-lattice-sized count. The sort key (ts, type, extra tiebreaks)
    * is made TOTAL by appending `tieBreakCols` — every tiebreak column
    * must exist (validated up front, the default `event_id` included)
    * and sorts NULLS LAST explicitly: Spark's bare `asc` is nulls-first
    * where DuckDB defaults to nulls-last, so a nullable tiebreak would
    * otherwise reorder colliding rows differently per engine. With that
    * pinned, the lead sequence — and therefore the counts — are
    * deterministic and exactly SQL-replicable even when timestamps
    * collide.
    *
    * @return (event_type, next_type, n)
    */
  def eventTransitions(events: DataFrame,
                       userCol: String = "user_id",
                       tsCol: String = "ts",
                       typeCol: String = "event_type",
                       tieBreakCols: Seq[String] = Seq("event_id")
                      ): DataFrame = {
    val missing = (tieBreakCols :+ userCol :+ tsCol :+ typeCol)
      .filterNot(events.columns.contains)
    require(missing.isEmpty,
      s"eventTransitions: column(s) not in input: ${missing.mkString(", ")}" +
        " (pass tieBreakCols explicitly if there is no event_id)")
    val order = (col(tsCol) +: col(typeCol) +: tieBreakCols.map(col))
      .map(_.asc_nulls_last)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(typeCol).isNotNull)
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol), col("_next").as("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Weekly cohort retention: users grouped by the ISO week of their
    * FIRST event; cell (cohort_week, offset_weeks) counts distinct
    * users of that cohort active offset weeks later — the standard
    * retention triangle, exactly (both engines truncate weeks to ISO
    * Monday, so cohort and activity weeks align and the day difference
    * is always a multiple of 7).
    *
    * Shape: one aggregation for first-seen, one distinct over (user,
    * week) — both shuffle on the user key — then a broadcast-or-hash
    * join and a cells-sized rollup. Exact distinct counts; swap in
    * approx_count_distinct upstream if the triangle itself is too hot
    * at extreme user counts.
    *
    * @return (cohort_week date, offset_weeks int, n_users)
    */
  def retention(events: DataFrame,
                userCol: String = "user_id",
                tsCol: String = "ts"): DataFrame = {
    val base = events.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
    val firstSeen = base.groupBy(userCol)
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort_week"))
    val active = base
      .select(col(userCol),
        date_trunc("week", col(tsCol)).cast("date").as("_week"))
      .distinct()
    active.join(firstSeen, Seq(userCol))
      .groupBy(col("cohort_week"),
        (datediff(col("_week"), col("cohort_week")) / 7)
          .cast("int").as("offset_weeks"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }
}
