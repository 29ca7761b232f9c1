package graft

import scala.annotation.tailrec

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint,
  SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** What a pin is and how one is freed. A pin is an eager
  * `localCheckpoint(true)`: its frame's plan is a `LogicalRDD` over the
  * checkpointed RDD, which is registered with the context's persistent
  * RDDs before the call returns. [[release]] unpersists that RDD — the
  * one way to free a pin (`Dataset.unpersist` only drops CacheManager
  * entries and leaves the checkpointed blocks where they are). A frame
  * derived from pins (a projection, join or union) is not a pin and is
  * rejected: whoever releases it would free blocks another owner reads.
  *
  * [[track]] scopes ownership: the RDDs persisted at the end of a body
  * that were not persisted at its start are exactly the pins the body
  * created and did not release. A scope covers the whole SparkContext,
  * so it assumes one query at a time per context (true of [[Bench]] and
  * [[Verify]]); operators, ingest and streaming batches release by frame.
  */
object Pins {

  /** Release the pinned frames. Each RDD leaves `getPersistentRDDs` at
    * once; its blocks are dropped in the background, since nothing reads
    * a released pin.
    *
    * @throws IllegalArgumentException for a frame that is not a pin
    */
  def release(frames: DataFrame*): Unit =
    frames.foreach(f =>
      rddOf(f.queryExecution.analyzed).unpersist(blocking = false))

  @tailrec private def rddOf(plan: LogicalPlan): RDD[_] = plan match {
    case r: LogicalRDD => r.rdd
    case h: ResolvedHint => rddOf(h.child)
    case a: SubqueryAlias => rddOf(a.child)
    case other => throw new IllegalArgumentException(
      s"not a pin (an eager localCheckpoint frame): ${other.nodeName}")
  }

  /** `body`'s result with the ids of the pins it created and kept. */
  def track[A](sc: SparkContext)(body: => A): (A, Set[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val result = body
    (result, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Unpersist the pins `ids`, returning once their blocks are gone. */
  def release(sc: SparkContext, ids: Set[Int]): Unit = {
    val live = sc.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = true)))
  }
}
