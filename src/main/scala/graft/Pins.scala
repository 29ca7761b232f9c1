package graft

import org.apache.spark.SparkContext

/** Pin ownership by scope. Every pin in this codebase is an eager
  * `localCheckpoint(true)`, which registers its RDD with the context's
  * persistent RDDs before it returns; unpersisting that RDD removes it
  * there. So the RDDs persisted at the end of a body that were not
  * persisted at its start are exactly the pins the body created and did
  * not release: the body owns them, to keep or to release. (A pinned
  * frame's `Dataset.unpersist` does not release it: that only drops
  * CacheManager entries, so [[release]] unpersists the RDDs.)
  *
  * A scope covers the whole SparkContext, so it assumes one query at a
  * time per context (true of [[Bench]] and [[Verify]]): pins that
  * another thread creates on the same context while the body runs are
  * counted as the body's.
  */
object Pins {

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
