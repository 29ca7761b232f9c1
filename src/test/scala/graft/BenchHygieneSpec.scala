package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bench's between-query pin hygiene: after each timed query the harness
  * unpersists every pinned RDD NOT reachable from SparkEntry's
  * session-lifetime caches (dead pins a query could not release because
  * its result depended on them), while pins reachable from a cached
  * build-once artifact MUST survive — unpersisting those truncates
  * checkpointed lineage and fails every later probe query with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (observed when the hygiene was
  * first implemented without the reachability guard). The per-query job
  * counts `Bench.runCounted` reports are bounded here too.
  */
class BenchHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("benchhyg-wh").toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("bench-hygiene-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  test("index-family probes stay green across passes while dead pins drop") {
    // One cached-index probe (pins must survive the hygiene to pass 2),
    // one pin-leaking query (its checkpoints are dead after the sink),
    // one plain query. Two passes exercise reuse-after-cleanup.
    val subset = Seq("q_ann_ivf", "q_nsw_topk", "q_bm25_probe",
      "q_tfidf_cosine_pairs", "q_census")
      .map(n => n -> SparkEntry.queries(n)).toMap
    val (times, errors) = Bench.run(subset, spark, sfDir, passes = 2)
    assert(errors.isEmpty, s"hygiene broke queries: $errors")
    assert(times.size == subset.size)
    // contract: after the run every surviving pin is cache-reachable
    val live = SparkEntry.livePinRddIds(spark)
    val stray = spark.sparkContext.getPersistentRDDs.keySet -- live
    assert(stray.isEmpty, s"dead pins survived the hygiene: $stray")
    // and the caches really do hold pinned state worth protecting
    assert(live.nonEmpty, "expected cached index pins to be registered live")
  }

  /** Jobs a Bench pass starts per query at sf0.001 for the queries over
    * the driver-folded operators ([[graph.Iterate.folds]]), measured at
    * the fold's introduction: the folded rounds start no job, and the
    * co-membership queries (q_author_rank, q_author_rank_weighted,
    * q_graph_components) build their graph on the driver too.
    */
  test("registry queries over folded operators stay within their job " +
      "bounds") {
    val bounds = Map("q_label_propagation" -> 4, "q_k_core" -> 5,
      "q_ann_ivf_build" -> 11, "q_author_rank" -> 5,
      "q_author_rank_weighted" -> 5, "q_graph_components" -> 5,
      "q_textrank" -> 13, "q_ppr" -> 10)
    val (_, errors, jobs) = Bench.runCounted(
      bounds.keys.map(q => q -> SparkEntry.queries(q)).toMap,
      spark.newSession(), sfDir, passes = 1)
    assert(errors.isEmpty, errors)
    val over = bounds.collect { case (q, bound) if jobs(q).head > bound =>
      s"$q: ${jobs(q).head} jobs > $bound" }
    assert(over.isEmpty, over)
  }
}
