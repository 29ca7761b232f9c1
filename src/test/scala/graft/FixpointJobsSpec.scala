package graft

import graft.graph.{ConnectedComponents, GraphOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import scala.util.Random

/** The iterative graph operators run one superstep as a few jobs: the
  * round's pin observes its own convergence statistic, so no separate
  * count/head/isEmpty job follows it.
  */
class FixpointJobsSpec extends AnyFunSuite with BeforeAndAfterAll
    with TimeLimits {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("fixpoint-jobs").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Job descriptions of every job `body` starts, in start order. A
    * sentinel job marks the end: the listener bus delivers in order, so
    * once the sentinel is seen every earlier job has been recorded.
    */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.takeWhile(_ != sentinel)
  }

  /** Jobs per superstep of `operator`, keyed by superstep number. */
  private def perSuperstep(descs: Seq[String],
                           operator: String): Map[Int, Int] = {
    val re = s"$operator superstep (\\d+)".r
    descs.collect { case re(i) => i.toInt }
      .groupBy(identity).map { case (i, js) => i -> js.size }
  }

  /** The q_label_propagation / q_k_core graph: 500 doc ids hashed onto
    * 97 vertices.
    */
  private def md5Graph: DataFrame =
    spark.range(500).select(
      (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 97).as("src"),
      (conv(substring(md5(concat(col("id").cast("string"), lit(":t"))),
        1, 8), 16, 10).cast("long") % 97).as("dst"))

  test("labelPropagation: at most 4 jobs per superstep") {
    var out: Array[(Long, Long)] = null
    val descs = jobDescriptions {
      out = GraphOps.labelPropagation(md5Graph, maxIter = 10).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
    }
    val rounds = perSuperstep(descs, "labelPropagation")
    assert(rounds.nonEmpty)
    assert(rounds.values.forall(_ <= 4), rounds)
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("kCore: at most 5 jobs per superstep, result unchanged") {
    var core: Set[(Long, Long)] = null
    val descs = jobDescriptions {
      core = GraphOps.kCore(md5Graph, k = 5).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    val rounds = perSuperstep(descs, "kCore")
    assert(rounds.nonEmpty)
    assert(rounds.values.forall(_ <= 5), rounds)
    assert(core == referenceKCore(md5Graph, 5))
  }

  test("kCore: peel detection holds when the keep set is shuffled, not " +
      "broadcast") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      import spark.implicits._
      // a path of 30 vertices hanging off a 6-clique peels one layer a
      // round at k = 2 — many rounds, each decided by the peel count
      val clique = for (a <- 0L until 6L; b <- 0L until 6L if a < b)
        yield (a, b)
      val path = (5L until 35L).map(i => (i, i + 1))
      val e = (clique ++ path).toDF("src", "dst")
      val core = GraphOps.kCore(e, k = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(core == referenceKCore(e, 2))
      assert(core.map(_._1) == (0L until 6L).toSet)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Driver-side peel: drop every vertex of degree < k until none is. */
  private def referenceKCore(edges: DataFrame, k: Int): Set[(Long, Long)] = {
    var e = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    var done = false
    while (!done) {
      val deg = e.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, xs) => v -> xs.size }
      val e2 = e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      done = e2.size == e.size
      e = e2
    }
    e.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }.toSet
  }

  /** The label-propagation round as it ran before the one-exchange
    * rewrite: a (vertex, label) vote count, then a min_by argmax with
    * (count desc, label asc) tie-break, and a separate changed-label
    * count per round.
    */
  private def referenceLabelPropagation(edges: DataFrame,
                                        maxIter: Int): Set[(Long, Long)] = {
    val e = edges
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    var labels = sym.select(col("u").as("vertex")).distinct()
      .withColumn("community", col("vertex")).localCheckpoint(true)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val nbrVotes = sym
        .join(labels.select(col("vertex").as("v"), col("community")),
          Seq("v"))
        .select(col("u").as("vertex"), col("community"))
      val next = nbrVotes.union(labels)
        .groupBy("vertex", "community").agg(count(lit(1)).as("_n"))
        .groupBy("vertex")
        .agg(min_by(col("community"), struct(-col("_n"), col("community")))
          .as("community"))
        .localCheckpoint(true)
      converged = next
        .join(labels.withColumnRenamed("community", "_prev"), Seq("vertex"))
        .filter(col("community") =!= col("_prev")).count() == 0
      labels = next
      it += 1
    }
    labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
  }

  test("labelPropagation equals the two-aggregate reference round on " +
      "random graphs with planted ties") {
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val random = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // planted ties: an even cycle gives every vertex three votes of
      // one each (itself and two neighbours); a 2-star gives its centre
      // a three-way tie and its leaves two-way ties
      val cycle = (0 until 8).map(i => (100L + i, 100L + (i + 1) % 8))
      val star = Seq((200L + trial, 210L), (200L + trial, 220L))
      val edges = (random ++ cycle ++ star).toDF("src", "dst")
      for (maxIter <- Seq(1, 3, 20)) {
        val got = GraphOps.labelPropagation(edges, maxIter = maxIter)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
        assert(got == referenceLabelPropagation(edges, maxIter),
          s"trial $trial, maxIter $maxIter")
      }
    }
    val md5 = GraphOps.labelPropagation(md5Graph, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(md5 == referenceLabelPropagation(md5Graph, 10))
  }

  test("empty and self-loop-only inputs terminate with empty results") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    implicit val signaler: ThreadSignaler.type = ThreadSignaler
    failAfter(120.seconds) {
      for (e <- Seq(empty, loops)) {
        assert(GraphOps.labelPropagation(e).count() == 0)
        assert(GraphOps.kCore(e, k = 1).count() == 0)
        for (threshold <- Seq(0L, 2000000L)) // loop and union-find paths
          assert(ConnectedComponents.run(Seq.empty[Long].toDF("id"), e,
            smallGraphThreshold = threshold).count() == 0)
      }
      assert(GraphOps.unitHierarchy(empty).count() == 0)
      // a unit that is its own parent: the depth-1 row and nothing more
      assert(GraphOps.unitHierarchy(loops).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
        Set((1L, 1L, 1), (2L, 2L, 1)))
    }
  }

  test("fixpoint restores the caller's job description") {
    val sc = spark.sparkContext
    sc.setJobDescription("curate: outer")
    try {
      GraphOps.labelPropagation(md5Graph, maxIter = 2).count()
      assert(sc.getLocalProperty("spark.job.description") == "curate: outer")
    } finally sc.setJobDescription(null)
  }

  test("fixed-point rank guards keep their messages on both paths") {
    import spark.implicits._
    for (fold <- Seq(2000000L, 0L)) {
      val frac = intercept[IllegalArgumentException] {
        GraphOps.pageRank(Seq(("a", "b", 1.5), ("b", "c", 2.0))
            .toDF("src", "dst", "w"), weightCol = Some("w"), maxIter = 2,
          scale = Some(1000000L), driverFoldMaxRows = fold).collect()
      }
      assert(frac.getMessage.contains("fixed-point rank mode requires " +
        "integer-valued weights"))
      val neg = intercept[IllegalArgumentException] {
        GraphOps.pageRank(Seq(("a", "b", -1.0), ("b", "c", 2.0))
            .toDF("src", "dst", "w"), weightCol = Some("w"), maxIter = 2,
          scale = Some(1000000L), driverFoldMaxRows = fold).collect()
      }
      assert(neg.getMessage.contains("fixed-point rank mode requires " +
        "non-negative weights (min w = -1.0)"))
    }
    // the same guards behind authorRank's fixed mode: a valid lattice runs
    val authorOf = Seq(("a1", "o1"), ("a2", "o1"), ("a3", "o2"), ("a1", "o2"))
      .toDF("src", "dst")
    assert(GraphOps.authorRank(authorOf, tol = 0.0, maxIter = 3,
      scale = Some(1000000L)).count() == 3)
  }
}
