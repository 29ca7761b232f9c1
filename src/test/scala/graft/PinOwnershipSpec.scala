package graft

import java.nio.file.Files

import graft.graph.{ConnectedComponents, GraphOps, Iterate}
import graft.ops.Similarity
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Every pin has an owner: a session artifact owns the pins its build
  * kept ([[SparkEntry.artifact]]), a query scope ([[Pins.track]] in
  * [[Bench.run]]) releases the pins its query left and no artifact owns,
  * and nothing else is released.
  */
class PinOwnershipSpec extends AnyFunSuite with BeforeAndAfterAll
    with TimeLimits {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("pinowner-wh").toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("pin-ownership-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private type Query = (SparkSession, String) => DataFrame

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Pins left after `body` that no artifact owns and that did not exist
    * before it.
    */
  private def strayPinsOf(body: => Unit): Set[Int] = {
    val before = persisted
    body
    persisted -- SparkEntry.livePinRddIds(spark) -- before
  }

  /** Jobs `body` starts. A sentinel job marks the end: the listener bus
    * delivers in order, so once it is seen every earlier job was counted.
    */
  private def jobCount(body: => Unit): Int = {
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
    seen.asScala.toSeq.takeWhile(_ != sentinel).size
  }

  test("Pins.track reports the pins a body created and kept, nothing else") {
    val old = spark.range(10).toDF("n").localCheckpoint(true)
    val (_, pins) = Pins.track(spark.sparkContext) {
      val dropped = spark.sparkContext.parallelize(1 to 20).localCheckpoint()
      dropped.count()
      dropped.unpersist(blocking = true)
      spark.range(30).toDF("n").localCheckpoint(true)
    }
    assert(pins.size == 1 && persisted(pins.head))
    Pins.release(spark.sparkContext, pins)
    assert(!persisted(pins.head))
    assert(old.count() == 10, "a pin older than the scope is not the scope's")
  }

  test("artifact pins held in a Vector or an Array survive two Bench passes") {
    val probes = Map[String, Query](
      "q_vector" -> ((s, d) => SparkEntry.artifact("test_vector", s, d)(
        Vector(s.range(100).toDF("n").localCheckpoint(true))).head),
      "q_array" -> ((s, d) => SparkEntry.artifact("test_array", s, d)(
        Array(s.range(50).toDF("n").localCheckpoint(true))).head))
    var errors = Map.empty[String, String]
    val stray = strayPinsOf {
      errors = Bench.run(probes, spark, sfDir, passes = 2)._2
    }
    assert(errors.isEmpty, s"released artifact pins: $errors")
    assert(stray.isEmpty, s"stray pins: $stray")
    assert(probes("q_vector")(spark, sfDir).count() == 100)
    assert(probes("q_array")(spark, sfDir).count() == 50)
  }

  test("Bench on a second session of the context keeps the first's artifacts") {
    val a = spark.newSession()
    val probe = SparkEntry.queries("q_ann_ivf")
    val (expected, built) = Pins.track(spark.sparkContext)(
      probe(a, sfDir).collect().toSeq)
    val aPins = built intersect SparkEntry.livePinRddIds(a)
    assert(aPins.nonEmpty, "q_ann_ivf's index should hold pins")
    // the second session runs a pin-leaking query and builds its own
    // artifact; session A's pins predate both query scopes
    val subset = Seq("q_tfidf_cosine_pairs", "q_bm25_probe")
      .map(n => n -> SparkEntry.queries(n)).toMap
    val (_, errors) = Bench.run(subset, a.newSession(), sfDir, passes = 2)
    assert(errors.isEmpty, s"$errors")
    assert(aPins.subsetOf(persisted), s"released: ${aPins -- persisted}")
    assert(probe(a, sfDir).collect().toSeq == expected)
  }

  test("nested artifact builds neither throw nor deadlock") {
    val fresh = spark.newSession()
    failAfter(10.minutes) {
      assert(SparkEntry.queries("q_ann_ivf_quant")(fresh, sfDir)
        .collect().nonEmpty)
    }(ThreadSignaler)
    // an outer artifact owns the pins of an inner one it built; a lookup
    // never rebuilds, also when four threads ask at once
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def outer(s: SparkSession) = SparkEntry.artifact("test_outer", s, sfDir) {
      builds.incrementAndGet()
      val inner = SparkEntry.artifact("test_inner", s, sfDir)(
        s.range(7).toDF("n").localCheckpoint(true))
      (inner, inner.union(inner).localCheckpoint(true))
    }
    val s = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val got = Await.result(
        Future.sequence((1 to 4).map(_ => Future(outer(s)))),
        Duration(5, "min"))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
      assert(got.head._2.count() == 14)
    } finally pool.shutdown()
    val (inner, both) = outer(s)
    val owned = SparkEntry.livePinRddIds(s)
    Seq(inner, both).foreach { df =>
      val ids = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      assert(ids.nonEmpty && ids.forall(owned), s"unowned pin of $df")
    }
  }

  /** Every query that reads a session artifact, one or more per artifact
    * (all 18 artifacts of SparkEntry).
    */
  private val artifactQueries = Seq(
    "q_ann_ivf", "q_ann_ivf_append", "q_ann_ivf_compact", "q_ann_ivf_quant",
    "q_ann_ivf_split", "q_ann_ivfq_split", "q_bm25_append",
    "q_bm25_compact", "q_bm25_drift", "q_bm25_probe",
    "q_bm25_probe_persisted", "q_bpe_encode", "q_bpe_merges",
    "q_bpe_roundtrip", "q_byte_bpe_roundtrip", "q_ivfpq_append",
    "q_ivfpq_compact", "q_ivfpq_probe", "q_ivfpq_topk",
    "q_knn_classify_ann", "q_nsw_append", "q_nsw_probe", "q_nsw_topk",
    "q_nsw_topk_persisted", "q_pq_probe_rerank", "q_rrf_fuse",
    "q_unigram_encode", "q_unigram_pieces", "q_unigram_roundtrip")

  test("every artifact-reading query survives two Bench passes, no stray pin") {
    val s = spark.newSession()
    val subset = artifactQueries.map(n => n -> SparkEntry.queries(n)).toMap
    var errors = Map.empty[String, String]
    val stray = strayPinsOf {
      errors = Bench.run(subset, s, sfDir, passes = 2)._2
    }
    assert(errors.isEmpty, s"$errors")
    assert(stray.isEmpty, s"stray pins: $stray")
    assert(SparkEntry.livePinRddIds(s).subsetOf(persisted),
      "an owned pin was released")
  }

  private def isBroadcast(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[ResolvedHint]

  test("a count-gated broadcast costs its pin's jobs and no count job") {
    val narrow = spark.range(1000).select((col("id") % 7).as("k"))
    var gated: DataFrame = null
    assert(jobCount { gated = Iterate.gatedBroadcast(narrow) } == 1)
    assert(isBroadcast(gated) && gated.count() == 1000)
    // an aggregate's pin runs a job per AQE stage; the gate adds none
    val agg = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    val pinJobs = jobCount { agg.localCheckpoint(true) }
    assert(jobCount { gated = Iterate.gatedBroadcast(agg) } == pinJobs)
    assert(isBroadcast(gated) && gated.count() == 7)
  }

  test("the gate broadcasts up to its cap, not above, and gates empty input") {
    val five = spark.range(5).toDF("n")
    assert(isBroadcast(Iterate.gatedBroadcast(five, cap = 5)))
    assert(!isBroadcast(Iterate.gatedBroadcast(five, cap = 4)))
    val empty = spark.range(100).filter(col("id") < 0)
      .groupBy(col("id") % 3).count()
    val gated = Iterate.gatedBroadcast(empty, cap = 0)
    assert(isBroadcast(gated) && gated.isEmpty)
  }

  /** Ids of the pinned RDDs a frame's plan reads. */
  private def pinsOf(dfs: DataFrame*): Set[Int] = dfs.flatMap(
    _.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id })
    .toSet

  test("Pins.release frees a pin, and Iterate's Pin.release goes through it") {
    val a = Iterate.pin(spark.range(10).toDF("n"))
    val b = Iterate.pin(spark.range(20).toDF("n"))
    val ids = pinsOf(a.df) ++ pinsOf(b.df)
    assert(ids.size == 2 && ids.subsetOf(persisted))
    Pins.release(a.df)
    b.release()
    assert((ids intersect persisted).isEmpty)
  }

  test("a frame derived from pins is not a pin; a hinted or aliased pin is") {
    val p = spark.range(10).toDF("n").localCheckpoint(true)
    intercept[IllegalArgumentException](Pins.release(p.select(col("n") + 1)))
    intercept[IllegalArgumentException](Pins.release(p.union(p)))
    assert(p.count() == 10, "a rejected release freed nothing")
    Pins.release(broadcast(p).as("pinned"))
    assert(!persisted(pinsOf(p).head))
  }

  test("iterative operators keep only the pins their result holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val graph = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .toDF("src", "dst")
    // a triangle with a six-edge tail: k = 2 peels the tail over rounds
    val tailed = ((0L, 1L) +: (1L, 2L) +: (2L, 0L) +:
      (2L to 7L).map(i => (i, i + 1))).toDF("src", "dst")
    val chain = (1 to 9).map(i => (s"u$i", s"u${i + 1}")).toDF("src", "dst")
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val vecs = (0 until 200).map(i => (i.toLong,
      Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val authorOf = (0 until 30).map(i => (s"a${i % 11}", s"o${i % 7}"))
      .toDF("src", "dst")
    // small inputs fold on the driver; Iterate.distributed runs the loops
    for (distributed <- Seq(false, true)) {
      def check(name: String)(result: => Seq[DataFrame]): Unit = {
        val before = persisted
        val held = if (distributed) Iterate.distributed(result) else result
        val grown = persisted -- before
        val stray = grown -- pinsOf(held: _*)
        assert(stray.isEmpty, s"$name (distributed: $distributed) left " +
          s"pins its result does not hold: $stray")
      }
      check("labelPropagation")(Seq(GraphOps.labelPropagation(graph)))
      check("kCore")(Seq(GraphOps.kCore(tailed, k = 2)))
      check("ConnectedComponents.run")(Seq(ConnectedComponents.run(
        path.select(col("src").as("id")).union(path.select(col("dst"))),
        path, smallGraphThreshold = 0)))
      check("coauthorComponents")(Seq(GraphOps.coauthorComponents(authorOf)))
      check("unitHierarchy")(Seq(GraphOps.unitHierarchy(chain)))
      check("authorRank")(Seq(GraphOps.authorRank(authorOf)))
      check("pageRank")(Seq(GraphOps.pageRank(graph)))
      check("buildIvfIndex") {
        val idx = Similarity.buildIvfIndex(vecs, nCenters = 4, iters = 3)
        Seq(idx.centroids, idx.cells)
      }
      check("kmeansCentroids")(Seq(
        Similarity.kmeansCentroids(vecs, nCenters = 4, iters = 2)))
    }
  }

  test("src/main pins only by eager localCheckpoint, releases only by Pins") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "run from the repository root")
    val banned = Seq(raw"\.unpersist\(", raw"\.cache\(\)", raw"\.persist\(",
      raw"localCheckpoint\((?!true\))").map(_.r)
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(root).iterator().asScala.toSeq.filter(p =>
      p.toString.endsWith(".scala") && p.getFileName.toString != "Pins.scala")
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).isDefined)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(sources.nonEmpty && hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
