package graft

import java.nio.file.{Files, Paths}

import graft.graph.{ConnectedComponents, GraphOps, Iterate}
import graft.ops.Similarity
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import scala.util.Random

/** The iterative operators run one superstep as a few jobs: the round's
  * pin observes its own convergence statistic, so no separate
  * count/head/isEmpty job follows it. Every superstep loop is
  * [[Iterate]]'s, so each round's jobs carry its label and only an
  * unconverged fixpoint WARNs. The per-superstep bounds are the
  * distributed loops', reached through [[Iterate.distributed]]; a small
  * input folds on the driver, where a superstep starts no job.
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

  /** `body` on the distributed loops, or as it runs (a small input folds). */
  private def onPath[A](distributed: Boolean)(body: => A): A =
    if (distributed) Iterate.distributed(body) else body

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
      out = Iterate.distributed(GraphOps.labelPropagation(md5Graph,
        maxIter = 10)).collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    val rounds = perSuperstep(descs, "labelPropagation")
    assert(rounds.nonEmpty)
    assert(rounds.values.forall(_ <= 4), rounds)
    assert(out.map(_._1).distinct.length == out.length)
  }

  test("kCore: at most 5 jobs per superstep, result unchanged") {
    var core: Set[(Long, Long)] = null
    val descs = jobDescriptions {
      core = Iterate.distributed(GraphOps.kCore(md5Graph, k = 5)).collect()
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
      val core = Iterate.distributed(GraphOps.kCore(e, k = 2)).collect()
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

  /** 200 random 8-dim vectors, the PinOwnershipSpec IVF corpus. */
  private def vectors: DataFrame = {
    import spark.implicits._
    val rnd = new Random(7)
    (0 until 200).map(i => (i.toLong,
      Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  }

  /** The first 5 vectors as nswSearch queries. */
  private def queriesOf(v: DataFrame): DataFrame =
    v.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")

  /** A path of 30 vertices: ranks still move after a few rounds. */
  private def pathEdges: DataFrame = {
    import spark.implicits._
    (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
  }

  test("buildIvfIndex: each Lloyd round is a kmeans superstep of at most " +
      "5 jobs") {
    var centers = 0L
    val descs = jobDescriptions {
      val idx = Iterate.distributed(
        Similarity.buildIvfIndex(vectors, nCenters = 4, iters = 3))
      centers = idx.centroids.count()
      idx.release()
    }
    val rounds = perSuperstep(descs, "kmeans")
    assert(rounds.keySet == Set(1, 2, 3), rounds)
    assert(rounds.values.forall(_ <= 5), rounds)
    assert(centers == 4)
  }

  test("the Lloyd fold's work cap: elements × centers above 2^27 take the " +
      "distributed loop") {
    // 2048 vectors of 512 floats: 2^20 elements, so 128 centers sit at
    // the cap and 129 above it
    val wide = spark.range(2048).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(511)), d =>
        (pmod(xxhash64(col("id"), d), lit(2001L)) - 1000).cast("float"))
        .as("embedding")).localCheckpoint(true)
    for ((centers, folds) <- Seq(128 -> true, 129 -> false)) {
      val descs = jobDescriptions(Similarity.buildIvfIndex(wide,
        nCenters = centers, iters = 1).release())
      assert(perSuperstep(descs, "kmeans").isEmpty == folds,
        s"$centers centers: $descs")
    }
    Pins.release(wide)
  }

  test("nswSearch: each hop is an nswSearch superstep of at most 9 jobs") {
    val v = vectors
    val idx = Similarity.buildNswGraph(v, m = 4, nCenters = 4)
    var rows = 0L
    val descs = jobDescriptions {
      rows = Similarity.nswSearch(queriesOf(v), idx, v,
        k = 3, ef = 8, hops = 3).count()
    }
    val rounds = perSuperstep(descs, "nswSearch")
    assert(rounds.keySet == Set(1, 2, 3), rounds)
    assert(rounds.values.forall(_ <= 9), rounds)
    assert(rows == 15)
  }

  test("distributed pageRank with tol > 0: each round is a powerIterate " +
      "superstep of at most 10 jobs") {
    var ranked = 0L
    val descs = jobDescriptions {
      ranked = Iterate.distributed(
        GraphOps.pageRank(md5Graph, tol = 1e-6, maxIter = 8)).count()
    }
    val rounds = perSuperstep(descs, "powerIterate")
    assert(rounds.nonEmpty)
    assert(rounds.values.forall(_ <= 10), rounds)
    assert(ranked > 0)
  }

  /** WARN messages of the [[Iterate]] logger while `body` runs. */
  private def iterateWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("iterate-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(Iterate.getClass.getName)
      .asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    val level = logger.getLevel
    if (!logger.isWarnEnabled) logger.setLevel(Level.WARN)
    try body finally {
      logger.setLevel(level)
      logger.removeAppender(capture)
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("an unconverged pageRank WARNs once on the fold and on the " +
      "distributed loop") {
    for (distributed <- Seq(false, true)) {
      val warns = iterateWarnings {
        onPath(distributed)(GraphOps.pageRank(pathEdges, tol = 1e-9,
          maxIter = 2)).collect()
      }
      assert(warns.size == 1, s"distributed: $distributed: $warns")
      assert(warns.head.startsWith("powerIterate: no fixpoint after 2 " +
        "supersteps"), warns.head)
    }
  }

  test("an unconverged labelPropagation fold WARNs once") {
    val warns = iterateWarnings {
      GraphOps.labelPropagation(md5Graph, maxIter = 1).collect()
    }
    assert(warns.size == 1, warns)
    assert(warns.head.startsWith("labelPropagation: no fixpoint after 1 " +
      "supersteps (last superstep: changed="), warns.head)
  }

  test("an unconverged kCore fold throws the distributed loop's message") {
    import spark.implicits._
    val clique = for (a <- 0L until 6L; b <- 0L until 6L if a < b)
      yield (a, b)
    val e = (clique ++ (5L until 35L).map(i => (i, i + 1))).toDF("src", "dst")
    val fold = intercept[IllegalStateException](
      GraphOps.kCore(e, k = 2, maxIter = 3).collect())
    val dist = intercept[IllegalStateException](
      Iterate.distributed(GraphOps.kCore(e, k = 2, maxIter = 3)).collect())
    assert(fold.getMessage == dist.getMessage)
    assert(fold.getMessage.startsWith("kCore: no fixpoint after 3 rounds ("),
      fold.getMessage)
  }

  test("the buildIvfIndex and kmeansCentroids folds log no WARN") {
    val v = vectors
    val warns = iterateWarnings {
      Similarity.buildIvfIndex(v, nCenters = 4, iters = 3).release()
      Pins.release(Similarity.kmeansCentroids(v, nCenters = 4, iters = 2))
    }
    assert(warns.isEmpty, warns)
  }

  test("fixed-round loops log no WARN") {
    val v = vectors
    val warns = iterateWarnings {
      for (distributed <- Seq(false, true))
        onPath(distributed)(GraphOps.pageRank(pathEdges, tol = 0.0,
          maxIter = 2)).collect()
      Similarity.buildIvfIndex(v, nCenters = 4, iters = 2).release()
      val idx = Similarity.buildNswGraph(v, m = 4, nCenters = 4)
      Similarity.nswSearch(queriesOf(v), idx, v, k = 3,
        ef = 8, hops = 2).collect()
    }
    assert(warns.isEmpty, warns)
  }

  /** Jobs measured at the fold's introduction (local[4], 4 shuffle
    * partitions): the input pin and its decode, plus what each operator
    * pins around them — kCore's pin is a distinct (two jobs), the Lloyd
    * fold pins its centroids and cells, and pageRank pins its cleaned
    * edges, the degree-annotated edges (two jobs) and the vertices (two).
    * The co-membership builds (authorRank, authorRankWeighted,
    * coauthorComponents) pin their membership and decode it, nothing more.
    */
  test("a folded operator runs no superstep job, and few jobs in all") {
    import spark.implicits._
    val v = vectors
    val authorOf = (0 until 80).map(i => (s"a${i * 7 % 23}", s"o${i % 13}"))
      .toDF("src", "dst")
    val bounds = Seq[(String, Int, () => Unit)](
      ("labelPropagation", 2, () =>
        GraphOps.labelPropagation(md5Graph, maxIter = 10).collect()),
      ("kCore", 3, () => GraphOps.kCore(md5Graph, k = 5).collect()),
      ("kmeans", 4, () =>
        Similarity.buildIvfIndex(v, nCenters = 4, iters = 3).release()),
      ("powerIterate", 7, () =>
        GraphOps.pageRank(md5Graph, tol = 1e-6, maxIter = 8).collect()),
      ("powerIterate", 2, () => GraphOps.authorRank(authorOf, tol = 0.0,
        maxIter = 8, scale = Some(1000000L)).collect()),
      ("powerIterate", 2, () => GraphOps.authorRankWeighted(authorOf,
        tol = 0.0, maxIter = 8, maxGroupSize = 5,
        scale = Some(1000000L)).collect()),
      ("connectedComponents", 2, () =>
        GraphOps.coauthorComponents(authorOf).collect()))
    val over = bounds.flatMap { case (operator, bound, run) =>
      val descs = jobDescriptions(run())
      assert(perSuperstep(descs, operator).isEmpty, descs)
      if (descs.size > bound) Some(s"$operator: ${descs.size} jobs > $bound")
      else None
    }
    assert(over.isEmpty, over)
  }

  test("Iterate.rounds runs exactly n rounds and releases every state but " +
      "the last") {
    spark // described labels the rounds' jobs of the active session
    for (n <- 0 to 3) {
      val released = scala.collection.mutable.Buffer.empty[Int]
      val last = Iterate.rounds("count", 0, n)(released += _)(_ + 1)
      assert(last == n)
      assert(released == (0 until n), s"n = $n")
    }
  }

  test("no var outside Iterate holds a pinned frame across rounds") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "run from the repository root")
    val decl = raw"^\s*(?:private(?:\[\w+\])?\s+)?var\s".r
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(root).iterator().asScala.toSeq.filter(p =>
      p.toString.endsWith(".scala") &&
        !p.endsWith(Paths.get("graph", "Iterate.scala")))
    val hits = for {
      f <- sources
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      i <- lines.indices
      if decl.findFirstIn(lines(i)).isDefined &&
        initialiser(lines, i).exists(_.contains("localCheckpoint("))
    } yield s"$f:${i + 1}: ${lines(i).trim}"
    assert(sources.nonEmpty)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  /** The lines of the initialiser that starts on line `i`: that line,
    * then the next while a bracket is still open or the next line
    * continues the expression with a leading `.`.
    */
  private def initialiser(lines: IndexedSeq[String], i: Int): Seq[String] = {
    var depth = 0
    var j = i
    do {
      depth += lines(j).count("([{".contains(_)) -
        lines(j).count(")]}".contains(_))
      j += 1
    } while (j < lines.length && (depth > 0 || lines(j).trim.startsWith(".")))
    lines.slice(i, j)
  }

  test("fixed-point rank guards keep their messages on both paths") {
    import spark.implicits._
    for (distributed <- Seq(false, true)) {
      val frac = intercept[IllegalArgumentException] {
        onPath(distributed)(GraphOps.pageRank(Seq(("a", "b", 1.5),
            ("b", "c", 2.0)).toDF("src", "dst", "w"), weightCol = Some("w"),
          maxIter = 2, scale = Some(1000000L))).collect()
      }
      assert(frac.getMessage.contains("fixed-point rank mode requires " +
        "integer-valued weights"))
      val neg = intercept[IllegalArgumentException] {
        onPath(distributed)(GraphOps.pageRank(Seq(("a", "b", -1.0),
            ("b", "c", 2.0)).toDF("src", "dst", "w"), weightCol = Some("w"),
          maxIter = 2, scale = Some(1000000L))).collect()
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
