package graft

import graft.graph.{GraphOps, Iterate}
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Each driver fold computes what its distributed loop computes, bit for
  * bit: the same rows, of the same types. [[Iterate.distributed]] is the
  * seam that runs the distributed loop on the same small input.
  */
class DriverFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("driver-fold").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The rows of `run()` on the fold and on the distributed loop, after
    * checking both results have the same column types.
    */
  private def bothPaths(run: => DataFrame): (Set[Row], Set[Row]) = {
    val fold = run
    val dist = Iterate.distributed(run)
    assert(fold.schema.map(f => f.name -> f.dataType) ==
      dist.schema.map(f => f.name -> f.dataType))
    (fold.collect().toSet, dist.collect().toSet)
  }

  private def assertSamePaths(what: String)(run: => DataFrame): Set[Row] = {
    val (fold, dist) = bothPaths(run)
    assert(fold == dist, what)
    fold
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

  /** A 6-clique with a 30-vertex path hanging off it. */
  private def cliquePath: DataFrame = {
    import spark.implicits._
    val clique = for (a <- 0L until 6L; b <- 0L until 6L if a < b)
      yield (a, b)
    ((clique ++ (5L until 35L).map(i => (i, i + 1)))).toDF("src", "dst")
  }

  test("labelPropagation: the fold equals the distributed loop on the md5 " +
      "graph, on tied string labels and when maxIter runs out") {
    import spark.implicits._
    val md5 = assertSamePaths("md5 graph")(
      GraphOps.labelPropagation(md5Graph, maxIter = 10))
    assert(md5.size > 50 && md5.map(_.getLong(1)).size < md5.size)
    // string labels: an even cycle ties every vertex three ways, a 2-star
    // ties its centre; "v10" < "v2" as strings, so string order decides
    val strings = ((0 until 8).map(i => (s"v${i * 5}", s"v${(i + 1) % 8 * 5}"))
      ++ Seq(("s9", "s10"), ("s9", "s100"), ("v0", "v0"))).toDF("src", "dst")
    for (maxIter <- Seq(1, 2, 20))
      assertSamePaths(s"string labels, maxIter $maxIter")(
        GraphOps.labelPropagation(strings, maxIter = maxIter))
    for (maxIter <- Seq(1, 2))
      assertSamePaths(s"md5 graph, maxIter $maxIter")(
        GraphOps.labelPropagation(md5Graph, maxIter = maxIter))
    assert(assertSamePaths("binary labels")(
      asStrings(GraphOps.labelPropagation(binary(md5Graph), maxIter = 10)))
      .size == md5.size)
  }

  /** The graph with its vertex ids as binary values, which the folds
    * cannot key by value.
    */
  private def binary(g: DataFrame): DataFrame =
    g.select(col("src").cast("string").cast("binary").as("src"),
      col("dst").cast("string").cast("binary").as("dst"))

  /** Every column as a string (a binary value's row hash is identity). */
  private def asStrings(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)

  test("kCore: the fold equals the distributed loop on the md5 graph, the " +
      "clique with a path, and a graph with no k-core") {
    import spark.implicits._
    val md5 = assertSamePaths("md5 graph, k = 5")(
      GraphOps.kCore(md5Graph, k = 5))
    assert(md5.nonEmpty)
    assert(assertSamePaths("binary vertices, k = 5")(
      asStrings(GraphOps.kCore(binary(md5Graph), k = 5))).size == md5.size)
    val core = assertSamePaths("clique and path, k = 2")(
      GraphOps.kCore(cliquePath, k = 2))
    assert(core.map(_.getLong(0)) == (0L until 6L).toSet)
    val tree = (1L until 40L).map(i => (i / 2, i)).toDF("src", "dst")
    assert(assertSamePaths("a tree, k = 2")(
      GraphOps.kCore(tree, k = 2)).isEmpty)
  }

  test("powerIterate's callers: the fold equals the distributed loop in " +
      "fixed mode, with the vertex values decoded beside the ids") {
    import spark.implicits._
    val authorOf = (0 until 80).map(i => (s"a${i * 7 % 23}", s"o${i % 13}"))
      .toDF("src", "dst")
    val s = Some(1000000L)
    assertSamePaths("authorRank")(GraphOps.authorRank(authorOf, tol = 0.0,
      maxIter = 6, scale = s))
    assertSamePaths("authorRankWeighted")(GraphOps.authorRankWeighted(
      authorOf, tol = 0.0, maxIter = 6, maxGroupSize = 5, scale = s))
    assertSamePaths("pageRankPersonalized")(GraphOps.pageRankPersonalized(
      md5Graph, spark.range(3).toDF("v"), tol = 1.0, maxIter = 20,
      scale = s))
  }

  /** An author_of table for the co-membership builds: 80 memberships
    * over 13 outputs (o0 and o1 have 7 authors, the rest 6), duplicated
    * rows, null authors and null outputs, a group "oz" of 6 authors and a
    * null one, and a group "oe" of 7 authors whose Spark string order
    * (UTF-8 bytes: "\uFFFF" < "\uD83D\uDE00") is not Java's.
    */
  private def comembers: DataFrame = {
    import spark.implicits._
    val odd = Seq("\uFFFF", "\uD83D\uDE00", "\uFFFFb", "\uD83D\uDE00b",
      "\uFFFFc", "\uD83D\uDE00c", "\uFFFE\uD83D\uDE00")
    ((0 until 80).map(i => (s"a${i * 7 % 23}", s"o${i % 13}")) ++
      Seq(("a1", "o1"), ("a1", "o1"), ("a2", "o3"), ("a2", "o3")) ++
      (0 until 6).map(i => (s"z$i", "oz")) ++ Seq((null, "oz")) ++
      odd.map((_, "oe")) ++ Seq(("\uFFFF", "oe"), (null, "o5"), (null, null),
        ("a1", null), ("y1", null), ("y2", null), ("y3", "oy")))
      .toDF("src", "dst")
  }

  /** Rank rows by author, on the fold and on the distributed loop, equal
    * to 1e-12 relatively (double mode: summation order differs).
    */
  private def assertCloseRanks(what: String)(run: => DataFrame): Unit = {
    val (fold, dist) = bothPaths(run)
    def ranks(rows: Set[Row]) = rows.map(r => r.get(0) -> r.getDouble(1)).toMap
    val (f, d) = (ranks(fold), ranks(dist))
    assert(f.keySet == d.keySet && f.size == fold.size, what)
    for ((k, v) <- f)
      assert(math.abs(v - d(k)) <= 1e-12 * math.max(1d, math.abs(d(k))),
        s"$what: $k: $v against ${d(k)}")
  }

  test("co-membership builds: the fold equals the distributed build on " +
      "null keys, duplicate rows, a capped group and Spark's string order") {
    val s = Some(1000000L)
    val star = assertSamePaths("authorRank")(GraphOps.authorRank(comembers,
      tol = 0.0, maxIter = 6, scale = s))
    assert(star.exists(_.get(0) == null), "a null author is a vertex")
    for (maxGroupSize <- Seq(2, 6, 1000))
      assertSamePaths(s"authorRankWeighted, maxGroupSize $maxGroupSize")(
        GraphOps.authorRankWeighted(comembers, tol = 0.0, maxIter = 6,
          maxGroupSize = maxGroupSize, scale = s))
    assertCloseRanks("authorRank, double")(GraphOps.authorRank(comembers,
      tol = 1e-9, maxIter = 50))
    assertCloseRanks("authorRankWeighted, double")(
      GraphOps.authorRankWeighted(comembers, tol = 1e-9, maxIter = 50,
        maxGroupSize = 6))
    val cc = assertSamePaths("coauthorComponents")(
      GraphOps.coauthorComponents(comembers))
    assert(cc.contains(Row("\uD83D\uDE00", "\uFFFE\uD83D\uDE00")))
    // null outputs hash to one group: a1 and y1 share a component
    val label = cc.map(r => r.get(0) -> r.get(1)).toMap
    assert(label("y1") == label("a1") && label("y3") == "y3")
  }

  test("a weighted membership whose pairs pass the cap builds them from " +
      "its membership pin and releases it") {
    import spark.implicits._
    // one output of 1,500 authors: 1,124,250 pairs, 2,248,500 edges both
    // ways, past the 2M-row cap although the membership is 1,500 rows
    val clique = (0 until 1500).map(i => (f"a$i%04d", "o")).toDF("src", "dst")
    val (ranks, pins) = Pins.track(spark.sparkContext)(
      GraphOps.authorRankWeighted(clique, tol = 0.0, maxIter = 2,
        maxGroupSize = 2000))
    assert(pins.size == 1, "only the result's pin is kept")
    // every author: 0.15 reset, then 0.15 + 0.85·0.15, then once more
    val expected = 0.15 + 0.85 * (0.15 + 0.85 * 0.15)
    val rows = ranks.collect()
    Pins.release(spark.sparkContext, pins)
    assert(rows.length == 1500)
    assert(rows.forall(r => math.abs(r.getDouble(1) - expected) <= 1e-12),
      rows.take(3).mkString(", "))
  }

  /** 100 Gaussian vectors and, under ids 100-199, their doubles: a vector
    * and its double tie on every cosine, so when both are init centers the
    * larger center id ends up with no vector.
    */
  private def twins(seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new Random(seed)
    val half = (0 until 100).map(_ => Array.fill(8)(rnd.nextGaussian().toFloat))
    (half.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      half.zipWithIndex.map { case (v, i) => (100L + i, v.map(_ * 2)) })
      .toDF("vec_id", "embedding")
  }

  /** Rows with every float replaced by its bit pattern. */
  private def bits(rows: Seq[Row]): Set[Seq[Any]] = rows.map(_.toSeq.map {
    case s: scala.collection.Seq[_] =>
      s.map(x => java.lang.Float.floatToRawIntBits(x.asInstanceOf[Float]))
    case x => x
  }).toSet

  test("the Lloyd loop: the fold's centroids and cells equal the " +
      "distributed loop's bit for bit, one center left empty") {
    def build(): (Set[Seq[Any]], Set[Seq[Any]], Seq[String]) = {
      val idx = Similarity.buildIvfIndex(twins(7), nCenters = 16, iters = 3)
      try (bits(idx.centroids.collect()), bits(idx.cells.collect()),
        Seq(idx.centroids, idx.cells).flatMap(_.schema.map(_.dataType.sql)))
      finally idx.release()
    }
    val fold = build()
    val dist = Iterate.distributed(build())
    assert(fold._1.size == 15, "one of the 16 centers should be empty")
    assert(fold._2.size == 200)
    assert(fold == dist)
    def centroids(): Set[Seq[Any]] = {
      val c = Similarity.kmeansCentroids(twins(3), nCenters = 16, iters = 2)
      try bits(c.collect()) finally Pins.release(c)
    }
    assert(centroids() == Iterate.distributed(centroids()))
  }

  test("empty and self-loop-only inputs give empty results on both paths") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    for (e <- Seq(empty, loops)) {
      assert(assertSamePaths("labelPropagation")(
        GraphOps.labelPropagation(e)).isEmpty)
      assert(assertSamePaths("kCore")(GraphOps.kCore(e, k = 1)).isEmpty)
      assert(assertSamePaths("pageRank")(GraphOps.pageRank(e)).isEmpty)
    }
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    def build() = Similarity.buildIvfIndex(none, nCenters = 4)
    for (distributed <- Seq(false, true)) {
      val idx = if (distributed) Iterate.distributed(build()) else build()
      assert(idx.centroids.isEmpty && idx.cells.isEmpty)
      idx.release()
    }
  }
}
