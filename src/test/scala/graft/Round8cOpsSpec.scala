package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 batch 3: the iterative-rank fixed-point seam (GraphOps scale
  * mode) and the incremental-LSH staged seams — each pinned against the
  * double mode / brute force on planted graphs and corpora.
  */
class Round8cOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round8c-ops").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val S = 1000000L

  /** Undirected path + a triangle + an isolated pair — enough structure
    * for rank mass to differ per vertex and for dangling/low-degree
    * behavior to show.
    */
  private lazy val plantedEdges: DataFrame = {
    import spark.implicits._
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("x", "y"))
      .toDF("src", "dst")
  }

  test("fixed-point pageRank tracks the double mode within the per-round " +
      "floor error budget") {
    import spark.implicits._
    val fp = graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
        maxIter = 10, scale = Some(S))
      .as[(String, Long)].collect().toMap
    val db = graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
        maxIter = 10)
      .as[(String, Double)].collect().toMap
    assert(fp.keySet === db.keySet)
    // each round floors once per in-edge and once at the damp: after 10
    // rounds over a degree<=3 graph the accumulated defect is well under
    // 100 units of 1/S
    fp.foreach { case (v, r) =>
      assert(math.abs(r.toDouble / S - db(v)) < 1e-4,
        s"vertex $v: fp=${r.toDouble / S} double=${db(v)}")
    }
    // fixed-point results are exact integers: rerunning is bit-identical
    val fp2 = graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
        maxIter = 10, scale = Some(S))
      .as[(String, Long)].collect().toMap
    assert(fp === fp2)
  }

  test("fixed-point personalized pageRank: teleport mass integral, rank " +
      "exactly zero outside the sources' component") {
    import spark.implicits._
    val sources = Seq("a").toDF("v")
    val fp = graft.graph.GraphOps.pageRankPersonalized(plantedEdges,
        sources, tol = 0.0, maxIter = 8, scale = Some(S))
      .as[(String, Long)].collect().toMap
    assert(fp("x") === 0L && fp("y") === 0L) // other component
    assert(fp("a") >= 150000L)               // holds its own teleport
    assert(fp("b") > 0L && fp("d") > 0L)     // reached via edges
  }

  test("fixed-point authorRank: isolated-author reset is exactly 0.15*S " +
      "and results are deterministic integers") {
    import spark.implicits._
    // o1 is a 3-author group (hub = min member "a", star edges a-b and
    // a-c), o2 a singleton (author "z" gets no edges)
    val authorOf = Seq(("a", "o1"), ("b", "o1"), ("c", "o1"), ("z", "o2"))
      .toDF("src", "dst")
    val fp = graft.graph.GraphOps.authorRank(authorOf, tol = 0.0,
        maxIter = 6, scale = Some(S))
      .as[(String, Long)].collect().toMap
    assert(fp("z") === 3L * (S / 20)) // edge-less: reset only, exact
    assert(fp.keySet === Set("a", "b", "c", "z"))
    assert(fp("a") > fp("z")) // the hub receives mass
  }

  test("textRankKeywords fixed mode ranks the same keyword first as the " +
      "double mode and emits the integer lattice") {
    import spark.implicits._
    val docs = (0 until 40).map(i =>
        (i.toLong, "alpha beta alpha beta gamma alpha delta"))
      .toDF("doc_id", "text")
    val fp = graft.ops.TextAnalysis.textRankKeywords(docs, k = 4,
        minCount = 2, maxIter = 10, scale = Some(S))
      .as[(String, Long)].collect().toSeq
    val db = graft.ops.TextAnalysis.textRankKeywords(docs, k = 4,
        minCount = 2, maxIter = 10)
      .as[(String, Double)].collect().toSeq
    assert(fp.map(_._1) === db.map(_._1)) // same keyword ORDER
    fp.zip(db).foreach { case ((_, r), (_, d)) =>
      assert(math.abs(r.toDouble / S - d) < 1e-3)
    }
  }

  test("fixed-point bradleyTerry tracks the double mode and hits the " +
      "2-player closed form") {
    import spark.implicits._
    // m1 beats m2 3:1 -> closed-form strengths 1.5 / 0.5 (mean 1)
    val battles = Seq(
      ("m1", "m2", "a"), ("m1", "m2", "a"), ("m1", "m2", "a"),
      ("m1", "m2", "b")).toDF("ma", "mb", "w")
    val fp = graft.ops.Preference.bradleyTerry(battles, "ma", "mb", "w",
        iters = 30, scale = Some(S))
      .select("model", "strength").as[(String, Long)].collect().toMap
    assert(math.abs(fp("m1").toDouble / S - 1.5) < 1e-3)
    assert(math.abs(fp("m2").toDouble / S - 0.5) < 1e-3)
    // a 3-model log: fixed tracks double within the floor budget
    val tri = Seq(("a", "b", "a"), ("a", "b", "a"), ("b", "c", "a"),
      ("b", "c", "a"), ("a", "c", "a"), ("a", "c", "tie"))
      .toDF("ma", "mb", "w")
    val f2 = graft.ops.Preference.bradleyTerry(tri, "ma", "mb", "w",
        iters = 25, scale = Some(S))
      .select("model", "strength").as[(String, Long)].collect().toMap
    val d2 = graft.ops.Preference.bradleyTerry(tri, "ma", "mb", "w",
        iters = 25)
      .select("model", "strength").as[(String, Double)].collect().toMap
    f2.foreach { case (m, v) =>
      assert(math.abs(v.toDouble / S - d2(m)) < 1e-3,
        s"model $m: fp=${v.toDouble / S} double=${d2(m)}")
    }
  }

  test("nearDupAgainstIndex staged seam (numHashes = 0) equals exact " +
      "cross-axis Jaccard") {
    import spark.implicits._
    val mk = (i: Int, tail: String) =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog $i$tail")
    // corpus 0..4; batch 10..14 where batch doc 10+i is a near-dup of
    // corpus doc i (tiny tail tweak), plus one unrelated batch doc
    val corpus = (0 until 5).map(mk(_, "")).toDF("doc_id", "text")
    val batch = ((0 until 5).map(i => (10L + i,
        s"the quick brown fox jumps over the lazy dog $i zz")) :+
        (20L, "completely different content with no shared five grams"))
      .toDF("doc_id", "text")
    val idx = graft.ops.Dedup.buildMinhashIndex(corpus, numHashes = 0,
      bands = 1)
    val got = graft.ops.Dedup.nearDupAgainstIndex(idx, batch,
        threshold = 0.5)
      .select("batch_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    // brute force: every (batch, corpus) pair at exact shingle Jaccard
    val sh = (df: DataFrame) => df.select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - 4),
          i => col("text").substr(i, lit(5)))))
          .as("s"))
    val sizes = (df: DataFrame) => sh(df).groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    val inter = sh(batch).withColumnRenamed("doc_id", "batch_id")
      .join(sh(corpus).withColumnRenamed("doc_id", "corpus_id"), Seq("s"))
      .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("i"))
    val brute = inter
      .join(sizes(batch).withColumnRenamed("doc_id", "batch_id"),
        Seq("batch_id"))
      .withColumnRenamed("n", "nb")
      .join(sizes(corpus).withColumnRenamed("doc_id", "corpus_id"),
        Seq("corpus_id"))
      .filter(col("i") * 2 >= col("nb") + col("n") - col("i"))
      .select("batch_id", "corpus_id")
      .as[(Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty && !got.exists(_._1 == 20L))
  }

  test("pageRank driver fold is BIT-EQUAL to the distributed loop in " +
      "fixed mode (and agrees in double mode)") {
    import spark.implicits._
    val fold = graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
        maxIter = 12, scale = Some(S))
      .as[(String, Long)].collect().toMap
    val dist = graft.graph.Iterate.distributed(
        graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
          maxIter = 12, scale = Some(S)))
      .as[(String, Long)].collect().toMap
    assert(fold === dist) // integer ops are order-free: exact equality
    val foldD = graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
        maxIter = 12)
      .as[(String, Double)].collect().toMap
    val distD = graft.graph.Iterate.distributed(
        graft.graph.GraphOps.pageRank(plantedEdges, tol = 0.0,
          maxIter = 12))
      .as[(String, Double)].collect().toMap
    foldD.foreach { case (v, r) =>
      assert(math.abs(r - distD(v)) < 1e-12, s"vertex $v")
    }
  }

  test("every oracleSql key has a queries entry (a typo'd oracle key " +
      "would silently demote its query to rows-only)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("staged nearDupAgainstIndex pairs empty shingle sets at " +
      "jaccard 1.0 and drops null texts entirely") {
    import spark.implicits._
    // corpus doc 1 and batch docs 10/11 are sub-5-char (empty shingle
    // sets -> kernel jaccard 1.0); batch doc 12 has a null text (the
    // null-safe kernels return NULL -> pairs with nothing)
    val corpus = Seq((1L, "ab"), (2L, "some long enough text here"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "xy"), (11L, "q"), (12L, null))
      .toDF("doc_id", "text")
    val idx = graft.ops.Dedup.buildMinhashIndex(corpus, numHashes = 0,
      bands = 1)
    val got = graft.ops.Dedup.nearDupAgainstIndex(idx, batch,
        threshold = 0.5)
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 1L, 1.0), (11L, 1L, 1.0)))
  }

  test("rougeLCounts emits UNCAPPED token counts while only the LCS DP " +
      "is capped at MaxLcsTokens") {
    import spark.implicits._
    val n = graft.functions.CorpusKernels.MaxLcsTokens + 100
    val long = (0 until n).map(i => s"w$i").mkString(" ")
    val pairs = Seq((0L, long, long)).toDF("pair_id", "text_a", "text_b")
    val r = graft.ops.TextAnalysis.rougeLCounts(pairs)
      .select("lcs_len", "n_a", "n_b")
      .as[(Long, Long, Long)].head()
    assert(r._2 === n.toLong && r._3 === n.toLong) // counts uncapped
    assert(r._1 === graft.functions.CorpusKernels.MaxLcsTokens.toLong)
  }

  test("auditSplitLeakage staged seam flags exactly the planted " +
      "cross-split near-dup pair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", "train"),
      (2L, "the quick brown fox jumps over the lazy dog again zz", "val"),
      (3L, "the quick brown fox jumps over the lazy dog again yy", "train"),
      (4L, "entirely unrelated text with zero shared five grams", "test"))
      .toDF("doc_id", "text", "split")
    val got = graft.ops.Pipelines.auditSplitLeakage(docs,
        threshold = 0.8, numHashes = 0, bands = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (1,2) and (2,3) cross a boundary; (1,3) is train-train (excluded)
    assert(got === Set((1L, 2L), (2L, 3L)))
  }
}
