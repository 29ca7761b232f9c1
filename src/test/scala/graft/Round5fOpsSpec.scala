package graft

import graft.ops.{CorpusOps, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Sixth round-5 operator batch: ROUGE-N overlap counts and stable row-id
  * assignment.
  */
class Round5fOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round5f-ops-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("rougeNCounts: hand-computed clipped bigram overlap") {
    import spark.implicits._
    val pairs = Seq(
      // a: [the cat, cat sat, sat down] b: [the cat, cat sat, sat up]
      (1L, "the cat sat down", "The cat sat up"),
      // repeated gram clipping: a has "go go" x2, b has it x1 -> clip to 1
      (2L, "go go go", "go go stop"),
      (3L, "totally different words here", "nothing shared at all"),
      (4L, "short", "also unrelated") // a has no bigram
    ).toDF("pair_id", "text_a", "text_b")
    val got = TextAnalysis.rougeNCounts(pairs, n = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((2L, 3L, 3L))) // "the cat", "cat sat" shared
    assert(got(2L) == ((1L, 2L, 2L))) // clip min(2,1) for "go go"
    assert(got(3L) == ((0L, 3L, 3L)))
    assert(got(4L) == ((0L, 0L, 1L)))
  }

  test("rougeNCounts n=1 equals unigram multiset intersection") {
    import spark.implicits._
    val pairs = Seq((1L, "a b a c", "a a b d")).toDF("pair_id", "text_a", "text_b")
    val r = TextAnalysis.rougeNCounts(pairs, n = 1).collect().head
    // a:{a:2,b:1,c:1} b:{a:2,b:1,d:1} -> overlap 3, totals 4/4
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 4L, 4L)))
  }

  test("knnClassify: majority vote from exact neighbors, tie to smallest label") {
    import spark.implicits._
    // 1-d embeddings: query at 0.0; corpus at ±distances with labels
    def v(x: Double) = Array(x.toFloat, 1.0f) // second dim fixes cosine order
    val corpus = Seq(
      (10L, v(0.1), 7), (11L, v(0.2), 7), (12L, v(0.3), 3),
      (13L, v(5.0), 3), (14L, v(6.0), 3)
    ).toDF("vec_id", "embedding", "label")
    val qs = Seq((1L, v(0.0))).toDF("query_id", "embedding")
    // k=3 neighbors: 10, 11, 12 -> labels 7,7,3 -> majority 7
    val r3 = graft.ops.Similarity.knnClassify(qs, corpus, k = 3).collect().head
    assert((r3.getLong(0), r3.getInt(1), r3.getLong(2)) == ((1L, 7, 2L)))
    // k=4: labels 7,7,3,3 -> tie -> smallest label 3
    val r4 = graft.ops.Similarity.knnClassify(qs, corpus, k = 4).collect().head
    assert((r4.getInt(1), r4.getLong(2)) == ((3, 2L)))
  }

  test("knnClassifyFrom votes over any injected neighbor table") {
    import spark.implicits._
    val corpus = Seq((10L, "en"), (11L, "de"), (12L, "en"))
      .toDF("vec_id", "label")
    val nn = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L))
      .toDF("query_id", "vec_id")
    val got = graft.ops.Similarity.knnClassifyFrom(nn, corpus).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> (("en", 2L)), 2L -> (("de", 1L))))
  }

  test("IVF-backed kNN equals exact kNN when labels follow the geometry") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 8 well-separated clusters, label = cluster id — the regime label
    // propagation targets (labels correlate with embedding geometry; on
    // geometry-free labels agreement just restates probe recall, which
    // CorpusOpsSpec already measures)
    val dim = 16
    val emb = (0 until 200).map { i =>
      val c = i % 8
      val v = Array.fill(dim)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.2f + 0.01f * ((i * 7) % 11)
      (i.toLong, v.toSeq, c)
    }.toDF("vec_id", "embedding", "label")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = graft.ops.Similarity.knnClassify(qs, emb, k = 5).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every query's own cluster dominates its 5-NN
    assert(exact.forall { case (q, l) => l == (q % 8).toInt })
    val idx = graft.ops.Similarity.buildIvfIndex(emb, nCenters = 8)
    try {
      val ann = graft.ops.Similarity.knnClassifyFrom(
        graft.ops.Similarity.ivfProbe(qs, idx, k = 5, nProbe = 2), emb)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(ann == exact)
    } finally idx.release()
  }

  test("labelCentroids: hand-computed means; array regroup round-trips") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), "a"),
      (2L, Seq(3.0f, 2.0f), "a"),
      (3L, Seq(5.0f, 5.0f), "b")
    ).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.labelCentroids(emb).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map(("a", 0) -> 2.0, ("a", 1) -> 1.0,
      ("b", 0) -> 5.0, ("b", 1) -> 5.0))
    val arrays = graft.ops.Similarity.centroidsAsArrays(
      graft.ops.Similarity.labelCentroids(emb)).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(arrays == Map("a" -> Seq(2.0f, 1.0f), "b" -> Seq(5.0f, 5.0f)))
  }

  test("centroidClassify: nearest prototype wins, ties to smallest label") {
    import spark.implicits._
    val cents = Seq(("a", Seq(1.0f, 0.0f)), ("b", Seq(0.0f, 1.0f)),
      ("z", Seq(1.0f, 0.0f))) // duplicate direction: tie with 'a'
      .toDF("label", "centroid")
    val qs = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.1f, 0.9f)))
      .toDF("query_id", "embedding")
    val got = graft.ops.Similarity.centroidClassify(qs, cents).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // query 1 ties between 'a' and 'z' (identical centroids) -> 'a'
    assert(got == Map(1L -> "a", 2L -> "b"))
  }

  test("chiSquareTerms: hand-computed chi2, presence not frequency, top-k") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam", "buy buy buy now"), // 'buy' counts once (presence)
      (2L, "spam", "buy cheap pills"),
      (3L, "ham", "hello dear friend"),
      (4L, "ham", "buy groceries later") // 'buy' crosses classes
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.chiSquareTerms(docs, "lang", k = 10,
      minDocFreq = 1L).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    // 'buy': a=2 (spam), t=3, l=2, n=4 -> b=1, c=0, d=1
    // chi2 = 4*(2*1-1*0)^2 / (3*1*2*2) = 16/12 = 1.333333
    val (aBuy, chiBuy, _) = got(("spam", "buy"))
    assert(aBuy == 2L && chiBuy == 1.333333)
    // 'hello': spam-side a=0 entry doesn't exist; ham a=1, t=1, l=2, n=4
    // -> b=0, c=1, d=2 -> chi2 = 4*(1*2-0*1)^2/(1*3*2*2) = 16/12
    assert(got(("ham", "hello"))._2 == 1.333333)
    // k bounds ranks per label
    assert(got.values.forall(_._3 <= 10))
    // within a label, equal chi2 ranks break by term ascending
    val hamRanks = got.collect { case ((l, t), (_, _, r)) if l == "ham" => (r, t) }
      .toSeq.sortBy(_._1).map(_._2)
    assert(hamRanks == hamRanks.sorted)
  }

  test("ksDrift: hand-computed binned KS; identical snapshots drift zero") {
    import spark.implicits._
    // a: uniform low values; b: all mass shifted high
    val a = (1 to 100).map(_ => 0.0).toDF("value")
    val b = (1 to 50).map(_ => 10.0).toDF("value")
    val r = CorpusOps.ksDrift(a, b, "value", bins = 4).collect().head
    // bin 0 holds all of a (cumA=100, cumB=0) -> cross = 100*50 = 5000,
    // i.e. KS = 5000/(100*50) = 1.0 (total separation)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)) ==
      ((100L, 50L, 5000L, 0)))
    // identical snapshots: every cum fraction matches -> zero drift
    val same = CorpusOps.ksDrift(a, a, "value", bins = 4).collect().head
    assert(same.getLong(2) == 0L)
    // degenerate single-value domain (hi == lo) collapses to one bin
    val deg = CorpusOps.ksDrift(a, a.limit(10), "value", bins = 8).collect().head
    assert(deg.getLong(2) == 0L)
  }

  test("assignRowIds: dense 0-based ids in sort order, schema preserved") {
    import spark.implicits._
    val df = Seq(("b", 2L), ("a", 9L), ("b", 1L), ("a", 3L))
      .toDF("grp", "k")
    val got = CorpusOps.assignRowIds(df, Seq("grp", "k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(got.toSeq == Seq(("a", 3L, 0L), ("a", 9L, 1L),
      ("b", 1L, 2L), ("b", 2L, 3L)))
  }

  test("assignRowIds ids are dense across many partitions") {
    import spark.implicits._
    val df = spark.range(0, 10000).toDF("k").repartition(13)
    val ids = CorpusOps.assignRowIds(df, Seq("k")).select("row_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.head == 0L && ids.last == 9999L && ids.length == 10000)
    assert(ids.zipWithIndex.forall { case (v, i) => v == i })
  }

  test("globalRank consumers: narrow projection mode equals full-row mode") {
    import spark.implicits._
    // wide rows: the narrow mode must sort/pin only (score, id) /
    // orderCols and join back, producing IDENTICAL rows
    val df = (0 until 500).map(i =>
      (i.toLong, (i * 37 % 101).toDouble, s"payload-$i " * 10, i % 7))
      .toDF("id", "score", "wide_text", "grp").repartition(5)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(rows(CorpusOps.keepHeadByScore(df, "score", "id", 0.3, narrow = true))
      == rows(CorpusOps.keepHeadByScore(df, "score", "id", 0.3, narrow = false)))
    assert(rows(CorpusOps.scoreBuckets(df, "score", "id", narrow = true))
      == rows(CorpusOps.scoreBuckets(df, "score", "id", narrow = false)))
    assert(rows(CorpusOps.assignRowIds(df, Seq("score", "id"), narrow = true))
      == rows(CorpusOps.assignRowIds(df, Seq("score", "id"), narrow = false)))
    // column order preserved in narrow mode
    assert(CorpusOps.keepHeadByScore(df, "score", "id", 0.3).columns.toSeq
      == (df.columns.toSeq :+ "rank"))
    assert(CorpusOps.assignRowIds(df, Seq("score", "id")).columns.toSeq
      == (df.columns.toSeq :+ "row_id"))
  }

  test("writeBatchIdempotent: replaying a batch rewrites, never duplicates") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("idem-out").toString
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.streaming.Streams.writeBatchIdempotent(b0, 0L, out)
    graft.streaming.Streams.writeBatchIdempotent(
      Seq((3L, "c")).toDF("id", "v"), 1L, out)
    // simulate redelivery of batch 0 after a crash between write and
    // checkpoint commit — same rows land again under the same batch_id
    graft.streaming.Streams.writeBatchIdempotent(b0, 0L, out)
    import org.apache.spark.sql.functions.col
    val rows = spark.read.parquet(out)
      .select(col("id"), col("batch_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == Seq((1L, 0L), (2L, 0L), (3L, 1L)),
      s"replay must overwrite only its own partition, got $rows")
  }
}
