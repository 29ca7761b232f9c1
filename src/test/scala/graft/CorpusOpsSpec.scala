package graft

import graft.functions.CorpusFunctions._
import graft.functions.CorpusKernels
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CorpusOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("corpus-ops-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDF = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
      (2L, "THE  quick   brown fox jumps over the lazy dog again and again"), // ws/case dup of 0
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
      (4L, "completely different content about spark catalyst optimizer rules"),
      (5L, "unrelated text mentioning neither foxes nor dogs whatsoever today")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups whitespace/case-normalized duplicates") {
    val annotated = Dedup.exact(docsDF)
      .select("doc_id", "dup_group_size", "is_canonical").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(annotated(0L) == ((3L, true)))
    assert(annotated(1L) == ((3L, false)))
    assert(annotated(4L) == ((1L, true)))
  }

  test("minhash LSH finds the near-dup pair and skips unrelated") {
    val pairs = Dedup.minhashLsh(docsDF, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)), s"expected (0,3) in $pairs")
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
    // exact dups score jaccard 1.0 (0,1); ws-normalized (0,2) differs in
    // char shingles but should still clear 0.6
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash band blocking finds near dups within hamming radius") {
    val pairs = Dedup.simhashPairs(docsDF, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical -> hamming 0
    assert(pairs.contains((0L, 3L)), s"one-word swap within radius: $pairs")
    assert(!pairs.contains((0L, 4L)))
    // kernel sanity: identical text identical hash
    assert(CorpusKernels.simHash("a b c") == CorpusKernels.simHash("a b c"))
  }

  test("ngram jaccard matches hand-computed value") {
    // doc0 vs doc3: 12 words, one substitution at position 9 (dog->cat).
    // distinct 3-gram shingles: doc0 has 10 (all distinct? "again and" no:
    // shingles: w0..w9 starts -> 10 shingles each). shared = those not
    // touching position 9: starts 0..6 -> 7 shingles. union = 10+10-7=13.
    val j = CorpusKernels.jaccardWordShingles(
      "the quick brown fox jumps over the lazy dog again and again",
      "the quick brown fox jumps over the lazy cat again and again", 3)
    assert(math.abs(j - 7.0 / 13.0) < 1e-12, s"got $j")
    val pairs = Dedup.ngramJaccardPairs(docsDF, n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    assert(math.abs(pairs((0L, 3L)) - 7.0 / 13.0) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("decontaminate flags train docs overlapping the eval set") {
    import spark.implicits._
    val eval = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (100L, "prefix words then the quick brown fox jumps over something"),
      (101L, "completely unrelated text with no overlap at all here"))
      .toDF("doc_id", "text")
    val hits = Dedup.decontaminate(train, eval, n = 3, minSharedShingles = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 100 shares "the quick brown","quick brown fox","brown fox jumps",
    // "fox jumps over" -> 4 shingles; 101 shares none
    assert(hits.toSeq == Seq((100L, 1L, 4L)))
  }

  test("brute-force cosine topK on real embeddings; ANN recalls neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 10)
    val exactSet = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.groupBy("query_id").count().collect().forall(_.getLong(1) == 10))

    val ann = Similarity.annTopK(queries, emb, k = 10, planes = 16, bands = 8)
    val annSet = ann.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall@10 of the LSH path vs exact, on the labeled-cluster data
    val recall = (annSet intersect exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.5, s"ANN recall too low: $recall")

    // (the synthetic embeddings are isotropic-random: labels carry no
    // cluster structure — verified offline — so no label-coherence check)
  }

  test("IVF topK: kmeans cells + probe search recall clustered neighbors") {
    import spark.implicits._
    // 8 well-separated clusters of 25 vectors in 16-d: cluster c lives on
    // axis pair (2c, 2c+1) with small deterministic jitter
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val c = i % 8
      val v = Array.fill(dim)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.2f + 0.01f * ((i * 7) % 11)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))

    val exact = Similarity.bruteForceTopK(queries, vecs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivfTopK(): Set[(Long, Long)] = {
      val index = Similarity.buildIvfIndex(vecs, nCenters = 8, iters = 3)
      try Similarity.ivfProbe(queries, index, k = 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally index.release()
    }
    val ivfSet = ivfTopK()
    val recall = (ivfSet intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
    // determinism: a second build and probe return the identical result
    assert(ivfTopK() == ivfSet)
  }

  test("quantized IVF probe recalls what the float probe recalls") {
    import spark.implicits._
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val c = i % 8
      val v = Array.fill(dim)(0.0f)
      v(2 * c) = 1.0f
      v(2 * c + 1) = 0.2f + 0.01f * ((i * 7) % 11)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteForceTopK(queries, vecs, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = Similarity.buildIvfIndex(vecs, nCenters = 8, iters = 3)
    val qidx = Similarity.quantizeIndex(idx)
    val got = Similarity.ivfProbeQuantized(queries, qidx, k = 10, nProbe = 2)
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (gotSet intersect exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"quantized IVF recall too low: $recall")
    // asymmetric-distance scores stay within O(scale) of exact cosine
    val joined = got.join(
      Similarity.bruteForceTopK(queries, vecs, k = 200)
        .withColumnRenamed("cosine", "exact_cos"),
      Seq("query_id", "vec_id"))
      .select(abs(col("cosine") - col("exact_cos")).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(joined < 0.02, s"quantized cosine drifts too far: $joined")
    idx.release(); qidx.release()
  }

  test("embedding cosine near-dup pairs agree with brute force at threshold") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    val lsh = Dedup.embeddingPairs(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force ground truth
    val e = emb.select(col("vec_id").as("id_a"), col("embedding").as("_va"))
    val f = emb.select(col("vec_id").as("id_b"), col("embedding").as("_vb"))
    val truth = e.crossJoin(f).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine_sim(col("_va"), col("_vb")))
      .filter(col("cos") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth), "LSH must not invent pairs (it verifies exactly)")
    if (truth.nonEmpty) {
      val recall = lsh.size.toDouble / truth.size
      assert(recall >= 0.5, s"pair recall $recall (found ${lsh.size}/${truth.size})")
    }
  }

  test("text analysis annotate runs one-pass over documents") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ann = TextAnalysis.annotate(docs)
    val row = ann.filter(col("doc_id") === 0).head()
    assert(row.getAs[Int]("n_tokens_ws") > 0)
    assert(row.getAs[Int]("n_tokens_bpeish") >= row.getAs[Int]("n_tokens_ws"))
    val q = row.getAs[Double]("quality")
    assert(q >= 0.0 && q <= 1.0)
    // whole corpus bounds
    val bad = ann.filter(col("quality") < 0 || col("quality") > 1).count()
    assert(bad == 0)
    // deterministic fingerprint: same corpus twice -> same fingerprints
    val fp1 = ann.select("doc_id", "fingerprint").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp2 = TextAnalysis.annotate(docs).select("doc_id", "fingerprint")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp1 == fp2)
  }

  test("dedup clusters: CC over LSH pairs, canonical = min doc id") {
    val cl = Dedup.clusters(docsDF, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(cl.size == 6, "every doc gets a cluster row")
    // 0,1,3 are near-dups of each other -> one cluster, canonical 0
    assert(cl(0L) == ((0L, true)))
    assert(cl(1L) == ((0L, false)))
    assert(cl(3L) == ((0L, false)))
    // 4 and 5 are unrelated singletons
    assert(cl(4L) == ((4L, true)))
    assert(cl(5L) == ((5L, true)))
  }

  test("assets from documents: deterministic bytes, oracle-shaped frames") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val assets = Multimodal.assetsFromDocuments(docs)
    val feats = Multimodal.extractFeatures(assets).collect()
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feats.length == texts.size)
    feats.foreach { f =>
      assert(f.n_bytes ==
        texts(f.asset_id).getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    }
    // deterministic checksums across two runs
    val again = Multimodal.extractFeatures(assets).collect()
      .map(f => f.asset_id -> f.checksum).toMap
    feats.foreach(f => assert(again(f.asset_id) == f.checksum))
    // frame fan-out: video assets (id % 3 == 2) emit 1 + id % 5 frames
    val frames = Multimodal.sampleFrames(assets)
      .groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(frames.keySet == texts.keySet.filter(_ % 3 == 2))
    frames.foreach { case (id, n) => assert(n == 1 + id % 5) }
  }

  test("multimodal plumbing: features + frame sampling") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val feats = Multimodal.extractFeatures(assets, dim = 16)
    val rows = feats.collect()
    assert(rows.length == 30)
    assert(rows.forall(_.feature.length == 16))
    // deterministic: same bytes -> same checksum/features
    val again = Multimodal.extractFeatures(assets, dim = 16).collect()
    assert(rows.map(_.checksum).sorted.sameElements(again.map(_.checksum).sorted))

    val frames = Multimodal.sampleFrames(assets, everyMs = 1000)
    val videoCount = assets.filter(_.modality == "video").count()
    assert(frames.select("asset_id").distinct().count() == videoCount)
    // 5000..9000ms at 1000ms -> 5..9 frames per video
    val perVideo = frames.groupBy("asset_id").count().collect()
    assert(perVideo.forall(r => r.getLong(1) >= 5 && r.getLong(1) <= 9))
  }
}
