package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 hardening: the fixed-point rank guard targets the actual
  * division hazard (all-zero out-degree sources, not any zero weight),
  * and the KMV estimate regimes at the NDV == k boundary match the
  * documented contract (exact strictly below k; estimator at and above,
  * kth == 0 guarded).
  */
class Round10OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round10-ops-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("fixed-point rank: a zero weight alongside positive siblings is " +
      "valid; an all-zero out-degree source fails loudly") {
    import spark.implicits._
    // source a carries a harmless zero edge next to a positive one —
    // its weighted out-degree stays positive, so fixed mode must run
    val mixed = Seq(("a", "b", 1.0), ("a", "c", 0.0), ("b", "c", 2.0))
      .toDF("src", "dst", "w")
    assert(graft.graph.GraphOps.pageRank(mixed, weightCol = Some("w"),
      maxIter = 2, scale = Some(1000000L)).count() > 0)
    // an isolated all-zero edge zeroes BOTH endpoints' out-degrees
    // (edges symmetrize) — the divide-by-zero hazard, guarded loudly
    val allZero = Seq(("a", "b", 0.0)).toDF("src", "dst", "w")
    val e = intercept[IllegalArgumentException] {
      graft.graph.GraphOps.pageRank(allZero, weightCol = Some("w"),
        maxIter = 2, scale = Some(1000000L)).collect()
    }
    assert(e.getMessage.contains("out-degree"))
  }

  test("shingleHashesMd5 golden: first 4 md5 bytes per char k-gram, " +
      "sorted distinct, unsigned in Long") {
    import graft.functions.CorpusKernels
    def ref(text: String, k: Int): Array[Long] = {
      val d = java.security.MessageDigest.getInstance("MD5")
      (0 to text.length - k).map { i =>
        val b = d.digest(text.substring(i, i + k).getBytes("UTF-8"))
        ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
          ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
      }.distinct.sorted.toArray
    }
    val s = "the quick brown fox jumps over the lazy dog"
    assert(CorpusKernels.shingleHashesMd5(s, 5).toSeq === ref(s, 5).toSeq)
    assert(CorpusKernels.shingleHashesMd5("abc", 5).isEmpty)
    assert(CorpusKernels.shingleHashesMd5(null, 5).isEmpty)
    // values are unsigned 32-bit: non-negative, < 2^32
    assert(CorpusKernels.shingleHashesMd5(s, 5)
      .forall(h => h >= 0L && h < (1L << 32)))
    // jaccard twin agrees with the int-array kernel's semantics
    assert(CorpusKernels.jaccardSortedLongArrays(
      Array.empty[Long], Array.empty[Long]) === 1.0)
    assert(CorpusKernels.jaccardSortedLongArrays(
      Array(1L, 2L, 3L), Array(2L, 3L, 4L)) === 0.5)
  }

  test("md5-seam staged minhashLsh equals the production-hash staged " +
      "form on a collision-free fixture, and the seam rides the " +
      "persisted index") {
    import spark.implicits._
    import graft.ops.Dedup
    val docs = (0 until 40).map { i =>
      val fam = i % 5
      (i.toLong, s"family $fam body sentence alpha beta gamma token$fam" +
        (if (i % 2 == 0) s" tail$i" else ""))
    }.toDF("doc_id", "text")
    def pairs(seam: Boolean): Set[(Long, Long)] =
      Dedup.minhashLsh(docs, threshold = 0.5, numHashes = 0, bands = 1,
        md5Seam = seam)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val md5 = pairs(seam = true)
    assert(md5.nonEmpty && md5 === pairs(seam = false))
    // the seam is RECORDED on the index (like the banding) and read back
    // by the probe, so batch and corpus always shingle identically
    val idx = Dedup.buildMinhashIndex(docs, numHashes = 0, bands = 1,
      md5Seam = true)
    assert(idx.md5Seam)
    val hits = Dedup.nearDupAgainstIndex(idx,
      docs.filter(col("doc_id") < 2)
        .withColumn("doc_id", col("doc_id") + 1000L),
      threshold = 0.99)
    // each probed doc is an exact duplicate of its corpus twin
    assert(hits.filter(col("jaccard") === 1.0).count() >= 2)
  }

  test("word-gram md5 seam: golden hashes, seam parity with the " +
      "production gate, and fail-loud probe/index hash mismatch") {
    import spark.implicits._
    import graft.functions.CorpusKernels
    import graft.ops.Dedup
    // golden: md5-32 of the space-joined 3-gram, sorted distinct
    def ref(text: String): Array[Long] = {
      val w = text.split("\\s+").filter(_.nonEmpty)
      val d = java.security.MessageDigest.getInstance("MD5")
      (0 to w.length - 3).map { i =>
        val b = d.digest(w.slice(i, i + 3).mkString(" ").getBytes("UTF-8"))
        ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
          ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
      }.distinct.sorted.toArray
    }
    val s0 = "alpha beta gamma delta beta gamma delta"
    assert(CorpusKernels.wordShingleHashesMd5(s0, 3).toSeq === ref(s0).toSeq)
    assert(CorpusKernels.wordShingleHashesMd5("a b", 3).isEmpty)
    // seam parity: same contamination flags either hash (no collisions
    // on a small fixture)
    val train = Seq((100L, "leak alpha beta gamma delta end"),
      (101L, "clean text with nothing shared here at all"))
      .toDF("doc_id", "text")
    val eval = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    def flags(seam: Boolean): Set[(Long, Long, Long)] =
      Dedup.decontaminate(train, eval, md5Seam = seam)
        .as[(Long, Long, Long)].collect().toSet
    assert(flags(seam = true) === Set((100L, 1L, 2L)))
    assert(flags(seam = true) === flags(seam = false))
    // a probe whose hash differs from the index's fails LOUD, both ways
    val seamedIdx = Dedup.evalShingleIndex(eval, md5Seam = true)
    val murmurIdx = Dedup.evalShingleIndex(eval)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.decontaminateAgainstIndex(train, seamedIdx).collect()
    }
    assert(e1.getMessage.contains("md5Seam"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.decontaminateAgainstIndex(train, murmurIdx, md5Seam = true)
        .collect()
    }
    assert(e2.getMessage.contains("md5Seam"))
    // a pre-seam index (no _md5 column) reads as production murmur
    assert(Dedup.decontaminateAgainstIndex(train, murmurIdx.drop("_md5"))
      .count() === 1)
  }

  test("indexDriftReport: an identically-distributed batch reports zero " +
      "drift; a planted single-cell shift recommends retrain; an empty " +
      "batch reports no evidence") {
    import spark.implicits._
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = Similarity.buildIvfIndex(emb, nCenters = 4, iters = 2)
    // the corpus itself as the batch: per-cell n_batch == n_index, so
    // TV = 0 exactly and no retrain fires
    val same = Similarity.indexDriftReport(idx,
      emb.withColumn("vec_id", col("vec_id") + 1000000L))
    assert(same.filter(col("tv_u6") =!= 0L || col("retrain")).count() === 0)
    assert(same.count() === 4)
    val sameRows = same.select("center_id", "n_index", "n_batch")
      .as[(Int, Long, Long)].collect()
    assert(sameRows.forall { case (_, ni, nb) => ni === nb })
    // planted shift: every batch vector is the same single corpus vector
    // — one cell takes the whole batch, TV = 1 − (that cell's index
    // share), far past any sane threshold
    val one = emb.orderBy("vec_id").limit(1)
      .select(col("embedding")).crossJoin(
        emb.select((col("vec_id") + 2000000L).as("vec_id")))
      .select("vec_id", "embedding")
    val shifted = Similarity.indexDriftReport(idx, one)
    assert(shifted.filter(col("retrain")).count() === 4)
    // the batch landed in exactly one cell
    assert(shifted.filter(col("n_batch") > 0).count() === 1)
    // empty batch: no evidence is not drift
    val empty = Similarity.indexDriftReport(idx, emb.limit(0))
    assert(empty.filter(col("tv_u6") =!= 0L || col("retrain")).count() === 0)
    idx.release()
  }

  test("postingsDriftReport: an identical batch reports zero OOV and " +
      "zero length shift; novel vocabulary triggers rebuild; an empty " +
      "batch reports no evidence") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val idx = TextAnalysis.buildPostingsIndex(docs)
    def report(batch: org.apache.spark.sql.DataFrame) =
      TextAnalysis.postingsDriftReport(idx, batch)
        .select("n_oov_tokens", "oov_u6", "dl_shift_u6", "rebuild")
        .as[(Long, Long, Long, Boolean)].head()
    // the corpus itself: same vocabulary, same avgdl — all zeros
    assert(report(docs.withColumn("doc_id", col("doc_id") + 1000000L)) ===
      ((0L, 0L, 0L, false)))
    // a batch of entirely novel vocabulary: oov_u6 = 1e6, rebuild fires
    val novel = Seq((2000000L, "zzqx1 zzqx2 zzqx3 zzqx4")).toDF("doc_id", "text")
    val r = report(novel)
    assert(r._1 === 4L && r._2 === 1000000L && r._4)
    // empty batch: no evidence is not drift
    assert(report(docs.limit(0)) === ((0L, 0L, 0L, false)))
    idx.release()
  }

  test("kmvDistinct regimes at the k boundary: exact strictly below k, " +
      "Beyer estimator at NDV == k") {
    import spark.implicits._
    val k = 8
    def hash60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      BigInt(d.digest(s.getBytes("UTF-8")).take(8)).toLong >>> 4
    }
    def run(ndv: Int): (Int, Long, Long) = {
      val df = (0 until ndv).flatMap(i => Seq(("g", s"v$i"), ("g", s"v$i")))
        .toDF("g", "v")
      val r = graft.ops.Sketches.kmvDistinct(df, Seq("g"), "v", k = k)
        .select("k_eff", "kth_hash60", "approx_distinct").head()
      (r.getInt(0), r.getLong(1), r.getLong(2))
    }
    // NDV = k - 1: sketch not full, every field exact
    val (e1, _, a1) = run(k - 1)
    assert(e1 === k - 1 && a1 === (k - 1).toLong)
    // NDV = k: sketch full — indistinguishable from NDV > k, so the
    // ESTIMATOR answers (the documented exact regime is NDV < k)
    val hashes = (0 until k).map(i => hash60(s"v$i")).sorted
    val kth = hashes.last
    val expected =
      (BigInt(k - 1) * BigInt(1152921504606846976L) / BigInt(kth)).toLong
    val (e2, kth2, a2) = run(k)
    assert(e2 === k && kth2 === kth && a2 === expected)
  }
}
