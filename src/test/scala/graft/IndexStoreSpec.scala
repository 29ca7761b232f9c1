package graft

import java.nio.file.Files

import graft.ops.{Dedup, IndexStore, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Index persistence round-trips: each build-once artifact writes to
  * bucketed/plain tables and reads back into the SAME case class, every
  * probe operator returns IDENTICAL results on the reloaded index, and
  * the probe plan against a reloaded bucketed table shuffles only the
  * query/batch side (zero Exchange above the bucketed scan).
  */
class IndexStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("idxstore-wh").toString)
    .config("spark.ui.enabled", "false")
    .appName("index-store-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  lazy val docs: DataFrame = {
    import spark.implicits._
    (0 until 120).map { i =>
      val fam = i % 8
      val text = s"family $fam shared sentence body token$fam alpha beta " +
        s"gamma delta epsilon zeta" + (if (i % 3 == 0) s" unique$i" else "")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  lazy val vecs: DataFrame = {
    import spark.implicits._
    (0 until 160).map { i =>
      val v = Array.tabulate(16)(d =>
        (math.sin(i * 0.37 + d) + (if (d == i % 4) 2.0 else 0.0)).toFloat)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("MinHash index round-trips; nearDupAgainstIndex identical on reload") {
    val idx = Dedup.buildMinhashIndex(docs)
    IndexStore.writeMinhashIndex(idx, "mh_idx", buckets = 4)
    val reloaded = IndexStore.readMinhashIndex(spark, "mh_idx")
    import spark.implicits._
    val batch = (200 until 210).map { i =>
      (i.toLong, s"family ${i % 8} shared sentence body token${i % 8} alpha " +
        "beta gamma delta epsilon zeta")
    }.toDF("doc_id", "text")
    val live = rowsOf(Dedup.nearDupAgainstIndex(idx, batch, threshold = 0.6))
    val back = rowsOf(Dedup.nearDupAgainstIndex(reloaded, batch, threshold = 0.6))
    assert(live.nonEmpty, "probe batch must hit the index")
    assert(live == back)
  }

  test("MinHash meta round-trips the md5-seam flag; pre-seam metas read " +
      "as production murmur") {
    val seamed = Dedup.buildMinhashIndex(docs, numHashes = 0, bands = 1,
      md5Seam = true)
    IndexStore.writeMinhashIndex(seamed, "mh_seam", buckets = 4)
    val back = IndexStore.readMinhashIndex(spark, "mh_seam")
    assert(back.md5Seam && back.numHashes === 0 && back.bands === 1)
    // a meta written before the md5_seam column existed (simulated by
    // re-persisting without the column) must read as the production
    // murmur index it was
    val legacy = spark.table("mh_seam_meta")
      .select("shingle_k", "num_hashes", "bands").collect().toSeq
    spark.sql("DROP TABLE mh_seam_meta")
    import spark.implicits._
    legacy.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      .toDF("shingle_k", "num_hashes", "bands")
      .write.saveAsTable("mh_seam_meta")
    assert(!IndexStore.readMinhashIndex(spark, "mh_seam").md5Seam)
  }

  test("pre-meta MinHash artifact: default-parameter index reloads with " +
      "validated defaults; an overridden index fails loudly") {
    // a default-parameter artifact whose meta table is gone (pre-upgrade
    // layout): the fallback guess must be VALIDATED against the artifact
    val idx = Dedup.buildMinhashIndex(docs)
    IndexStore.writeMinhashIndex(idx, "mh_premeta", buckets = 4)
    spark.sql("DROP TABLE mh_premeta_meta")
    val back = IndexStore.readMinhashIndex(spark, "mh_premeta")
    assert((back.shingleK, back.numHashes, back.bands) === ((5, 128, 32)))
    // an OVERRIDDEN pre-meta artifact must refuse to load with guessed
    // banding (the silent-mismatch class the meta table eliminates)
    val odd = Dedup.buildMinhashIndex(docs, numHashes = 64, bands = 16)
    IndexStore.writeMinhashIndex(odd, "mh_premeta_odd", buckets = 4)
    spark.sql("DROP TABLE mh_premeta_odd_meta")
    val e = intercept[IllegalArgumentException] {
      IndexStore.readMinhashIndex(spark, "mh_premeta_odd")
    }
    assert(e.getMessage.contains("re-persist"))
  }

  test("IVF index round-trips; ivfProbe identical; cells side reads pre-shuffled") {
    val idx = Similarity.buildIvfIndex(vecs, nCenters = 4, iters = 2)
    IndexStore.writeIvfIndex(idx, "ivf_idx", buckets = 4)
    val reloaded = IndexStore.readIvfIndex(spark, "ivf_idx")
    val qs = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val live = rowsOf(Similarity.ivfProbe(qs, idx, k = 5, nProbe = 2))
    val back = rowsOf(Similarity.ivfProbe(qs, reloaded, k = 5, nProbe = 2))
    assert(live.nonEmpty && live == back)
    idx.release()

    // plan shape: the candidate join against the reloaded bucketed cells
    // must not exchange the cells side — only the probe side shuffles
    val probed = qs.crossJoin(broadcast(reloaded.centroids))
      .select(col("query_id"), col("center_id"))
    val cands = probed.join(spark.table("ivf_idx_cells"), Seq("center_id"))
    cands.write.format("noop").mode("overwrite").save()
    val plan = cands.queryExecution.executedPlan.toString
    // split the plan at the bucketed scan: no Exchange may sit between the
    // join and the scan (i.e. in the cells subtree)
    val scanIdx = plan.indexOf("ivf_idx_cells")
    assert(scanIdx > 0, s"expected a bucketed table scan in:\n$plan")
    val joinIdx = plan.indexOf("SortMergeJoin")
    if (joinIdx >= 0) {
      val between = plan.substring(joinIdx, scanIdx)
      assert(!between.contains("Exchange hashpartitioning"),
        s"cells side must read pre-shuffled:\n$plan")
    }
  }

  test("NSW graph index round-trips; nswSearch identical on reload; " +
      "edges side reads pre-shuffled") {
    val idx = Similarity.buildNswGraph(vecs, nCenters = 4)
    IndexStore.writeNswIndex(idx, "nsw_idx", buckets = 4)
    val reloaded = IndexStore.readNswIndex(spark, "nsw_idx")
    val qs = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val live = rowsOf(Similarity.nswSearch(qs, idx, vecs, k = 5,
      ef = 16, hops = 2))
    val back = rowsOf(Similarity.nswSearch(qs, reloaded, vecs, k = 5,
      ef = 16, hops = 2))
    assert(live.nonEmpty && live == back)
    idx.release()

    // plan shape: a frontier join against the reloaded bucketed edges
    // must not exchange the edges side
    val frontier = qs.select(col("query_id"), col("query_id").as("src"))
    val hop = frontier.join(spark.table("nsw_idx_edges"), Seq("src"))
    hop.write.format("noop").mode("overwrite").save()
    val plan = hop.queryExecution.executedPlan.toString
    val scanIdx = plan.indexOf("nsw_idx_edges")
    assert(scanIdx > 0, s"expected a bucketed table scan in:\n$plan")
    val joinIdx = plan.indexOf("SortMergeJoin")
    if (joinIdx >= 0 && joinIdx < scanIdx) {
      val between = plan.substring(joinIdx, scanIdx)
      assert(!between.contains("Exchange hashpartitioning"),
        s"edges side must read pre-shuffled:\n$plan")
    }
  }

  test("IVF-PQ combined index round-trips; ivfPqProbe identical on " +
      "reload (cells, centroids, codebooks + meta)") {
    val idx = Similarity.buildIvfPqIndex(vecs, nCenters = 4, iters = 2,
      m = 4, ksub = 8)
    IndexStore.writeIvfPqIndex(idx, "ivfpq_idx", buckets = 4)
    val reloaded = IndexStore.readIvfPqIndex(spark, "ivfpq_idx")
    assert(reloaded.cb.m == idx.cb.m && reloaded.cb.subDim == idx.cb.subDim)
    val qs = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val live = rowsOf(Similarity.ivfPqProbe(qs, idx, vecs, k = 5,
      nProbe = 2, overfetch = 3))
    val back = rowsOf(Similarity.ivfPqProbe(qs, reloaded, vecs, k = 5,
      nProbe = 2, overfetch = 3))
    assert(live.nonEmpty && live == back)
    idx.release()
  }

  test("quantized IVF index round-trips; ivfProbeQuantized identical") {
    val idx = Similarity.buildIvfIndex(vecs, nCenters = 4, iters = 2)
    val qidx = Similarity.quantizeIndex(idx)
    IndexStore.writeIvfIndexQ(qidx, "ivfq_idx", buckets = 4)
    val reloaded = IndexStore.readIvfIndexQ(spark, "ivfq_idx")
    val qs = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val live = rowsOf(Similarity.ivfProbeQuantized(qs, qidx, k = 5, nProbe = 2))
    val back = rowsOf(Similarity.ivfProbeQuantized(qs, reloaded, k = 5, nProbe = 2))
    assert(live.nonEmpty && live == back)
    idx.release(); qidx.release()
  }

  test("PQ codebooks round-trip with meta; encode identical on reload") {
    val cb = Similarity.trainPqCodebooks(vecs, m = 4, ksub = 8)
    IndexStore.writePqCodebooks(cb, "pq_cb")
    val reloaded = IndexStore.readPqCodebooks(spark, "pq_cb")
    assert(reloaded.m == cb.m && reloaded.subDim == cb.subDim)
    val live = rowsOf(Similarity.pqEncode(vecs, cb))
    val back = rowsOf(Similarity.pqEncode(vecs, reloaded))
    assert(live == back)
    cb.release()
  }

  test("postings index round-trips; bm25Probe identical on reload") {
    val idx = TextAnalysis.buildPostingsIndex(docs)
    IndexStore.writePostingsIndex(idx, "bm25_idx", buckets = 4)
    val reloaded = IndexStore.readPostingsIndex(spark, "bm25_idx")
    assert(reloaded.idCol == "doc_id")
    import spark.implicits._
    val qs = Seq((0L, "family shared token3 alpha"),
      (1L, "unique9 zeta")).toDF("query_id", "text")
    val live = rowsOf(TextAnalysis.bm25Probe(idx, qs, k = 5))
    val back = rowsOf(TextAnalysis.bm25Probe(reloaded, qs, k = 5))
    assert(live.nonEmpty && live == back)
    idx.release()
  }

  test("CorpusState round-trips; day-2 curateBatch identical on reload") {
    import spark.implicits._
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val day1 = Seq(
      (1L, "the cat sat on the mat and then the dog sat down too"),
      (2L, "a completely different second document body with some other words in it")
    ).toDF("doc_id", "text")
    val r1 = graft.ops.Pipelines.curateBatch(
      graft.ops.Pipelines.initCorpusState(day1.limit(0)), day1, eval,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.6,
      audit = false)
    IndexStore.writeCorpusState(r1.state, "cstate", buckets = 4)
    val reloaded = IndexStore.readCorpusState(spark, "cstate")
    val day2 = Seq(
      (10L, "THE cat sat on the mat and then the dog sat down too"), // dup
      (11L, "entirely new material on the second day with its own words here")
    ).toDF("doc_id", "text")
    def admitted(st: graft.ops.Pipelines.CorpusState) = {
      val r = graft.ops.Pipelines.curateBatch(st, day2, eval,
        minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.6,
        audit = false)
      val ids = r.admitted.select("doc_id").collect().map(_.getLong(0)).toSet
      r.chunks.unpersist()
      ids
    }
    val live = admitted(r1.state)
    val back = admitted(reloaded)
    assert(live == Set(11L) && live == back,
      s"reloaded state must gate identically: live=$live back=$back")
    r1.chunks.unpersist()

    // the optional URL index round-trips too (absent -> None)
    assert(reloaded.urls.isEmpty)
    import spark.implicits._
    val urlState = graft.ops.Pipelines.initCorpusState(
      Seq((1L, "https://example.com/a?b=2&a=1", "the cat sat on a mat"))
        .toDF("doc_id", "url", "text"), urlCol = Some("url"))
    IndexStore.writeCorpusState(urlState, "cstate_u", buckets = 2)
    val backU = IndexStore.readCorpusState(spark, "cstate_u")
    assert(backU.urls.map(_.collect().map(_.getString(0)).toSeq)
      == Some(Seq("https://example.com/a?a=1&b=2")))
  }

  test("curatedLandingIngest: cross-batch gating via persisted state generations") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("cli-ck").toString
    val out = Files.createTempDirectory("cli-out").toString
    val eval = Seq((9L, "no overlap here with any train document at all"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    def run() = graft.streaming.Streams.curatedLandingIngest(
      mem.toDF().toDF("doc_id", "text"), eval, "cli_state", out, ckpt,
      minQuality = 0.0, maxRepetition = 0.95, nearDupThreshold = 0.6)
      .awaitTermination()
    mem.addData(
      (1L, "the cat sat on the mat and then the dog sat down too"),
      (2L, "a completely different second document body with some other words in it"))
    run()
    mem.addData(
      (10L, "THE cat sat  on the mat and then the dog sat down too"), // dup of 1
      (11L, "entirely new material on the second day with its own words here"))
    run()
    val perBatch = spark.read.parquet(out)
      .select(col("batch_id").cast("long").as("b"), col("doc_id"))
      .distinct().collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(perBatch(0L) == Set(1L, 2L), s"batch 0 admits both: $perBatch")
    assert(perBatch(1L) == Set(11L),
      s"batch 1 must reject the cross-batch dup via persisted state: $perBatch")
    // both state generations exist and the newest reflects all admissions
    val g1 = graft.ops.IndexStore.readCorpusState(spark, "cli_state_g1")
    assert(g1.fingerprints.count() == 3)
  }

  test("ivfAppendIngest: streamed vectors route against the persisted " +
      "index, a staged probe over base+delta equals brute force, and " +
      "the drift audit appends one report per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ivfing-ck").toString
    val delta = Files.createTempDirectory("ivfing-delta").toString + "/cells"
    val audit = Files.createTempDirectory("ivfing-audit").toString
    val even = vecs.filter(col("vec_id") % 2 === 0)
    val odd = vecs.filter(col("vec_id") % 2 === 1)
    val base = Similarity.buildIvfIndex(even, nCenters = 4, iters = 2)
    IndexStore.writeIvfIndex(base, "s_ivf", buckets = 4)
    base.release()
    // the reader tolerates the not-yet-existing delta tree
    assert(IndexStore.readIvfIndexWithDelta(spark, "s_ivf", delta)
      .cells.count() === even.count())
    val mem = MemoryStream[(Long, Seq[Float])]
    def run() = graft.streaming.Streams.ivfAppendIngest(
      mem.toDF().toDF("vec_id", "embedding"), "s_ivf", delta, audit, ckpt)
      .awaitTermination()
    val oddRows = odd.as[(Long, Seq[Float])].collect()
    val (b1, b2) = oddRows.splitAt(oddRows.length / 2)
    mem.addData(b1.toSeq: _*); run()
    mem.addData(b2.toSeq: _*); run()
    // staged probe (nProbe = nCenters) over base ∪ streamed deltas must
    // equal brute force over the FULL corpus — the append-family gate
    val full = IndexStore.readIvfIndexWithDelta(spark, "s_ivf", delta)
    val q = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = rowsOf(Similarity.ivfProbe(q, full, k = 5, nProbe = 4)
      .select("query_id", "vec_id", "rank"))
    val exact = rowsOf(Similarity.bruteForceTopK(q, vecs, k = 5)
      .select("query_id", "vec_id", "rank"))
    assert(got.nonEmpty && got == exact)
    // the SPLIT probe — base and delta probed separately, per-side
    // top-k merged — must agree row-for-row (and keeps the bucketed
    // base side's zero-Exchange plan, which the union forfeits)
    val deltaCells = spark.read.parquet(delta)
      .select("vec_id", "_cv", "center_id")
    val split = rowsOf(Similarity.ivfProbeSplit(q,
        IndexStore.readIvfIndex(spark, "s_ivf"), deltaCells,
        k = 5, nProbe = 4)
      .select("query_id", "vec_id", "rank"))
    assert(split == exact)
    // drift audit: one report per batch, one row per centroid
    val auditDf = spark.read.parquet(audit)
    assert(auditDf.select("batch_id").distinct().count() === 2)
    assert(auditDf.count() === 8)
    assert(auditDf.columns.toSet.contains("tv_u6") &&
      auditDf.columns.toSet.contains("retrain"))
  }

  test("bm25AppendIngest: streamed docs land postings/doclens deltas; " +
      "the merged index probes bit-equal to a full rebuild; the drift " +
      "audit appends one report per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("bming-ck").toString
    val delta = Files.createTempDirectory("bming-delta").toString + "/t"
    val audit = Files.createTempDirectory("bming-audit").toString
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val base = TextAnalysis.buildPostingsIndex(even)
    IndexStore.writePostingsIndex(base, "s_post", buckets = 4)
    base.release()
    // the reader tolerates the not-yet-existing delta tree
    assert(IndexStore.readPostingsIndexWithDelta(spark, "s_post", delta)
      .docLens.count() === even.count())
    val mem = MemoryStream[(Long, String)]
    def run() = graft.streaming.Streams.bm25AppendIngest(
      mem.toDF().toDF("doc_id", "text"), "s_post", delta, audit, ckpt)
      .awaitTermination()
    val oddRows = odd.as[(Long, String)].collect()
    val (b1, b2) = oddRows.splitAt(oddRows.length / 2)
    mem.addData(b1.toSeq: _*); run()
    mem.addData(b2.toSeq: _*); run()
    // additive components: the merged (base + streamed deltas) index
    // probes BIT-EQUAL to a fresh full build over the whole corpus
    val merged = IndexStore.readPostingsIndexWithDelta(spark, "s_post",
      delta)
    val full = TextAnalysis.buildPostingsIndex(docs)
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val got = rowsOf(TextAnalysis.bm25Probe(merged, qs))
    val exp = rowsOf(TextAnalysis.bm25Probe(full, qs))
    assert(got.nonEmpty && got == exp)
    // drift audit: one 1-row report per batch — and the signal is REAL:
    // odd docs carry the odd families' vocabulary (token1/3/5/7, the odd
    // fam digits), all absent from the even-half dictionary, so the OOV
    // fraction clears the threshold and rebuild fires on both batches
    val auditDf = spark.read.parquet(audit)
    assert(auditDf.select("batch_id").distinct().count() === 2)
    assert(auditDf.count() === 2)
    assert(auditDf.filter(col("rebuild") &&
      col("oov_u6") > 100000L).count() === 2,
      "disjoint-family batches must recommend rebuild via OOV")
    full.release(); merged.release()
  }
}
