package graft

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 batch 3: index append maintenance for the graph tier
  * (nswAppend = HNSW insertion as a batch beam search + bidirectional
  * connect) and the lexical tier (appendPostingsIndex — additive stats,
  * unconditionally probe-equal to a full rebuild).
  */
class Round9cOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round9c-ops-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def edgeSet(df: DataFrame): Set[(Long, Long)] = {
    import df.sparkSession.implicits._
    df.select("src", "dst").as[(Long, Long)].collect().toSet
  }

  test("staged nswAppend: appended edge set equals brute-force top-m " +
      "per batch vector plus its mirror") {
    import spark.implicits._
    val base = Similarity.buildNswGraph(emb, nCenters = 4)
    val batch = emb.filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val appended = Similarity.nswAppend(base, batch, emb, m = 4,
      ef = 1 << 18, hops = 0, entries = Some(emb.select("vec_id")))
    val got = edgeSet(appended.edges.filter(
      col("src") >= 1000000L || col("dst") >= 1000000L))
    val nn = edgeSet(
      Similarity.bruteForceTopK(
        batch.select(col("vec_id").as("query_id"), col("embedding")),
        emb, k = 4)
        .select(col("query_id").as("src"), col("vec_id").as("dst")))
    val exp = nn ++ nn.map { case (a, b) => (b, a) }
    assert(got === exp)
    // entries unchanged: gateway set is a build-cadence artifact
    assert(edgeSet(appended.entries.select(col("vec_id").as("src"),
        col("vec_id").as("dst"))) ===
      edgeSet(base.entries.select(col("vec_id").as("src"),
        col("vec_id").as("dst"))))
    appended.edges.unpersist(); base.release()
  }

  test("O(batch) nswAppend builds the same edge SET the full " +
      "union().distinct() formulation would have") {
    val base = Similarity.buildNswGraph(emb, nCenters = 4)
    val batch = emb.filter(col("vec_id") % 25 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val appended = Similarity.nswAppend(base, batch, emb, m = 4,
      ef = 1 << 18, hops = 0, entries = Some(emb.select("vec_id")))
    // the r9 implementation, replayed inline: search → forward+mirror →
    // full-table distinct — the appended index must be SET-equal to it
    val found = Similarity.nswSearch(
      batch.select(col("vec_id").as("query_id"), col("embedding")),
      base, emb, k = 4, ef = 1 << 18, hops = 0,
      entries = Some(emb.select("vec_id")))
    val nn = found.select(col("query_id").as("src"), col("vec_id").as("dst"))
    val old = base.edges.union(nn)
      .union(nn.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    assert(edgeSet(appended.edges) === edgeSet(old))
    // and no edge appears twice (union of disjoint deduped parts)
    assert(appended.edges.count() === appended.edges.distinct().count())
    appended.edges.unpersist(); found.unpersist(); base.release()
  }

  test("nswAppend of an EMPTY batch leaves the edge set unchanged") {
    val base = Similarity.buildNswGraph(emb, nCenters = 4)
    val appended = Similarity.nswAppend(base, emb.limit(0), emb)
    assert(edgeSet(appended.edges) === edgeSet(base.edges))
    appended.edges.unpersist(); base.release()
  }

  test("deployment-parameter nswAppend: appended exact duplicates are " +
      "REACHABLE — search from the original vector finds its twin") {
    val base = Similarity.buildNswGraph(emb, nCenters = 4)
    val dups = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val appended = Similarity.nswAppend(base, dups, emb,
      m = 8, ef = 32, hops = 3)
    val union = emb.unionByName(dups)
    import spark.implicits._
    val got = Similarity.nswSearch(
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding")),
      appended, union, k = 3, ef = 32, hops = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 5L).foreach { i =>
      assert(got.getOrElse(i, Set.empty).contains(i + 1000000L),
        s"appended duplicate of $i unreachable: ${got.get(i)}")
    }
    appended.edges.unpersist(); base.release()
  }

  test("appendPostingsIndex: probe of (even-half build + odd append) " +
      "equals probe of a full build, scores included") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(filter(
          split(lower(trim(col("text"))), "\\s+"),
          tk => tk =!= ""), 1, 8), " ").as("text"))
    val full = TextAnalysis.buildPostingsIndex(docs)
    val half = TextAnalysis.buildPostingsIndex(
      docs.filter(col("doc_id") % 2 === 0))
    val appended = TextAnalysis.appendPostingsIndex(half,
      docs.filter(col("doc_id") % 2 === 1))
    def probe(ix: TextAnalysis.PostingsIndex) =
      TextAnalysis.bm25Probe(ix, qs)
        .select("query_id", "doc_id", "bm25", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(probe(appended) === probe(full))
    // empty append: identical to the base, stats included
    val empty = TextAnalysis.appendPostingsIndex(half, docs.limit(0))
    assert(probe(empty) === probe(half))
    Seq(full, half, appended, empty).foreach(_.release())
  }

  test("fixed-point rank guards fail loudly on fractional weights, " +
      "fractional resets, and Long-overflow scales") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1.5), ("b", "c", 2.0))
      .toDF("src", "dst", "w")
    val e1 = intercept[IllegalArgumentException] {
      graft.graph.GraphOps.pageRank(edges, weightCol = Some("w"),
        maxIter = 2, scale = Some(1000000L)).collect()
    }
    assert(e1.getMessage.contains("integer-valued weights"))
    // (a fractional RESET vector has no public entry point —
    // pageRankPersonalized builds the scaled vector itself from a
    // topic-vertex set — so the reset-integrality guard is defense for
    // internal/future callers and is exercised by the weight case's twin
    // code path)
    val ok = Seq(("a", "b", 1.0), ("b", "c", 2.0)).toDF("src", "dst", "w")
    // a (scale, weight) combination that blows the damped-mass bound:
    // loud, not wrapped (reset values stay under 2^53 so the earlier
    // integrality guard passes and THIS one fires)
    val heavy = Seq(("a", "b", 1000.0), ("b", "c", 1000.0))
      .toDF("src", "dst", "w")
    val e3 = intercept[IllegalArgumentException] {
      graft.graph.GraphOps.pageRank(heavy, weightCol = Some("w"),
        maxIter = 2, scale = Some(6000000000000000L)).collect()
    }
    assert(e3.getMessage.contains("overflow precondition"))
    // the valid lattice still runs
    assert(graft.graph.GraphOps.pageRank(ok, weightCol = Some("w"),
      maxIter = 2, scale = Some(1000000L)).count() > 0)
  }
}
