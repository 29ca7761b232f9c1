package graft

import java.nio.file.Files

import graft.ops.Bucketing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed layout: the write pre-shuffles once, then equi-joins on the
  * bucket key plan WITHOUT any Exchange (the recurring-shuffle saving
  * that matters at warehouse scale).
  */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("bucket-wh").toString)
    .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-BHJ
    .config("spark.ui.enabled", "false")
    .appName("bucketing-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("co-located join on bucketed tables plans zero exchanges") {
    import spark.implicits._
    val orders = (1 to 5000).map(i => (i.toLong % 97, i.toLong, i * 1.5))
      .toDF("custkey", "orderkey", "total")
    val custs = (0 to 96).map(i => (i.toLong, s"cust$i")).toDF("custkey", "name")
    Bucketing.writeBucketed(orders, "orders_b", "custkey", buckets = 4)
    Bucketing.writeBucketed(custs, "custs_b", "custkey", buckets = 4)

    val joined = spark.table("orders_b").join(spark.table("custs_b"), Seq("custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should have no shuffle:\n$plan")
    assert(joined.count() == 5000)

    // sanity: the same join on unbucketed data DOES exchange
    val plain = orders.join(custs, Seq("custkey"))
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))

    // and a groupBy on the bucket key also runs shuffle-free
    val agg = spark.table("orders_b").groupBy("custkey")
      .agg(sum(col("total")).as("t"))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("IVF cells persisted bucketed by center_id: probe shuffles ONLY the query side") {
    import spark.implicits._
    // the deployment shape the Similarity docstrings promise: build once,
    // persist cells bucketed on center_id, and every batch probe joins
    // against the cells WITHOUT re-shuffling the corpus
    val vecs = (0 until 200).map { i =>
      val v = Array.fill(8)(0.0f); v(i % 4) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val idx = graft.ops.Similarity.buildIvfIndex(vecs, nCenters = 4, iters = 2)
    Bucketing.writeBucketed(
      idx.cells.select(col("vec_id"), col("center_id"), col("_cv")),
      "ivf_cells_b", "center_id", buckets = 4)
    idx.release()
    // a large batch-probe side (not broadcastable under the -1 threshold);
    // center_id typed to match the table exactly — a cast on the bucket
    // key disables bucketed scanning
    val probes = (0 until 500).map(i => (i.toLong, i % 4))
      .toDF("query_id", "center_id")
    val cands = probes.join(spark.table("ivf_cells_b"), Seq("center_id"))
    val plan = cands.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected exactly one exchange (query side only), got $exchanges:\n$plan")
    assert(cands.count() == 500L * 50) // 500 probes x 50 vectors per cell
  }
}
