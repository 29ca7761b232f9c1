package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 batch 7: k-fold assignment, n-per-group sampling, blocked
  * fuzzy join.
  */
class Round6eOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round6e-ops").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import graft.ops.CorpusOps

  test("kFoldAssign: folds in range, deterministic, group mode keeps " +
      "every group in one fold") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"src${i % 7}")).toDF("id", "src")
    val plain = CorpusOps.kFoldAssign(df, "id", k = 5)
    val folds = plain.select("fold").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(folds.subsetOf((0 until 5).toSet) && folds.size > 1)
    val again = CorpusOps.kFoldAssign(df, "id", k = 5)
    assert(plain.collect().map(r => (r.getLong(0), r.getInt(2))).toSet ==
      again.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
    val grouped = CorpusOps.kFoldAssign(df, "id", k = 5,
      groupCol = Some("src"))
    val perGroup = grouped.groupBy("src")
      .agg(countDistinct(col("fold")).as("nf"))
      .collect().map(_.getLong(1))
    assert(perGroup.forall(_ == 1L)) // no group straddles folds
    intercept[IllegalArgumentException] {
      CorpusOps.kFoldAssign(df.withColumn("fold", lit(1)), "id", 5)
    }
  }

  test("takeNPerGroup: <= n per group, deterministic, groups smaller " +
      "than n survive whole") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, if (i <= 3) "tiny" else s"g${i % 4}"))
      .toDF("id", "grp")
    val out = CorpusOps.takeNPerGroup(df, Seq("grp"), n = 5, keyCol = "id")
    val sizes = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes("tiny") == 3L)
    assert(sizes.filter(_._1 != "tiny").values.forall(_ == 5L))
    val again = CorpusOps.takeNPerGroup(df, Seq("grp"), 5, "id")
    assert(out.collect().map(_.getLong(0)).toSet ==
      again.collect().map(_.getLong(0)).toSet)
  }

  test("blockedFuzzyJoin: only same-block candidates score; threshold " +
      "filters; exact duplicates hit 1.0") {
    import spark.implicits._
    val left = Seq(
      (1L, "en", "john maynard smith"),
      (2L, "en", "rosalind franklin"),
      (3L, "de", "werner heisenberg")
    ).toDF("l_id", "l_lang", "l_name")
    val right = Seq(
      (10L, "en", "john maynard smith"),   // exact, same block
      (11L, "en", "jon maynard smith"),    // fuzzy, same block
      (12L, "de", "rosalind franklin"),    // exact text, WRONG block
      (13L, "en", "charles darwin")        // same block, dissimilar
    ).toDF("r_id", "r_lang", "r_name")
    val out = graft.ops.Joins.blockedFuzzyJoin(left, right,
      Seq("l_lang" -> "r_lang"), "l_name", "r_name", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(6)))
    val pairs = out.map(p => (p._1, p._2)).toSet
    assert(pairs == Set((1L, 10L), (1L, 11L)))
    assert(out.find(p => p._2 == 10L).get._3 == 1.0)
    assert(out.find(p => p._2 == 11L).get._3 < 1.0)
  }

  test("blockedFuzzyJoin: rejects overlapping columns and empty blocks") {
    import spark.implicits._
    val l = Seq((1L, "x", "a")).toDF("id", "b", "nm")
    val r = Seq((2L, "x", "a")).toDF("id2", "b2", "nm2")
    intercept[IllegalArgumentException] {
      graft.ops.Joins.blockedFuzzyJoin(l, r, Nil, "nm", "nm2")
    }
    intercept[IllegalArgumentException] {
      graft.ops.Joins.blockedFuzzyJoin(l,
        r.withColumnRenamed("id2", "id"), Seq("b" -> "b2"), "nm", "nm2")
    }
  }
}
