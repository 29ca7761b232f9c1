package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 batch 6: Aho–Corasick occurrence evidence (ac_hit_positions)
  * and the KWIC concordance built on it. Positions are pinned against a
  * brute-force substring scan (the same oracle shape q_kwic uses).
  */
class Round7fOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round7f-ops").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def bruteHits(text: String, phrases: Seq[String]): Seq[(Int, String)] =
    (for {
      p <- phrases.distinct.sorted if p.nonEmpty
      i <- 0 to text.length - p.length if text.regionMatches(i, p, 0, p.length)
    } yield (i, p)).sortBy(_._1)

  test("hitPositions: overlapping and nested matches, all offsets, " +
      "brute-force parity") {
    val ac = new graft.functions.AhoCorasick(
      Array("ab", "b", "aba", "zz"))
    val got = ac.hitPositions("abab").array.toSeq
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      .map(r => (r.getInt(0), r.getUTF8String(1).toString))
    val want = bruteHits("abab", Seq("ab", "b", "aba", "zz"))
    assert(got.sorted === want.sorted,
      s"AC must report every occurrence: got $got want $want")
    // self-overlap: "aa" in "aaaa" at 0,1,2
    val ac2 = new graft.functions.AhoCorasick(Array("aa"))
    val got2 = ac2.hitPositions("aaaa").array.toSeq
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      .map(_.getInt(0))
    assert(got2 === Seq(0, 1, 2))
    // empty pattern contributes no positions
    val ac3 = new graft.functions.AhoCorasick(Array("", "x"))
    assert(ac3.hitPositions("axa").numElements() === 1)
  }

  test("kwicWindows: contexts clamp at document edges; offsets 0-based") {
    import spark.implicits._
    val docs = Seq((1L, "fox at start and fox at the very end fox"),
      (2L, "no hits here"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.kwicWindows(docs, Seq("fox"),
      window = 5).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3), r.getString(4)))
      .sortBy(_._2)
    assert(out.length === 3)
    assert(out(0) === ((1L, 0, "", " at s")), "left context empty at 0")
    assert(out(1) === ((1L, 17, " and ", " at t")))
    assert(out(2) === ((1L, 37, " end ", "")), "right context empty at EOF")
  }

  test("hitPositions offsets are code points: windows slice correctly " +
      "past a surrogate pair") {
    import spark.implicits._
    val docs = Seq((1L, "a😀fox and fox")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.kwicWindows(docs, Seq("fox"),
      window = 3).collect()
      .map(r => (r.getInt(2), r.getString(3), r.getString(4))).sortBy(_._1)
    assert(out(0) === ((2, "a😀", " an")),
      "start counts the emoji as ONE code point; left window includes it")
    assert(out(1) === ((10, "nd ", "")))
  }

  test("embeddingMoments: empty input yields empty output, not a " +
      "zero triangle") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.Similarity.embeddingMoments(empty, dim = 2).count() === 0L)
  }

  test("funnel: ordering, anchor window, and partial stages " +
      "(hand-computed)") {
    import spark.implicits._
    val events = Seq(
      // u1: full funnel inside the window
      (1L, 0L, "view"), (1L, 10L, "click"), (1L, 20L, "purchase"),
      // u2: click outside the anchor window -> stage 1
      (2L, 0L, "view"), (2L, 200L, "click"),
      // u3: no step-1 event -> absent from the funnel
      (3L, 5L, "click"), (3L, 6L, "purchase"),
      // u4: purchase BEFORE the click -> ordering blocks stage 3
      (4L, 0L, "view"), (4L, 10L, "click"), (4L, 5L, "purchase"),
      // u5: purchase after anchor+window (anchored at t1, not t2)
      (5L, 0L, "view"), (5L, 90L, "click"), (5L, 150L, "purchase"))
      .toDF("user_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = graft.ops.Sessions.funnel(events,
      Seq("view", "click", "purchase"), withinSeconds = 100L)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("stage")).toMap
    assert(out === Map(1L -> 3, 2L -> 1, 4L -> 2, 5L -> 2))
  }

  test("sentenceStats goldens: punctuation runs, empty and null texts") {
    import spark.implicits._
    val docs = Seq((1L, "Hi! How are you? Ok."), (2L, ""), (3L, "..."),
      (4L, "no terminal punctuation"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.sentenceStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(1L -> ((3L, 5L)), 2L -> ((0L, 0L)),
      3L -> ((1L, 1L)), 4L -> ((0L, 3L))), s"got $out")
  }

  test("eventTransitions: lead over a total order; timestamp ties " +
      "broken by (type, id)") {
    import spark.implicits._
    val events = Seq(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"),
      (1L, 3L, 30L, "view"),
      // u2: two events at the SAME ts -> type order decides ('click' <
      // 'view'), so the sequence is click -> view deterministically
      (2L, 4L, 50L, "view"), (2L, 5L, 50L, "click"))
      .toDF("user_id", "event_id", "sec", "event_type")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = graft.ops.Sessions.eventTransitions(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("view", "click") -> 1L, ("click", "view") -> 2L))
  }

  test("retention: weekly cohort triangle (hand-computed on ISO weeks)") {
    import spark.implicits._
    // 2024-01-01 is a Monday: W0 = 01-01, W1 = 01-08, W3 = 01-22
    val events = Seq(
      (1L, "2024-01-02 10:00:00"), (1L, "2024-01-09 10:00:00"),
      (2L, "2024-01-03 10:00:00"),
      (3L, "2024-01-08 10:00:00"), (3L, "2024-01-24 10:00:00"))
      .toDF("user_id", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val out = graft.ops.Sessions.retention(events).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(out === Map(
      ("2024-01-01", 0) -> 2L, ("2024-01-01", 1) -> 1L,
      ("2024-01-08", 0) -> 1L, ("2024-01-08", 2) -> 1L))
  }

  test("maskDialogContents: phrase masked inside turns, roles and " +
      "null contents untouched") {
    import spark.implicits._
    val dialogs = Seq(
      (1L, Seq(Turn("user", "run a hash join now"),
        Turn("assistant", null))),
      (2L, (null: Seq[Turn])))
      .toDF("dialog_id", "turns")
    val out = graft.ops.DialogOps.maskDialogContents(dialogs,
      Seq("hash join"), mask = "[X]").collect()
      .map(r => r.getLong(0) -> r).toMap
    val turns1 = out(1L).getSeq[org.apache.spark.sql.Row](1)
    assert(turns1.map(_.getString(0)) === Seq("user", "assistant"))
    assert(turns1(0).getString(1) === "run a [X] now")
    assert(turns1(1).isNullAt(1), "null content passes through")
    assert(out(2L).isNullAt(1), "null turn array passes through")
  }
}
