package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 operator batch: paragraph-granularity quality stats and the
  * jusText-style boilerplate filter.
  */
case class Turn(role: String, content: String)

class Round6OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("round6-ops-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("paragraphStats: hand-computed chars/words/stopwords per paragraph") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat\nHome | About | Contact\n"),
      (2L, "")
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.paragraphStats(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // "the cat sat on the mat": 22 chars, 6 words, 3 stopwords (the x2, on)
    assert(rows((1L, 0)) == ((22L, 6L, 3L)))
    // "Home | About | Contact": 22 chars, 5 words, 0 stopwords
    assert(rows((1L, 1)) == ((22L, 5L, 0L)))
    // trailing delimiter yields an empty final paragraph
    assert(rows((1L, 2)) == ((0L, 0L, 0L)))
    // empty doc is one empty paragraph
    assert(rows((2L, 0)) == ((0L, 0L, 0L)))
  }

  test("canonicalizeUrl: hand-computed rule-set goldens") {
    import spark.implicits._
    val cases = Seq(
      // case/port/tracking/fragment/trailing-slash variance collapses
      ("HTTPS://Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2"),
      ("https://example.com/a/b?b=2&a=1", "https://example.com/a/b?a=1&b=2"),
      ("HTTP://Host.net:80/path///", "http://host.net/path"),
      // non-default port survives
      ("http://host.net:8080/x", "http://host.net:8080/x"),
      // all params tracking → no '?'
      ("https://h.io/p?utm_a=1&gclid=z&fbclid=q&ref=r", "https://h.io/p"),
      // root path collapses, empty query dropped
      ("https://h.io/?", "https://h.io"),
      ("  https://h.io/x  ", "https://h.io/x"))
    val out = cases.map(_._1).toDF("url")
      .select(graft.ops.CorpusOps.canonicalizeUrl(col("url")))
      .collect().map(_.getString(0)).toSeq
    assert(out == cases.map(_._2), s"got $out")
    // malformed / non-URL strings canonicalize to NULL (so dedupByUrl's
    // null pass-through applies) — NOT to a shared "" group
    val bad = Seq("", "   ", "N/A", "just a path/like/this", "no-scheme.com")
      .toDF("url")
      .select(graft.ops.CorpusOps.canonicalizeUrl(col("url")))
      .collect().map(r => Option(r.getString(0)))
    assert(bad.forall(_.isEmpty), s"malformed urls must be null: ${bad.toSeq}")
  }

  test("dedupByUrl: malformed URLs stay singleton groups (review #2 fix)") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "N/A"), (3L, ""),
      (4L, "https://example.com/a")).toDF("doc_id", "url")
    val out = graft.ops.CorpusOps.dedupByUrl(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("is_canonical")).toMap
    assert(out.size == 4 && out.values.forall(identity),
      s"malformed-url docs must each stay canonical singletons: $out")
  }

  test("validateDialogs: null role/content flags false, never NULL") {
    import spark.implicits._
    val dialogs = Seq(
      (1L, Seq(Turn("user", null), Turn("assistant", "ok"))),
      (2L, Seq(Turn(null, "hi"), Turn("assistant", "ok"))))
      .toDF("dialog_id", "turns")
    val rows = graft.ops.DialogOps.validateDialogs(dialogs).collect()
    rows.foreach { r =>
      Seq("starts_with_user", "ends_with_assistant", "alternates",
        "all_nonempty", "valid").foreach(c =>
        assert(!r.isNullAt(r.fieldIndex(c)),
          s"flag $c must never be NULL (three-valued-logic escape)"))
    }
    val byId = rows.map(r => r.getLong(0) ->
      r.getAs[Boolean]("valid")).toMap
    assert(byId(1L) == false && byId(2L) == false)
  }

  test("renderDialogs keeps turn structure under null role/content") {
    import spark.implicits._
    val dialogs = Seq(
      (1L, Seq(Turn("user", "hi"), Turn("assistant", null))))
      .toDF("dialog_id", "turns")
    val r = graft.ops.DialogOps.renderDialogs(dialogs).head()
    assert(r.getAs[String]("rendered_text") == "<|user|>hi\n<|assistant|>",
      "a null content must not silently drop the whole turn")
  }

  test("dedupByUrl groups URL variants, min doc_id canonical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://example.com/a?b=2&a=1"),
      (2L, "HTTPS://Example.COM:443/a/?a=1&b=2&utm_source=x#f"),
      (3L, "https://example.com/other")
    ).toDF("doc_id", "url")
    val out = graft.ops.CorpusOps.dedupByUrl(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("url_group_size"),
        r.getAs[Boolean]("is_canonical")))).toMap
    assert(out(1L) == ((2L, true)) && out(2L) == ((2L, false)))
    assert(out(3L) == ((1L, true)))
  }

  test("validateDialogs: each structural flag catches its defect") {
    import spark.implicits._
    val dialogs = Seq(
      (1L, Seq(Turn("user", "hi"), Turn("assistant", "hello"))),     // valid
      (2L, Seq(Turn("assistant", "hi"), Turn("user", "x"))),         // wrong ends
      (3L, Seq(Turn("user", "a"), Turn("user", "b"),
        Turn("assistant", "c"))),                                    // no alt
      (4L, Seq(Turn("user", "a"), Turn("assistant", "  "))),         // blank
      (5L, Seq(Turn("user", "only one turn"))),                      // too short
      (6L, Seq.empty[Turn])                                          // empty
    ).toDF("dialog_id", "turns")
    val out = graft.ops.DialogOps.validateDialogs(dialogs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Boolean]("starts_with_user"),
        r.getAs[Boolean]("ends_with_assistant"),
        r.getAs[Boolean]("alternates"), r.getAs[Boolean]("all_nonempty"),
        r.getAs[Boolean]("valid")))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L)._5 == false && out(2L)._1 == false && out(2L)._2 == false)
    assert(out(3L)._3 == false && out(3L)._5 == false)
    assert(out(4L)._4 == false && out(4L)._5 == false)
    assert(out(5L)._5 == false)
    assert(out(6L) == ((false, false, true, true, false)))
  }

  test("renderDialogs flattens with role tags in turn order") {
    import spark.implicits._
    val dialogs = Seq(
      (1L, Seq(Turn("user", "hi"), Turn("assistant", "hello there"))))
      .toDF("dialog_id", "turns")
    val r = graft.ops.DialogOps.renderDialogs(dialogs).head()
    assert(r.getAs[String]("rendered_text")
      == "<|user|>hi\n<|assistant|>hello there")
    assert(r.getAs[Long]("n_render_chars") == 35L)
  }

  test("auditSplitLeakage reports only cross-split near-dup pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base, "train"), (2L, base + " x", "val"),   // near-dups, cross-split
      (3L, base + " y", "train"),                        // near-dup, same split as 1
      (4L, "a completely different body of text with other words", "test"))
      .toDF("doc_id", "text", "split")
    val out = graft.ops.Pipelines.auditSplitLeakage(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)), s"cross-split pair must be reported: $out")
    assert(out.contains((2L, 3L)))
    assert(!out.contains((1L, 3L)), "same-split pair is not leakage")
    assert(!out.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("exact dedup keeps null-text docs as one group (review regression)") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox"), (2L, null),
      (3L, null), (4L, "something else entirely here")).toDF("doc_id", "text")
    val out = graft.ops.Dedup.exact(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("dup_group_size"), r.getAs[Boolean]("is_canonical"))))
      .toMap
    assert(out.size == 4, s"null-text docs must not vanish: $out")
    assert(out(2L) == ((2L, true)) && out(3L) == ((2L, false)))
    assert(out(1L) == ((1L, true)))
  }

  test("min_k keeps integer ids as integers") {
    import spark.implicits._
    val g = Seq(3, 1, 2, 1).toDF("id")
      .agg(graft.functions.MinK.min_k(col("id"), 2)).head()
    assert(g.getSeq[Int](0) == Seq(1, 2))
  }

  test("min_k string order matches Spark's binary min for non-BMP strings") {
    import spark.implicits._
    val df = Seq("￿", new String(Character.toChars(0x10000))).toDF("s")
    val minK = df.agg(graft.functions.MinK.min_k(col("s"), 1))
      .head().getSeq[String](0).head
    val sparkMin = df.agg(min(col("s"))).head().getString(0)
    assert(minK == sparkMin,
      "min_k must use UTF8String binary order like Spark's min")
  }

  test("dedupByUrl passes null-URL rows through as singleton groups") {
    import spark.implicits._
    val docs = Seq((1L, "https://example.com/a"), (2L, null),
      (3L, null)).toDF("doc_id", "url")
    val out = graft.ops.CorpusOps.dedupByUrl(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("url_group_size"),
        r.getAs[Boolean]("is_canonical")))).toMap
    assert(out.size == 3, s"null-url rows must not vanish: $out")
    assert(out(2L) == ((1L, true)) && out(3L) == ((1L, true)),
      "null-url docs must NOT collapse into one group")
  }

  test("mmrRerank survives NaN scores and null embeddings") {
    import spark.implicits._
    val e = Array(1.0f, 0.0f)
    val cands = Seq(
      (0L, 1L, 0.9, Some(e.toSeq)), (0L, 2L, Double.NaN, Some(e.toSeq)),
      (0L, 3L, 0.5, Option.empty[Seq[Float]]), (0L, 4L, 0.4, Some(e.toSeq)))
      .toDF("query_id", "doc_id", "score", "embedding")
    val out = graft.ops.Similarity.mmrRerank(cands, k = 3)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(1L, 4L), s"NaN/null candidates dropped, got $out")
  }

  test("mmrRerank: diversification beats raw relevance order") {
    import spark.implicits._
    // docs 10/11 are near-identical vectors with top scores; doc 12 is
    // orthogonal with a lower score. Raw top-2 = {10, 11}; MMR with a
    // diversity term must pick {10, 12}.
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val e1b = Array(0.999f, 0.04f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val cands = Seq(
      (0L, 10L, 0.95, e1.toSeq), (0L, 11L, 0.94, e1b.toSeq),
      (0L, 12L, 0.80, e2.toSeq))
      .toDF("query_id", "doc_id", "score", "embedding")
    val mmr = graft.ops.Similarity.mmrRerank(cands, k = 2, lambda = 0.5)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2).toSeq
    assert(mmr == Seq((10L, 1), (12L, 2)), s"got $mmr")
    // lambda = 1.0 degenerates to pure relevance order
    val rel = graft.ops.Similarity.mmrRerank(cands, k = 2, lambda = 1.0)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2).toSeq
    assert(rel == Seq((10L, 1), (11L, 2)), s"got $rel")
    // deterministic across runs
    val again = graft.ops.Similarity.mmrRerank(cands, k = 2, lambda = 0.5)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2).toSeq
    assert(again == mmr)
  }

  test("k-anonymity: violations and row annotation, nulls group together") {
    import spark.implicits._
    val df = Seq(
      ("eng", Some(30), 1L), ("eng", Some(30), 2L), ("eng", Some(30), 3L),
      ("law", Some(40), 4L), // singleton: violation at k=2
      ("med", None, 5L), ("med", None, 6L) // null quasi value groups
    ).toDF("dept", "age", "id")
    val viol = graft.ops.Profile.kAnonymityViolations(df,
      Seq("dept", "age"), k = 2).collect()
    assert(viol.length == 1 && viol(0).getString(0) == "law")
    val rows = graft.ops.Profile.annotateKAnonymity(df,
      Seq("dept", "age"), k = 2).collect()
      .map(r => r.getLong(2) -> ((r.getAs[Long]("class_size"),
        r.getAs[Boolean]("is_k_anonymous")))).toMap
    assert(rows.size == 6, "null quasi values must not drop rows")
    assert(rows(4L) == ((1L, false)))
    assert(rows(5L) == ((2L, true)) && rows(6L) == ((2L, true)),
      "null quasi values group together (missing-field signature)")
    assert(rows(1L) == ((3L, true)))
  }

  test("l-diversity flags classes whose sensitive column lacks variety") {
    import spark.implicits._
    val df = Seq(
      // big class, but everyone shares the diagnosis: leaks at l=2
      ("eng", 1L, "flu"), ("eng", 2L, "flu"), ("eng", 3L, "flu"),
      // diverse class: fine
      ("law", 4L, "flu"), ("law", 5L, "cold"))
      .toDF("dept", "id", "diagnosis")
    val viol = graft.ops.Profile.lDiversityViolations(df, Seq("dept"),
      "diagnosis", l = 2).collect()
    assert(viol.length == 1 && viol(0).getString(0) == "eng")
    assert(viol(0).getAs[Long]("class_size") == 3L &&
      viol(0).getAs[Long]("n_sensitive") == 1L)
  }

  test("epochShuffle: dense deterministic permutation, epoch-dependent") {
    import spark.implicits._
    val df = (0L until 500L).toDF("k").repartition(7)
    def order(epoch: Int) = graft.ops.CorpusOps.epochShuffle(df, Seq("k"), epoch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e1 = order(1); val e1b = order(1); val e2 = order(2)
    assert(e1 == e1b, "same epoch must reproduce the same order")
    assert(e1 != e2, "different epochs must permute differently")
    assert(e1.values.toSeq.sorted == (0L until 500L),
      "orders must be dense 0-based")
  }

  test("sampleNegatives: k non-positive docs per query, deterministic") {
    import spark.implicits._
    val corpus = (0L until 200L).toDF("doc_id")
    val pos = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("query_id", "doc_id")
    val out = graft.ops.CorpusOps.sampleNegatives(pos, corpus, k = 8,
      poolSize = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byQuery = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byQuery.keySet == Set(1L, 2L))
    assert(byQuery.values.forall(_.size == 8))
    // negatives never collide with that query's positives
    assert(!byQuery(1L).contains(10L) && !byQuery(1L).contains(20L))
    assert(!byQuery(2L).contains(10L))
    // ranks are dense 1..k and the pick is reproducible
    assert(out.filter(_._1 == 1L).map(_._3).sorted.toSeq == (1 to 8))
    val again = graft.ops.CorpusOps.sampleNegatives(pos, corpus, k = 8,
      poolSize = 32).collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.sortBy(x => (x._1, x._3)).toSeq == again.sortBy(x => (x._1, x._3)).toSeq)
    intercept[IllegalArgumentException] {
      graft.ops.CorpusOps.sampleNegatives(pos, corpus, k = 10, poolSize = 16)
    }
  }

  test("asofLeft tolerance nulls matches older than the lookback bound") {
    import spark.implicits._
    val left = Seq((1L, 100L), (2L, 200L), (3L, 300L))
      .toDF("event_id", "ts").withColumn("user_id", lit(7L))
      .select("event_id", "user_id", "ts")
    val right = Seq((7L, 90L, "a"), (7L, 250L, "b"))
      .toDF("user_id", "ts", "state")
    def run(tol: Option[Long]) =
      graft.ops.AsOfJoin.asofLeft(left, right, Seq("user_id"), "ts",
        Seq("state"), tolerance = tol).collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((Option(r.getAs[Any]("asof_ts")), Option(r.getAs[String]("asof_state")))))
        .toMap
    val unbounded = run(None)
    assert(unbounded(1L) == ((Some(90L), Some("a"))))
    assert(unbounded(2L) == ((Some(90L), Some("a")))) // 110 behind — stale
    assert(unbounded(3L) == ((Some(250L), Some("b"))))
    val bounded = run(Some(50L))
    assert(bounded(1L) == ((Some(90L), Some("a"))))   // 10 behind: kept
    assert(bounded(2L) == ((None, None)),
      "match 110 units behind must be nulled under tolerance 50")
    assert(bounded(3L) == ((Some(250L), Some("b")))) // 50 behind: inclusive
  }

  test("rrfFuse: hand-computed reciprocal-rank fusion of two legs") {
    import spark.implicits._
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((0L, 11L, 1), (0L, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = graft.ops.Similarity.rrfFuse(Seq(lex, dense), k0 = 60)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(2), r.getLong(3), r.getInt(4)))).toMap
    def rr(r: Int) = 1.0 / (60 + r)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 11 appears in both legs: 1/62 + 1/61 — the top fused doc
    assert(out(11L) == ((r6(rr(2) + rr(1)), 2L, 1)))
    assert(out(10L) == ((r6(rr(1)), 1L, 2)))
    assert(out(13L) == ((r6(rr(2)), 1L, 3)))
    assert(out(12L) == ((r6(rr(3)), 1L, 4)))
  }

  test("filterParagraphs cuts short/stopword-free paragraphs, keeps prose order") {
    import spark.implicits._
    val prose1 = "the cat sat on the mat and then it sat down again"
    val nav = "Home | About | Contact | Login | Register | Search | Help | FAQ"
    val prose2 = "this is another long sentence of prose with the usual words in it"
    val short = "the end"
    val docs = Seq(
      (1L, s"$prose1\n$nav\n$prose2\n$short"),
      (2L, s"$nav\n$nav")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.filterParagraphs(docs, minWords = 8,
      minStopRatio = 0.15).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text_filtered"), r.getAs[Long]("n_pars_cut"))))
      .toMap
    // nav has 0 stopword density, short has < 8 words: both cut; prose
    // survives in original order
    assert(out(1L) == ((s"$prose1\n$prose2", 2L)))
    // everything cut rebuilds to ""
    assert(out(2L) == (("", 2L)))
    // schema: input columns preserved
    val cols = TextAnalysis.filterParagraphs(docs).columns.toSeq
    assert(cols == Seq("doc_id", "text", "text_filtered", "n_pars_cut"))
  }
}
