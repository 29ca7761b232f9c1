package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.graph.{GraphOps, GraphStore}
import graft.ingest.InitialLoad
import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraphAndStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graph-stream-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("unit hierarchy transitive closure") {
    import spark.implicits._
    // ws1 <- ws2 <- ws3 ; ws1 <- ws4
    val unitOf = Seq(("ws2", "ws1"), ("ws3", "ws2"), ("ws4", "ws1"))
      .toDF("src", "dst")
    val closure = GraphOps.unitHierarchy(unitOf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(closure == Set(
      ("ws2", "ws1", 1), ("ws3", "ws2", 1), ("ws4", "ws1", 1),
      ("ws3", "ws1", 2)))
  }

  test("coauthor connected components + pagerank") {
    import spark.implicits._
    // outputs o1(a1,a2), o2(a2,a3) -> {a1,a2,a3}; o3(a4) -> {a4}
    val authorOf = Seq(("a1", "o1"), ("a2", "o1"), ("a2", "o2"), ("a3", "o2"),
      ("a4", "o3")).toDF("src", "dst")
    val cc = GraphOps.coauthorComponents(authorOf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc("a1") == cc("a2") && cc("a2") == cc("a3"))
    assert(cc("a1") != cc("a4"))
    // component_id is the min member uuid — deterministic, hash-free
    assert(cc("a1") == "a1" && cc("a4") == "a4")
    val pr = GraphOps.authorRank(authorOf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a2 bridges both outputs -> highest centrality in its component
    assert(pr("a2") > pr("a1") && pr("a2") > pr("a3"))
  }

  test("weighted pagerank matches a reference implementation exactly") {
    import spark.implicits._
    // a-b co-author THREE outputs, a-c one, b-c one: the true weighted
    // centrality must give b more of a's mass than c gets
    val authorOf = Seq(
      ("a", "o1"), ("b", "o1"), ("a", "o2"), ("b", "o2"),
      ("a", "o3"), ("b", "o3"), ("a", "o4"), ("c", "o4"),
      ("b", "o5"), ("c", "o5"), ("d", "o6")).toDF("src", "dst")
    val got = GraphOps.authorRankWeighted(authorOf, tol = 1e-9,
      maxIter = 200).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    // reference: plain in-memory weighted power iteration, same
    // formulation (unnormalized, reset + damp * sum(rank*w/wdeg))
    val w = Map(("a", "b") -> 3.0, ("a", "c") -> 1.0, ("b", "c") -> 1.0)
    val sym = w ++ w.map { case ((x, y), v) => (y, x) -> v }
    val verts = Seq("a", "b", "c", "d")
    val wdeg = verts.map(v =>
      v -> sym.collect { case ((s, _), vv) if s == v => vv }.sum).toMap
    var ranks = verts.map(_ -> 0.15).toMap
    (1 to 200).foreach { _ =>
      ranks = verts.map { v =>
        val in = sym.collect { case ((s, d), vv) if d == v =>
          ranks(s) * vv / wdeg(s) }.sum
        v -> (0.15 + 0.85 * in)
      }.toMap
    }
    verts.foreach { v =>
      assert(math.abs(got(v) - ranks(v)) < 1e-6,
        s"$v: got ${got(v)}, reference ${ranks(v)}")
    }
    // the exactness the star approximation gives up: b (3 shared outputs
    // with a) outranks c (1 shared output with a); the isolated d holds
    // the reset rank
    assert(got("b") > got("c"))
    assert(math.abs(got("d") - 0.15) < 1e-9)

    // capped regime: groups over maxGroupSize fall back to weight-1 star
    // edges — no quadratic term, every member still ranked and connected
    // (o9's size-3 group exceeds the cap of 2; o8 stays a real pair)
    val hubby = Seq(("a", "o8"), ("b", "o8"),
      ("a", "o9"), ("b", "o9"), ("c", "o9"), ("d", "oX")).toDF("src", "dst")
    val capped = GraphOps.authorRankWeighted(hubby, tol = 1e-9,
      maxIter = 200, maxGroupSize = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(capped.keySet == Set("a", "b", "c", "d"))
    // c reaches the others only through o9's star fallback — still ranked
    // above the isolated reset level
    assert(capped("c") > 0.15 + 1e-6)
    assert(math.abs(capped("d") - 0.15) < 1e-9)
  }

  test("initial seed load end-to-end") {
    val dir = Files.createTempDirectory("seed").toString
    def write(name: String, content: String): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/$name"), content)
    write("workstream.csv",
      "id,name,description,theme\nws1,Energy,desc,t\nws2,Transport,d,t\n")
    write("subws.csv", "parent,child\nws1,ws2\n")
    write("project_partners.csv",
      "id,name,dbpedia,ror,openalex\npt1,Uni A,,ror1,oa1\n")
    write("authors.csv",
      "uuid,first_name,last_name,Orcid,google_scholar,pubmed,institution_url,gender\n" +
        "u1,Ada,Lovelace,https://orcid.org/0000-0001,,,,f\n" +
        "u2,Alan,Turing,,,,,m\n")
    write("wp_members.csv",
      "id,name,role,orcid,start,end\n" +
        "ws1,Ada Lovelace,lead,https://orcid.org/0000-0001,,\n" + // orcid match
        "ws2,Alan Turing,member,,,\n" +                            // name match
        "ws2,No Body,member,,,\n")                                 // unmatched
    write("partner_members.csv", "id,name,orcid\npt1,Alan Turing,\n")
    write("countries.csv",
      "name.common,name.official,cca3,latlng\n" +
        "\"Liberia\",\"Republic of Liberia\",LBR,\"6.5,-9.5\"\n")

    val wh = Files.createTempDirectory("wh").toString
    val store = new GraphStore(spark, wh)
    val quarantine = InitialLoad.run(spark, store, dir)
    // the unmatched membership row is REPORTED, not silently dropped
    // (reference create_graph.py:196 warn-logs it)
    assert(quarantine.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSet ==
      Set(("wp_members", "ws2", "No Body")))

    assert(store.nodeTable("units").count() == 3) // 2 ws + 1 partner
    assert(store.edgeTable("unit_of").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("ws2", "ws1")))
    val members = store.edgeTable("member_of").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(members == Set(("u1", "ws1"), ("u2", "ws2"), ("u2", "pt1")))
    val c = store.nodeTable("countries").head()
    assert(c.getAs[String]("id") == "LBR")
    // bare slug, matching reference create_graph.py:109
    assert(c.getAs[String]("dbpedia") == "Republic_of_Liberia")
    assert(c.getAs[Double]("latitude") == 6.5)
    assert(c.getAs[Double]("longitude") == -9.5)
    // idempotent re-load
    InitialLoad.run(spark, store, dir)
    assert(store.nodeTable("units").count() == 3)
    assert(store.edgeTable("member_of").count() == 3)
  }

  test("streaming tumbling counts with watermark (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.tumblingCounts(mem.toDF(), "10 minutes", "20 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(12), 2, "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData(Event(4, ts(60), 1, "click", 1.0))
    q.processAllAvailable()
    val rows = spark.table("tumbling").collect()
    q.stop()
    val byKey = rows.map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(byKey((ts(0).getTime, "click")) == ((2L, 3.0)))
    assert(byKey((ts(10).getTime, "view")) == ((1L, 3.0)))
  }

  test("streaming hopping counts fan each event into overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.hoppingCounts(mem.toDF(), "10 minutes", "5 minutes",
      "20 minutes")
      .writeStream.format("memory").queryName("hopping")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    mem.addData(
      Event(1, ts(2), 1, "click", 1.0),  // windows [55,05) and [00,10)
      Event(2, ts(7), 1, "click", 2.0))  // windows [00,10) and [05,15)
    q.processAllAvailable()
    mem.addData(Event(3, ts(90), 1, "click", 1.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("hopping").collect()
    q.stop()
    val byStart = rows.filter(_.getString(1) == "click")
      .map(r => r.getTimestamp(0).getTime -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(byStart(ts(-5).getTime) == ((1L, 1.0)))
    assert(byStart(ts(0).getTime) == ((2L, 3.0)))  // both events overlap here
    assert(byStart(ts(5).getTime) == ((1L, 2.0)))
  }

  test("streaming sessionization closes sessions after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMs = 10 * 60_000L,
      watermark = "5 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    // user 1: two events 5 min apart (one session), then silence
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0))
    q.processAllAvailable()
    // an event far in the future moves the watermark past the gap
    mem.addData(Event(3, ts(120), 2, "click", 9.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts(240), 2, "click", 9.0))
    q.processAllAvailable()
    val sessions = spark.table("sessions").as[Streams.Session].collect()
    q.stop()
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length == 1)
    assert(u1.head.n_events == 2 && u1.head.total_value == 3.0)
    assert(u1.head.session_start == ts(0) && u1.head.session_end == ts(5))
  }

  test("stream-static enrichment join decorates events per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = Streams.enrichedEvents(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 3, "view", 2.0))
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    q.stop()
    assert(rows(1L) == "gold")
    assert(rows(2L) == null) // unmatched key survives (left outer)
  }

  test("stream-stream interval join attributes clicks to views") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val q = Streams.attributedClicks(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    views.addData(Event(10, ts(0), 1, "view", 0.0))
    clicks.addData(
      Event(100, ts(10), 1, "click", 1.0), // within 30 min -> attributed
      Event(101, ts(40), 1, "click", 1.0), // past the window -> dropped
      Event(102, ts(10), 2, "click", 1.0)) // other user -> dropped
    q.processAllAvailable()
    val rows = spark.table("attrib").collect()
    q.stop()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((100L, 10L)))
  }

  test("streaming dedup within watermark drops redelivered events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.dedupedEvents(mem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    mem.addData(Event(1, ts(0), 1, "click", 1.0))
    q.processAllAvailable()
    // redelivery of event 1 (same key) plus a fresh event
    mem.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "view", 2.0))
    q.processAllAvailable()
    val ids = spark.table("deduped").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.sameElements(Array(1L, 2L)))
  }

  test("doi landing-dir streaming ingest (AvailableNow)") {
    import spark.implicits._
    val landing = Files.createTempDirectory("landing").toString
    val checkpoint = Files.createTempDirectory("ckpt").toString
    val wh = Files.createTempDirectory("wh2").toString
    Files.writeString(java.nio.file.Paths.get(s"$landing/batch1.txt"),
      "10.5281/zenodo.4650794\n")
    val payload = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/openaire_v2_simple.json"), "UTF-8")
      .mkString
    val payloads = Seq(("10.5281/zenodo.4650794", payload))
      .toDF("doi", "payload")
    val store = new GraphStore(spark, wh)
    val q = Streams.doiLandingIngest(spark, landing, payloads, store, checkpoint)
    q.awaitTermination(240000) // generous: suite runs under parallel load
    assert(store.nodeTable("outputs").count() == 1)
    assert(store.nodeTable("authors").count() == 1)
    assert(store.edgeTable("author_of").count() == 1)
  }

  test("doi landing ingest releases each micro-batch's pins") {
    import spark.implicits._
    val landing = Files.createTempDirectory("landing-pins").toString
    val checkpoint = Files.createTempDirectory("ckpt-pins").toString
    val store = new GraphStore(spark,
      Files.createTempDirectory("wh-pins").toString)
    val payload = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/openaire_v2_simple.json"), "UTF-8")
      .mkString
    val payloads = Seq(("10.5281/zenodo.4650794", payload))
      .toDF("doi", "payload")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    // one landing file per AvailableNow run on one checkpoint: each run
    // is one micro-batch
    (1 to 5).foreach { i =>
      Files.writeString(java.nio.file.Paths.get(s"$landing/batch$i.txt"),
        "10.5281/zenodo.4650794\n")
      assert(Streams.doiLandingIngest(spark, landing, payloads, store,
        checkpoint).awaitTermination(240000))
    }
    assert(store.nodeTable("outputs").count() == 1)
    // by id, not by count: a collected pin of an earlier test must not
    // make room for one this run left
    val left = persisted -- before
    assert(left.isEmpty, s"${left.size} pins left by 5 micro-batches")
  }

  test("streaming near-dup matching flags arrivals against bucket state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.DocEvent]
    val q = Streams.nearDupMatches(mem.toDS(), threshold = 0.7,
      shingleK = 3, numHashes = 64, bands = 16, watermark = "10 minutes")
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    mem.addData(
      Streams.DocEvent(1L, ts(0), base),
      Streams.DocEvent(2L, ts(1), "completely different text about " +
        "spark catalyst optimizer rules and physical plans here"))
    q.processAllAvailable()
    // batch 1: nothing previously in state -> no matches yet
    assert(spark.table("neardup").count() == 0)
    // batch 2: a near-copy of doc 1 and a fresh unrelated doc
    mem.addData(
      Streams.DocEvent(3L, ts(5), base + " extra"),
      Streams.DocEvent(4L, ts(6), "yet another unrelated document about " +
        "benchmarks and oracles and parquet files entirely"))
    q.processAllAvailable()
    val rows = spark.table("neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // doc 3 matched doc 1 (possibly in several bands), nobody else matched
    assert(rows.nonEmpty)
    assert(rows.forall { case (id, m, est) =>
      id == 3L && m == 1L && est >= 0.7 })
  }

  test("near-dup bucket state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = Files.createTempDirectory("neardup-ck").toString
    val out = Files.createTempDirectory("neardup-out").toString
    val mem = MemoryStream[Streams.DocEvent]
    // a fault-tolerant sink (parquet) — the memory sink cannot recover
    // from a checkpoint, which is precisely what this test exercises
    def start() = Streams.nearDupMatches(mem.toDS(), threshold = 0.7,
      shingleK = 3, numHashes = 64, bands = 16, watermark = "10 minutes")
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", checkpoint)
      .outputMode("append").start()
    def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val q1 = start()
    mem.addData(Streams.DocEvent(1L, ts(0), base))
    q1.processAllAvailable()
    q1.stop() // kill the query; doc 1 lives only in the state store now
    val q2 = start()
    mem.addData(Streams.DocEvent(2L, ts(5), base + " extra"))
    q2.processAllAvailable()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q2.stop()
    // the restarted query still matched against pre-restart state
    assert(rows.nonEmpty && rows.forall(_ == ((2L, 1L))))
  }

  test("streaming classifier gate scores micro-batches like the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, "news", "election senate policy election"),
      (2L, "news", "senate policy minister"),
      (3L, "code", "compiler pointer stack compiler"),
      (4L, "code", "pointer syntax stack")
    ).toDF("doc_id", "label", "text")
    val model = graft.ops.TextAnalysis.trainNaiveBayes(train, "label",
      minCount = 2L)
    val arrivals = Seq((10L, "election policy stack"),
      (11L, "compiler compiler pointer"), (12L, "senate minister policy"))

    val mem = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("nbout").toString
    val ckpt = Files.createTempDirectory("nbckpt").toString
    mem.addData(arrivals: _*)
    val q = Streams.classifiedDocsIngest(
      mem.toDS().toDF("doc_id", "text"), model, out, ckpt)
    q.awaitTermination(240000)

    val streamed = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_class"), r.getAs[Double]("log_likelihood"))))
      .toMap
    val batch = graft.ops.TextAnalysis.classifyNaiveBayes(
      arrivals.toDF("doc_id", "text"), model).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getDouble(3)))).toMap
    assert(streamed == batch,
      "per-micro-batch scoring must equal the batch operator")
    assert(streamed(11L)._1 == "code" && streamed(12L)._1 == "news")
    model.release()
  }
}
