package graft

import java.nio.file.Files

import graft.graph.{GraphOps, GraphStore}
import graft.ingest.InitialLoad
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
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
}
