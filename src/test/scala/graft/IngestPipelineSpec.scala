package graft

import java.nio.file.Files

import graft.graph.GraphStore
import graft.ingest.{DoiOps, Ingest}
import graft.report.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ingestion pipeline: OpenAlex enrichment (S4), update-mode
  * property refresh (reference --update, doi.py:215-250), the 14-counter
  * metrics report (doi.py:202-283), and the raw-JSON payload sink
  * round-trip (--write-metadata, get_metadata.py:29-38).
  */
class IngestPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("ingest-pipeline-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fixture(name: String): String =
    scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/graft/$name"), "UTF-8").mkString

  private val doi = "10.5281/zenodo.4650794"

  private def doiList: DataFrame = {
    import spark.implicits._
    Seq(doi).toDF("raw_doi")
      .withColumn("submission_order", monotonically_increasing_id())
  }

  private def payloads: DataFrame = {
    import spark.implicits._
    Seq((doi, fixture("openaire_v2_simple.json"))).toDF("doi", "payload")
  }

  private def openAlex(cites: Long): DataFrame = {
    import spark.implicits._
    Seq((doi, "W1234567890", cites)).toDF("doi", "id", "cited_by_count")
  }

  test("a run times itself, from the call to its report") {
    val store = new GraphStore(spark,
      Files.createTempDirectory("wh-time").toString)
    val t0 = System.nanoTime()
    val report = Ingest.run(spark, store, doiList, payloads).head()
    val wall = (System.nanoTime() - t0) / 1e9
    val took = report.getAs[Double]("total_time_seconds")
    assert(took > 0 && took <= wall, s"total_time_seconds $took, wall $wall")
  }

  test("openalex enrichment populates outputs and the success counter") {
    val wh = Files.createTempDirectory("wh-oa").toString
    val store = new GraphStore(spark, wh)
    val report = Ingest.run(spark, store, doiList, payloads,
      openAlex = Some(openAlex(42L)), citedByCountYear = Some(2024)).head()
    val out = store.nodeTable("outputs").head()
    assert(out.getAs[String]("openalex") == "W1234567890")
    assert(out.getAs[Long]("cited_by_count") == 42L)
    assert(report.getAs[Long]("openalex_success") == 1L)
    assert(report.getAs[Long]("openaire_success") == 1L)
  }

  test("update mode refreshes properties in place; insert mode does not") {
    val wh = Files.createTempDirectory("wh-upd").toString
    val store = new GraphStore(spark, wh)
    Ingest.run(spark, store, doiList, payloads,
      openAlex = Some(openAlex(10L)), citedByCountYear = Some(2024))
    assert(store.nodeTable("outputs").head().getAs[Long]("cited_by_count") == 10L)

    // insert mode: existing DOI excluded from the batch, nothing changes
    val r2 = Ingest.run(spark, store, doiList, payloads,
      openAlex = Some(openAlex(99L)), citedByCountYear = Some(2024)).head()
    assert(store.nodeTable("outputs").head().getAs[Long]("cited_by_count") == 10L)
    assert(r2.getAs[Long]("processed_dois") == 0L)
    assert(r2.getAs[Long]("existing_dois") == 1L)
    assert(r2.getAs[Long]("updated_existing_dois") == 0L)

    // update mode: same DOI re-processed, cited_by_count refreshed,
    // node count unchanged, updated-existing counter driven
    val r3 = Ingest.run(spark, store, doiList, payloads,
      openAlex = Some(openAlex(99L)), update = true,
      citedByCountYear = Some(2024)).head()
    assert(store.nodeTable("outputs").count() == 1L)
    assert(store.nodeTable("outputs").head().getAs[Long]("cited_by_count") == 99L)
    assert(r3.getAs[Long]("processed_dois") == 1L)
    assert(r3.getAs[Long]("updated_existing_dois") == 1L)
    // uuid is minted from the DOI, so the refresh kept the identity
    assert(store.edgeTable("author_of").count() == 1L)
  }

  test("14-counter metrics report matches the reference semantics") {
    import spark.implicits._
    // batch: 1 ok, 1 resubmitted (duplicate), 1 invalid pattern,
    // 1 valid-but-already-existing, 1 valid-but-no-metadata
    val tracker = Seq(
      // doi, valid, dup, exists, openaire, openalex, success
      ("10.1/a1", true, false, false, true, true, true),
      ("10.1/a1", true, true, false, true, true, true), // resubmission
      ("not-a-doi", false, false, false, false, false, false),
      ("10.1/a2", true, false, true, false, false, false), // existing
      ("10.1/a3", true, false, false, false, false, false) // fetch failed
    ).toDF("doi", "valid_pattern", "duplicate", "already_exists",
      "openaire_metadata", "openalex_metadata", "ingestion_success")
    val r = Metrics.ingestionReport(tracker, totalTimeSeconds = 1.5).head()
    assert(r.getAs[Long]("submitted_dois") == 5L)
    assert(r.getAs[Long]("duplicated_submissions") == 1L)
    assert(r.getAs[Long]("processed_dois") == 2L) // a1, a3 (new+valid)
    assert(r.getAs[Long]("new_dois") == 2L)
    assert(r.getAs[Long]("existing_dois") == 1L)
    assert(r.getAs[Long]("updated_existing_dois") == 0L)
    assert(r.getAs[Long]("ingested_dois") == 1L)
    assert(r.getAs[Long]("metadata_pass") == 1L)
    assert(r.getAs[Long]("metadata_failure") == 1L) // a3 only, NOT a2
    // tracker is keyed by distinct DOI (reference doi_tracker dict):
    // a1, a2, a3 — the resubmission is not a second tracker entry
    assert(r.getAs[Long]("valid_pattern_dois") == 3L)
    assert(r.getAs[Long]("invalid_pattern_dois") == 1L)
    assert(r.getAs[Long]("openalex_success") == 1L)
    assert(r.getAs[Long]("openaire_success") == 1L)
    assert(r.getAs[Double]("total_time_seconds") == 1.5)
    assert(r.schema.fields.length == 14)

    // update mode widens processed to all valid distinct DOIs (a1, a2, a3)
    val u = Metrics.ingestionReport(tracker, update = true).head()
    assert(u.getAs[Long]("processed_dois") == 3L)
    assert(u.getAs[Long]("metadata_failure") == 2L) // a2 (existing) + a3
    assert(u.getAs[Long]("updated_existing_dois") == 0L)
  }

  test("raw-JSON sink round-trip: write payloads, re-ingest, same graph") {
    val dir = Files.createTempDirectory("payload-sink").toString + "/payloads"
    Ingest.writeMetadata(payloads, dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // drop Hadoop-local .crc sidecars
    assert(files == Set("10.5281zenodo.4650794.json")) // '/' stripped (F13)

    val reread = Ingest.readPayloadDir(spark, doiList, dir)
    val wh1 = Files.createTempDirectory("wh-rt1").toString
    val wh2 = Files.createTempDirectory("wh-rt2").toString
    val s1 = new GraphStore(spark, wh1)
    val s2 = new GraphStore(spark, wh2)
    Ingest.run(spark, s1, doiList, payloads, citedByCountYear = Some(2024))
    Ingest.run(spark, s2, doiList, reread, citedByCountYear = Some(2024))
    for (tbl <- Seq("outputs", "authors")) {
      val a = s1.nodeTable(tbl).collect().map(_.toString).sorted
      val b = s2.nodeTable(tbl).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"node table $tbl diverged")
    }
    for (e <- Seq("author_of", "refers_to")) {
      val a = s1.edgeTable(e).collect().map(_.toString).sorted
      val b = s2.edgeTable(e).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"edge table $e diverged")
    }
  }
}
