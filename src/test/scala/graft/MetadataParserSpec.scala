package graft

import graft.ingest.{DoiOps, EntityResolution, MetadataParser}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden parse tests ported from reference tests/test_parser.py:131-219,
  * plus the batch author-repair edge cases (tests/test_parser.py:31-128)
  * driven through the real column pipeline (not unit-level string calls).
  */
class MetadataParserSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("parser-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fixture(name: String): String =
    scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/graft/$name"), "UTF-8").mkString

  test("openaire_v2_simple parses to the golden article") {
    import spark.implicits._
    val raw = Seq(("10.5281/zenodo.4650794", fixture("openaire_v2_simple.json")))
      .toDF("doi", "payload")
    val rows = MetadataParser
      .parseEnvelope(raw, citedByCountYear = Some(2024))
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("doi") == "10.5281/zenodo.4650794")
    assert(r.getAs[String]("title") == "CCG Starter Data Kit: Liberia")
    assert(r.getAs[String]("abstract") == "A starter data kit for Liberia")
    assert(r.getAs[String]("publisher") == "Zenodo")
    assert(r.getAs[String]("journal") == "")
    assert(r.getAs[String]("result_type") == "dataset")
    assert(r.getAs[String]("resource_type") == null)
    assert(r.getAs[Int]("publication_year") == 2021)
    assert(r.getAs[Int]("publication_month") == 3)
    assert(r.getAs[Int]("publication_day") == 31)
    assert(r.getAs[Int]("cited_by_count_date") == 2024)
    val authors = r.getSeq[Row](r.fieldIndex("authors"))
    assert(authors.length == 1)
    val a = authors.head
    assert(a.getAs[String]("first_name") == "Lucy")
    assert(a.getAs[String]("last_name") == "Allington")
    assert(a.getAs[String]("orcid") == "https://orcid.org/0000-0003-1801-899x")
    assert(a.getAs[Int]("rank") == 1)
  }

  test("legacy zenodo envelope parses to the same article columns") {
    import spark.implicits._
    val raw = Seq(fixture("zenodo.json")).toDF("payload")
    val rows = MetadataParser
      .parseLegacyEnvelope(raw, citedByCountYear = Some(2024))
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("doi") == "10.5281/zenodo.4650794")
    assert(r.getAs[String]("title") == "CCG Starter Data Kit: Liberia")
    assert(r.getAs[String]("abstract") == "A starter data kit for Liberia")
    assert(r.getAs[String]("publisher") == "Zenodo")
    assert(r.getAs[String]("result_type") == "dataset")
    // legacy resourcetype rides dnet:dataCite_resource -> not consumed
    assert(r.getAs[String]("resource_type") == null)
    assert(r.getAs[Int]("publication_year") == 2023)
    assert(r.getAs[Int]("publication_month") == 1)
    assert(r.getAs[Int]("publication_day") == 16)
    val authors = r.getSeq[Row](r.fieldIndex("authors"))
    assert(authors.length == 1)
    assert(authors.head.getAs[String]("first_name") == "Lucy")
    assert(authors.head.getAs[String]("last_name") == "Allington")
    assert(authors.head.getAs[String]("orcid")
      == "https://orcid.org/0000-0003-1801-899x")
    // same schema as the modern parse: both generations land in one table
    val modern = MetadataParser.parseEnvelope(
      Seq(("x", fixture("openaire_v2_simple.json"))).toDF("doi", "payload"),
      citedByCountYear = Some(2024))
    assert(MetadataParser.parseLegacyEnvelope(raw,
      citedByCountYear = Some(2024)).schema == modern.schema)
  }

  test("legacy @-attribute creators repair through the same author pipeline") {
    import spark.implicits._
    val raw = Seq(fixture("authors.json")).toDF("payload")
    val creators = raw.select(from_json(col("payload"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("creator",
          org.apache.spark.sql.types.ArrayType(
            graft.model.Schemas.legacyCreator))))).as("j"))
      .select(MetadataParser.repairedAuthors(
        MetadataParser.legacyCreators(col("j.creator"))).as("authors"))
      .select(explode(col("authors")).as("a"))
      .select("a.first_name", "a.last_name", "a.orcid", "a.rank")
      .collect()
    assert(creators.length == 19) // every fixture creator is parseable
    val byRank = creators.map(r => r.getInt(3) ->
      ((r.getString(0), r.getString(1), r.getString(2)))).toMap
    assert(byRank(1) == (("Lucy", "Allington",
      "https://orcid.org/0000-0003-1801-899x")))
    assert(byRank(19) == (("Holger", "Rogner",
      "https://orcid.org/0000-0002-1045-9830")))
  }

  test("title is double-cleaned like the reference (parser.py:110 + 174)") {
    import spark.implicits._
    // clean_html is NOT idempotent: pass 1 unescapes entities into literal
    // markup, pass 2 strips it. Goldens verified against the reference's
    // clean_html(clean_html(...)) chain.
    val cases = Seq(
      ("10.1/t1", "&lt;b&gt;Energy &amp; Climate&lt;/b&gt;",
        "Energy & Climate"),
      ("10.1/t2", "CO&lt;sub&gt;2&lt;/sub&gt; emissions", "CO2 emissions"),
      ("10.1/t3", "A &amp;amp; B", "A & B"))
    val raw = cases.map { case (doi, title, _) =>
      (doi, s"""{"results":[{"mainTitle":"$title","publicationDate":"2021-01-01","authors":[]}]}""")
    }.toDF("doi", "payload")
    val got = MetadataParser.parseEnvelope(raw, citedByCountYear = Some(2024))
      .select("doi", "title").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (doi, _, want) => assert(got(doi) == want, doi) }
  }

  /** reference tests/test_parser.py:31-128 edge cases, through the array
    * pipeline. Each input is one element of an authors array.
    */
  test("author repair edge cases") {
    import spark.implicits._
    val payload =
      """{"results":[{"mainTitle":"t","publicationDate":"2021-01-01","authors":[
        |{"fullName":"Usher, Will","name":"Will","surname":"Usher","rank":5,
        | "pid":{"id":{"scheme":"orcid","value":"0000-0001-9367-1791"}}},
        |{"fullName":"No Pid","name":"No","surname":"Pid","rank":2,"pid":{}},
        |{"fullName":"Stephanie Hirmer","surname":"Stephanie Hirmer","rank":3},
        |{"rank":13,"fullName":"not a name"},
        |{"fullName":"HABINSHUTI Antoinette","name":"Antoinette",
        | "surname":"HABINSHUTI Antoinette","rank":4}
        |]}]}""".stripMargin.replace("\n", "")
    val raw = Seq(("10.1/x1", payload)).toDF("doi", "payload")
    val out = MetadataParser.parseEnvelope(raw, citedByCountYear = Some(2024))
      .select(explode($"authors").as("a")).select("a.*").collect()
      .map(r => (r.getAs[String]("first_name"), r.getAs[String]("last_name"),
        r.getAs[String]("orcid"), r.getAs[Int]("rank")))

    assert(out.contains(("Will", "Usher",
      "https://orcid.org/0000-0001-9367-1791", 5)))
    assert(out.contains(("No", "Pid", null, 2)))
    // surname duplicated into both fields -> split repair
    assert(out.contains(("Stephanie", "Hirmer", null, 3)))
    // first name contained in surname -> containment strip + title case
    assert(out.contains(("Antoinette", "Habinshuti", null, 4)))
    // {"fullName":"not a name"}: name/surname missing and no legacy `$` key
    // -> dropped, exactly like the reference golden (test_parser.py:120-128)
    assert(out.length == 4)
  }

  test("end-to-end slice: fixture -> resolution -> edges (SURVEY §7.3)") {
    import spark.implicits._
    val raw = Seq(("10.5281/zenodo.4650794", fixture("openaire_v2_simple.json")))
      .toDF("doi", "payload")
    val parsed = MetadataParser.parseEnvelope(raw, citedByCountYear = Some(2024))

    val emptyAuthors = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], graft.model.Schemas.author)

    val newOut = EntityResolution.outputRows(parsed)
    val mentions = newOut
      .select($"doi", $"uuid".as("output_uuid"),
        posexplode($"authors").as(Seq("mention_order", "a")))
      .select($"doi", $"output_uuid", $"a.first_name", $"a.last_name",
        $"a.orcid", $"a.rank", $"mention_order".cast("long"))
    val resolved = EntityResolution.resolveAuthors(mentions, emptyAuthors)

    assert(resolved.count() == 1)
    val row = resolved.head()
    assert(row.getAs[String]("resolved_by") == "minted")
    // deterministic uuid: same natural key -> same uuid on re-run
    val again = EntityResolution.resolveAuthors(mentions, emptyAuthors).head()
    assert(row.getAs[String]("author_uuid") == again.getAs[String]("author_uuid"))

    val edges = EntityResolution.authorOfEdges(resolved)
    assert(edges.count() == 1)
    assert(edges.head().getAs[Int]("rank") == 1)

    // countries: "Liberia" is mentioned in the abstract
    val countries = Seq(("LBR", "Liberia"), ("TCD", "Chad")).toDF("id", "name")
    val links = graft.enrich.CountryLinker.newLinks(
      newOut.withColumnRenamed("doi", "_doi"), countries,
      spark.emptyDataFrame.select(lit("").as("src"), lit("").as("dst")).limit(0),
      field = "abstract")
    val got = links.collect().map(r => r.getString(1))
    assert(got.sameElements(Array("LBR")))
  }

  test("resolveAuthors: exact-full-name stage (P2) beats initial+surname") {
    import spark.implicits._
    // db has two authors sharing initial key "A Lovelace"; the initial-stage
    // lookup (LIMIT-1 by uuid) would pick u-alan — the exact-name stage
    // (models.py:232-240) must win for the mention "Ada Lovelace"
    val authors = Seq(
      ("u-alan", "Alan", "Lovelace", null.asInstanceOf[String], null.asInstanceOf[String]),
      ("u-beta", "Ada", "Lovelace", null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("uuid", "first_name", "last_name", "orcid", "openalex")
    val mentions = Seq(
      // misses ORCID (none), hits exact full name
      ("10.1/x", "out1", "Ada", "Lovelace", null.asInstanceOf[String], 1, 0L),
      // misses ORCID and exact name, hits initial+surname ("G Lovelace"? no)
      ("10.1/x", "out1", "A.", "Lovelace", null.asInstanceOf[String], 2, 1L),
      // misses everything -> minted
      ("10.1/x", "out1", "Grace", "Hopper", null.asInstanceOf[String], 3, 2L))
      .toDF("doi", "output_uuid", "first_name", "last_name", "orcid",
        "rank", "mention_order")
    val got = EntityResolution.resolveAuthors(mentions, authors)
      .select("rank", "author_uuid", "resolved_by")
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(got(1) == (("u-beta", "name")))
    // "A. Lovelace" -> initial key "A Lovelace" -> LIMIT-1 winner u-alan
    assert(got(2) == (("u-alan", "initial")))
    assert(got(3)._2 == "minted")
  }

  test("DOI tracker: validate + dedup flags") {
    import spark.implicits._
    val dois = Seq(
      "https://doi.org/10.5281/zenodo.11395518",
      "10.5281/zenodo.11395518.",      // same after normalization -> duplicate
      "not-a-doi",
      " 10.1371/journal.pclm.0000331 ").zipWithIndex
      .map { case (d, i) => (d, i.toLong) }.toDF("raw_doi", "submission_order")
    val t = DoiOps.validate(dois)
    val m = t.collect().map(r => r.getAs[String]("doi") ->
      (r.getAs[Boolean]("valid_pattern"), r.getAs[Boolean]("duplicate"))).toMap
    assert(m("10.5281/zenodo.11395518") == ((true, false)) ||
           m("10.5281/zenodo.11395518") == ((true, true)))
    assert(t.filter($"doi" === "10.5281/zenodo.11395518" && $"duplicate").count() == 1)
    assert(m("not-a-doi")._1 == false)
    assert(m("10.1371/journal.pclm.0000331")._1 == true)
  }
}
