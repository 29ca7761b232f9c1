package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas for the graph data model (reference
  * `src/research_index_backend/models.py:28-375`) and for the OpenAire
  * metadata payloads (`tests/fixtures/openaire_v2*.json`, shapes pinned in
  * /root/repo/FIXTURES.md).
  *
  * Node labels map to one parquet-backed table per label; the dual-label
  * `Workstream:Unit` / `Partner:Unit` nodes share a single `units` table with
  * a `unit_type` discriminator so `MATCH (u:Unit)` queries stay one scan
  * (reference models.py:290-342; SURVEY.md §7.5.6).
  */
object Schemas {

  // --- node tables -------------------------------------------------------

  /** reference models.py:28-34 */
  val author: StructType = StructType(Seq(
    StructField("uuid", StringType, nullable = false),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("orcid", StringType),
    StructField("openalex", StringType)))

  /** reference models.py:140-163 (class Article, node label Output) */
  val output: StructType = StructType(Seq(
    StructField("uuid", StringType, nullable = false),
    StructField("doi", StringType, nullable = false),
    StructField("title", StringType),
    StructField("abstract", StringType),
    StructField("journal", StringType),
    StructField("issue", IntegerType),
    StructField("volume", IntegerType),
    StructField("publication_year", IntegerType),
    StructField("publication_month", IntegerType),
    StructField("publication_day", IntegerType),
    StructField("publisher", StringType),
    StructField("result_type", StringType),
    StructField("resource_type", StringType),
    StructField("openalex", StringType),
    StructField("cited_by_count", LongType),
    StructField("cited_by_count_date", IntegerType),
    StructField("counts_by_year", MapType(StringType, LongType))))

  /** reference models.py:259-287 */
  val country: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false), // cca3
    StructField("name", StringType),
    StructField("official_name", StringType),
    StructField("dbpedia", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType)))

  /** reference models.py:290-342 — Workstream:Unit + Partner:Unit unified */
  val unit: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("unit_type", StringType, nullable = false), // workstream | partner
    StructField("dbpedia", StringType),
    StructField("ror", StringType),
    StructField("openalex", StringType)))

  // --- edge tables -------------------------------------------------------

  /** (Author)-[:author_of {rank}]->(Output), reference models.py:121-137 */
  val authorOf: StructType = StructType(Seq(
    StructField("src", StringType, nullable = false), // author uuid
    StructField("dst", StringType, nullable = false), // output uuid
    StructField("rank", IntegerType)))

  /** untyped-property edges: member_of (Author->Unit), unit_of (Unit->Unit),
    * refers_to (Output->Country) — reference models.py:345-375
    */
  val plainEdge: StructType = StructType(Seq(
    StructField("src", StringType, nullable = false),
    StructField("dst", StringType, nullable = false)))

  // --- ingest payloads ---------------------------------------------------

  /** OpenAire Graph API v2 researchProduct (FIXTURES.md §1). Author `pid` is
    * a struct {id: {scheme, value}}; `authors` may arrive as scalar-or-list
    * in the wild (parser.py:132-143) — Spark reads the fixture arrays, and
    * scalar payloads are normalized upstream by wrapping in an array.
    */
  val openAireAuthor: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("surname", StringType),
    StructField("fullName", StringType),
    StructField("$", StringType),
    StructField("rank", IntegerType),
    StructField("pid", StructType(Seq(
      StructField("id", StructType(Seq(
        StructField("scheme", StringType),
        StructField("value", StringType)))))))))

  val openAireResult: StructType = StructType(Seq(
    StructField("mainTitle", StringType),
    StructField("publisher", StringType),
    StructField("journal", StructType(Seq(StructField("$", StringType)))),
    StructField("descriptions", ArrayType(StringType)),
    StructField("authors", ArrayType(openAireAuthor)),
    StructField("type", StringType),
    StructField("resourcetype", StructType(Seq(
      StructField("@schemeid", StringType),
      StructField("@classname", StringType)))),
    StructField("publicationDate", StringType)))

  val openAireEnvelope: StructType = StructType(Seq(
    StructField("header", StructType(Seq(
      StructField("numFound", LongType),
      StructField("maxScore", DoubleType),
      StructField("page", IntegerType),
      StructField("pageSize", IntegerType),
      StructField("queryTime", LongType)))),
    StructField("results", ArrayType(openAireResult))))

  // --- legacy search envelope (FIXTURES.md §3) ----------------------------

  /** XML-attribute-style creator (`tests/fixtures/authors.json`,
    * `zenodo.json` `oaf:result.creator[]`): `@`-prefixed attributes,
    * `$`-wrapped text.
    */
  val legacyCreator: StructType = StructType(Seq(
    StructField("@rank", StringType), // string-typed ints in the fixtures
    StructField("@name", StringType),
    StructField("@surname", StringType),
    StructField("@orcid", StringType),
    StructField("@orcid_pending", StringType),
    StructField("$", StringType)))

  private val dollar = StructType(Seq(StructField("$", StringType)))

  /** Legacy `oaf:result` — only the fields the modern parse consumes;
    * `$`-wrapped scalars throughout (`tests/fixtures/zenodo.json`).
    */
  val legacyResult: StructType = StructType(Seq(
    StructField("title", dollar),
    StructField("description", dollar),
    StructField("publisher", dollar),
    StructField("dateofacceptance", dollar),
    StructField("creator", ArrayType(legacyCreator)),
    StructField("journal", dollar),
    StructField("pid", ArrayType(StructType(Seq(
      StructField("@classid", StringType),
      StructField("$", StringType))))),
    StructField("resulttype", StructType(Seq(
      StructField("@classid", StringType),
      StructField("@schemeid", StringType)))),
    StructField("resourcetype", StructType(Seq(
      StructField("@classname", StringType),
      StructField("@schemeid", StringType))))))

  /** Legacy search envelope `response.results.result[]` with each result's
    * payload nested under `metadata."oaf:entity"."oaf:result"`.
    */
  val legacyEnvelope: StructType = StructType(Seq(
    StructField("response", StructType(Seq(
      StructField("results", StructType(Seq(
        StructField("result", ArrayType(StructType(Seq(
          StructField("header", StructType(Seq(
            StructField("dri:objIdentifier", dollar)))),
          StructField("metadata", StructType(Seq(
            StructField("oaf:entity", StructType(Seq(
              StructField("oaf:result", legacyResult)))))))))))))))))))
}
