package graft.ingest

import graft.graph.GraphStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `--initialise` seed load: seven CSVs → node/edge tables, set-at-a-time.
  *
  * Reference `create_graph.py:277-314` loads each CSV with pandas and
  * upserts row-at-a-time over Bolt. Here every file is one DataFrame job:
  * schema-checked read → column transforms → (for memberships) the J10
  * orcid-preferred-else-exact-name resolution join → GraphStore upsert.
  * CSV schemas are pinned in FIXTURES.md §8 (including the capital-O
  * `Orcid` header in authors.csv).
  */
object InitialLoad {

  private def csv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.option("header", "true").option("quote", "\"").schema(schema)
      .csv(path)

  val workstreamSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("description", StringType), StructField("theme", StringType)))

  val subwsSchema: StructType = StructType(Seq(
    StructField("parent", StringType), StructField("child", StringType)))

  val partnerSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("dbpedia", StringType), StructField("ror", StringType),
    StructField("openalex", StringType)))

  val authorSchema: StructType = StructType(Seq(
    StructField("uuid", StringType), StructField("first_name", StringType),
    StructField("last_name", StringType), StructField("Orcid", StringType),
    StructField("google_scholar", StringType), StructField("pubmed", StringType),
    StructField("institution_url", StringType), StructField("gender", StringType)))

  val memberSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("role", StringType), StructField("orcid", StringType),
    StructField("start", StringType), StructField("end", StringType)))

  val partnerMemberSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("orcid", StringType)))

  /** Membership resolution (J10): orcid-preferred else exact-name join
    * against the current authors table. Returns ALL input rows annotated
    * with `author_uuid` (null = unresolved) — callers split matched from
    * quarantine instead of silently dropping rejects (the reference logs
    * every member it cannot resolve, create_graph.py:196).
    */
  def resolveMembers(authorsNow: DataFrame, members: DataFrame): DataFrame = {
    val byOrcid = authorsNow.filter(col("orcid").isNotNull)
      .select(col("orcid"), col("uuid").as("_uuid_orcid"))
      .dropDuplicates("orcid")
    val byName = authorsNow
      .select(concat_ws(" ", col("first_name"), col("last_name")).as("_nm"),
        col("uuid").as("_uuid_name"))
      .dropDuplicates("_nm")
    // no forced broadcast — authors is unbounded; Catalyst broadcasts
    // from size stats while small, AQE shuffles once it grows
    members
      .join(byOrcid, Seq("orcid"), "left_outer")
      .withColumn("_nm", col("name"))
      .join(byName, Seq("_nm"), "left_outer")
      .withColumn("author_uuid",
        coalesce(col("_uuid_orcid"), col("_uuid_name")))
  }

  /** Dependency-ordered full load (reference create_graph.py:277-314).
    *
    * @return the quarantine: membership rows that resolved to no author
    *   (source, id, name, orcid) — the reference warn-logs each of these;
    *   surfacing them as data keeps the reject set queryable at scale.
    */
  def run(spark: SparkSession, store: GraphStore, dir: String): DataFrame = {
    // 1. workstreams
    val ws = csv(spark, s"$dir/workstream.csv", workstreamSchema)
      .select(col("id"), col("name"), lit("workstream").as("unit_type"),
        lit(null).cast("string").as("dbpedia"),
        lit(null).cast("string").as("ror"),
        lit(null).cast("string").as("openalex"))
    store.upsertNodes("units", ws, key = "id")

    // 2. unit_of hierarchy (child -> parent)
    val subws = csv(spark, s"$dir/subws.csv", subwsSchema)
      .select(col("child").as("src"), col("parent").as("dst"))
    store.mergeEdges("unit_of", subws)

    // 3. partners (dual-label Partner:Unit -> same units table)
    val partners = csv(spark, s"$dir/project_partners.csv", partnerSchema)
      .select(col("id"), col("name"), lit("partner").as("unit_type"),
        col("dbpedia"), col("ror"), col("openalex"))
    store.upsertNodes("units", partners, key = "id")

    // 4. authors (seed uuids are authoritative; Orcid header is capital-O)
    val authors = csv(spark, s"$dir/authors.csv", authorSchema)
      .select(col("uuid"), col("first_name"), col("last_name"),
        col("Orcid").as("orcid"), lit(null).cast("string").as("openalex"))
    store.upsertNodes("authors", authors, key = "uuid")

    // 5+6. memberships: orcid-preferred else exact-name (J10), then
    //      member_of edges; unresolved rows land in the returned quarantine
    val authorsNow = store.nodeTable("authors")
    val wpAll = resolveMembers(authorsNow,
      csv(spark, s"$dir/wp_members.csv", memberSchema))
    store.mergeEdges("member_of", wpAll.filter(col("author_uuid").isNotNull)
      .select(col("author_uuid").as("src"), col("id").as("dst")))
    val pAll = resolveMembers(authorsNow,
      csv(spark, s"$dir/partner_members.csv", partnerMemberSchema))
    store.mergeEdges("member_of", pAll.filter(col("author_uuid").isNotNull)
      .select(col("author_uuid").as("src"), col("id").as("dst")))
    def rejects(all: DataFrame, source: String) =
      all.filter(col("author_uuid").isNull)
        .select(lit(source).as("source"), col("id"), col("name"), col("orcid"))
    val quarantine = rejects(wpAll, "wp_members")
      .unionByName(rejects(pAll, "partner_members"))
      .localCheckpoint(true) // pin: store tables get rewritten by later loads
    val nRejects = quarantine.count()
    if (nRejects > 0)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"seed load: $nRejects membership row(s) matched no author " +
          "(reference create_graph.py:196 warn-logs each)")

    // 7. countries: dbpedia slug (F11) + latlng split (F12)
    val rawCountries = spark.read.option("header", "true")
      .option("quote", "\"").csv(s"$dir/countries.csv")
    val countries = rawCountries.select(
      col("cca3").as("id"),
      col("`name.common`").as("name"),
      col("`name.official`").as("official_name"),
      // bare slug, no URL prefix — reference stores '_'.join(official.split())
      // (create_graph.py:109)
      regexp_replace(col("`name.official`"), " ", "_").as("dbpedia"),
      element_at(split(col("latlng"), ","), 1).cast("double").as("latitude"),
      element_at(split(col("latlng"), ","), 2).cast("double").as("longitude"))
    store.upsertNodes("countries", countries, key = "id")

    quarantine
  }
}
