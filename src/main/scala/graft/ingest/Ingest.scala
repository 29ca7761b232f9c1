package graft.ingest

import graft.Pins
import graft.enrich.CountryLinker
import graft.graph.GraphStore
import graft.graph.Iterate.described
import graft.report.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI-equivalent ingestion pipeline — the Spark re-expression of the
  * reference's main entry point (`create_graph_from_doi.py:195-256,332-376`).
  *
  * The reference loops DOI-by-DOI issuing ~2+3·|authors| Bolt round-trips per
  * article; here the same semantics run as ONE batch dataflow:
  *
  *   doi list ─validate/dedup─ tracker
  *        └─ payloads (pre-fetched JSON dir; the HTTP fetch is outside the
  *           engine, reference get_metadata.py:40-87)
  *             └─ parse (G2/G3/F1/F5-F10, narrow) + OpenAlex join (S4:
  *                openalex id + cited_by_count, reference parser.py:185-186)
  *                └─ J7 new-output anti-join ── outputs append (or, in
  *                   update mode, merge-on-key property refresh — S7/update)
  *                └─ posexplode authors → J5/J9/J6 resolution → minted
  *                   authors append → J2 author_of MERGE
  *   then country enrichment (J4/J8/L3) and the metrics report (A2/A3).
  *
  * Run: sbt "runMain graft.ingest.Ingest <doiList> <payloadDir> <warehouse>"
  * where payloadDir holds {doi-with-slashes-stripped}.json files (the
  * reference's --write-metadata layout, get_metadata.py:29-38).
  */
object Ingest {

  /** One full ingestion run. Returns the 14-counter metrics report (1 row,
    * pinned: the caller releases it), timed from the call to the report.
    *
    * @param openAlex optional OpenAlex works table (doi, id, cited_by_count)
    *   — the prefetched-JSON analogue of the reference's per-DOI OpenAlex
    *   fetch (get_metadata.py:69-87). When given, outputs carry
    *   openalex + cited_by_count and the openalex_success counter counts
    *   the DOIs that matched.
    * @param update reference `--update`: re-process DOIs that already exist,
    *   refreshing their properties in place (merge-on-key write).
    */
  def run(spark: SparkSession, store: GraphStore, doiList: DataFrame,
          payloads: DataFrame, openAlex: Option[DataFrame] = None,
          countriesSeed: Option[DataFrame] = None,
          limit: Option[Int] = None, update: Boolean = false,
          citedByCountYear: Option[Int] = None): DataFrame = {
    val t0 = System.nanoTime()

    // The four reused frames are PINNED (eager localCheckpoint), not
    // cached: an append re-caches every cached plan over the appended
    // path, so a cached tracker would count this batch's own DOIs as
    // existing and `resolved` would re-resolve against the authors this
    // run just minted. A pin is fixed when it is made; all four are
    // released after the report.

    // Each stage's jobs carry the description "ingest: <stage>".

    // 1. validate + existence (tracker stays small: --limit default 50)
    val (tracker, ingest) = described("ingest: validate") {
      val tracker0 = DoiOps.validate(doiList, limit)
      val tracker = DoiOps.markExisting(tracker0, store.nodeTable("outputs"))
        .localCheckpoint(true)
      (tracker, DoiOps.toIngest(tracker, update))
    }

    // 2. parse payloads for the to-ingest set (semi-join: payload table may
    //    hold anything; only this batch's DOIs flow on)
    val parsed = described("ingest: parse") {
      val batch = payloads.join(ingest.select("doi").hint("broadcast"),
        Seq("doi"), "left_semi")
      MetadataParser.parseEnvelope(batch, openAlex = openAlex,
        citedByCountYear = citedByCountYear).localCheckpoint(true)
    }

    // 3. outputs: deterministic uuid from the DOI; insert-if-absent, or in
    //    update mode a merge-on-key property refresh (doi.py:215-250)
    val newOut = described("ingest: outputs") {
      val newOut = parsed.dropDuplicates("doi")
        .withColumn("uuid",
          EntityResolution.mintUuid(concat(lit("output:"), col("doi"))))
        .localCheckpoint(true)
      if (update) store.mergeNodes("outputs", newOut, key = "doi")
      else store.upsertNodes("outputs", newOut, key = "doi")
      newOut
    }

    // 4. authors: fan out mentions (G3), resolve (J5/J9/J6), mint, append
    val resolved = described("ingest: resolve") {
      val mentions = newOut.select(col("doi"), col("uuid").as("output_uuid"),
          posexplode(col("authors")).as(Seq("mention_order", "a")))
        .select(col("doi"), col("output_uuid"), col("a.first_name"),
          col("a.last_name"), col("a.orcid"), col("a.rank"),
          col("mention_order").cast("long").as("mention_order"))
      EntityResolution
        .resolveAuthors(mentions, store.nodeTable("authors"))
        .localCheckpoint(true)
    }
    described("ingest: authors") {
      store.upsertNodes("authors", EntityResolution.mintedAuthors(resolved),
        key = "uuid")
    }

    // 5. author_of edges (J2/S8)
    described("ingest: author_of") {
      store.mergeEdges("author_of", EntityResolution.authorOfEdges(resolved))
    }

    // 6. country enrichment (J4+J8, abstract then title, reference
    //    create_graph_from_doi.py:294-329). Uncapped variant = batch
    //    semantics; the CLI's LIMIT-1-per-country exists as
    //    CountryLinker.newLinksTop1PerCountry.
    described("ingest: link") {
      countriesSeed.foreach(c => store.upsertNodes("countries", c, key = "id"))
      val countries = store.nodeTable("countries")
      val outputsNow = store.nodeTable("outputs")
      Seq("abstract", "title").foreach { f =>
        store.mergeEdges("refers_to", CountryLinker.newLinks(
          outputsNow, countries, store.edgeTable("refers_to"), f))
      }
    }

    // 7. metrics (A2/A3) — enrich tracker with per-stage success flags
    //    (openaire = parsed, openalex = parsed AND matched an OpenAlex work)
    val report = described("ingest: report") {
      val okDois = parsed.groupBy("doi").agg(
        max(lit(true)).as("openaire_metadata"),
        (count(col("openalex")) > 0).as("openalex_metadata"))
      Metrics.ingestionReport(
        tracker.join(okDois, Seq("doi"), "left_outer")
          .withColumn("openaire_metadata",
            coalesce(col("openaire_metadata"), lit(false)))
          .withColumn("openalex_metadata",
            coalesce(col("openalex_metadata"), lit(false)))
          .withColumn("ingestion_success",
            col("openaire_metadata") && col("valid_pattern")),
        update = update, totalTimeSeconds = (System.nanoTime() - t0) / 1e9)
        // pin the (1-row) report, then release the run's pins — a
        // long-lived session (streaming micro-batches) must not accumulate
        // per-run blocks
        .localCheckpoint(true)
    }
    Pins.release(tracker, parsed, newOut, resolved)
    report
  }

  /** Raw-JSON payload sink — the reference's `--write-metadata`
    * (get_metadata.py:29-38): one `{doi with '/' stripped}.json` file per
    * DOI. Written through the Hadoop FileSystem API per partition (works on
    * file:/hdfs:/s3a:); this is an export sink for small fetch batches, not
    * a hot-path operator.
    */
  def writeMetadata(payloads: DataFrame, dir: String): Unit = {
    val confBc = payloads.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        payloads.sparkSession.sessionState.newHadoopConf()))
    payloads.select(
      regexp_replace(col("doi"), "/", "").as("_key"), col("payload"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(confBc.value.value)
        fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
        rows.foreach { r =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(dir, r.getString(0) + ".json"), true)
          try out.write(r.getString(1).getBytes("UTF-8"))
          finally out.close()
        }
      }
  }

  /** Read a `--write-metadata`-layout payload dir into (doi, payload) rows,
    * joining the filename key (F13) back to the validated DOI list. Uses
    * the graft-payload V2 source ([[graft.sources.PayloadSource]]): files
    * are size-balanced into parallelism-many splits at planning time —
    * `text(wholetext)` would schedule one task per file, which at a
    * millions-of-tiny-JSON cache is pure scheduler overhead.
    */
  def readPayloadDir(spark: SparkSession, doiList: DataFrame,
                     payloadDir: String): DataFrame = {
    val payloads = spark.read.format("graft-payload").load(payloadDir)
    DoiOps.validate(doiList)
      .withColumn("file_key", regexp_replace(col("doi"), "/", ""))
      .select("doi", "file_key").distinct()
      .join(payloads, Seq("file_key")).drop("file_key")
  }

  def main(args: Array[String]): Unit = {
    val Array(doiListPath, payloadDir, warehouse) = args.take(3)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .appName("graft-ingest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = new GraphStore(spark, warehouse)
    val doiList = DoiOps.readDoiList(spark, doiListPath)
    val keyed = readPayloadDir(spark, doiList, payloadDir)

    Ingest.run(spark, store, doiList, keyed).show(truncate = false)
    val violations = store.assertConstraints()
    println(s"constraint violations: $violations")
    println("nodes/authors=" + store.nodeTable("authors").count() +
      " nodes/outputs=" + store.nodeTable("outputs").count() +
      " edges/author_of=" + store.edgeTable("author_of").count() +
      " edges/refers_to=" + store.edgeTable("refers_to").count())
    spark.stop()
  }
}
