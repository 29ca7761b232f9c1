package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.enrich.CountryLinker
import graft.functions.TextFunctions._
import graft.graph.GraphStore
import graft.ingest.{DoiOps, EntityResolution, Ingest, InitialLoad, MetadataParser}
import graft.report.Metrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: runs one workload over inputs generated by
  * `gen.py` and writes raw observations as JSON lines. Verification against
  * the generator's truth and the metric arithmetic live in `verify.py`.
  *
  * Usage: Harness --workload <name> --data <dir> --work <dir> --out <file>
  *   --trace <0|1> --seconds <s> --cpus <n> --setup-reps <k>
  *   [--queries q1,q2,...]
  */
object Harness {

  final case class Op(id: String, mode: String, dir: String, alex: String)

  private var out: PrintWriter = _

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => jstr(k.toString) + ":" + jval(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(jval).mkString("[", ",", "]")
    case x => x.toString
  }

  /** One JSON line of raw observations. */
  private def emit(kind: String, fields: (String, Any)*): Unit = {
    out.println(jval(Map("kind" -> kind) ++ fields))
    out.flush()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    out = new PrintWriter(opt("out"), "UTF-8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    emit("session", "spark_version" -> spark.version, "cpus" -> cpus.toInt,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory)
    val probe = if (trace) {
      val p = new Probe(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    try {
      if (workload.endsWith("_suite"))
        new SuiteRun(spark, data, work, probe, opt("seconds").toDouble,
          opt("queries").split(",").toSeq).run()
      else new IngestRun(spark, data, work, probe, opt("setup-reps").toInt).run()
    } finally {
      probe.foreach(p => emitSpans(p))
      out.close()
      spark.stop()
    }
  }

  private def emitSpans(p: Probe): Unit = {
    val st = p.stats()
    p.spans.foreach { s =>
      val c = st(s.id)
      emit("span", "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "s" -> s.wallS, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "sql_executions" -> c.sqlExecutions,
        "sql_s" -> c.sqlS,
        "driver_s" -> math.max(0.0, s.wallS - c.jobUnionS),
        "codegen_compiles" -> s.compiles,
        "codegen_ms_est" -> s.compileMsEst,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes)
    }
  }

  // ------------------------------------------------------------ ingest ---

  final class IngestRun(spark: SparkSession, data: String, work: String,
                        probe: Option[Probe], setupReps: Int) {
    private val citedYear = Some(2024)

    private def ops: Seq[Op] =
      Files.readAllLines(Paths.get(data, "plan.tsv")).asScala.toSeq
        .filter(_.nonEmpty).map(_.split("\t")).map(a => Op(a(0), a(1), a(2), a(3)))

    private def counts(store: GraphStore): Map[String, Long] =
      Seq("outputs", "authors", "units", "countries")
        .map(n => n -> store.nodeTable(n).count()).toMap ++
        Seq("author_of", "refers_to", "member_of", "unit_of")
          .map(n => n -> store.edgeTable(n).count()).toMap

    /** sha256 of an edge table's sorted "src\tdst\n" lines; `gen.py`
      * digests its truth the same way. */
    private def edgeDigests(store: GraphStore): Map[String, String] =
      Seq("author_of", "refers_to").map { n =>
        val lines = store.edgeTable(n).select("src", "dst").collect()
          .map(r => s"${r.get(0)}\t${r.get(1)}\n").sorted
        val md = java.security.MessageDigest.getInstance("SHA-256")
        lines.foreach(l => md.update(l.getBytes("UTF-8")))
        n -> md.digest().map(b => f"$b%02x").mkString
      }.toMap

    private def disk(root: String): (Long, Long) = {
      val p = Paths.get(root)
      if (!Files.exists(p)) (0L, 0L)
      else {
        val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      }
    }

    private def inputs(op: Op): (DataFrame, DataFrame, DataFrame) = {
      val dl = DoiOps.readDoiList(spark, s"$data/${op.dir}/dois.txt")
      (dl, Ingest.readPayloadDir(spark, dl, s"$data/${op.dir}/payloads"),
        spark.read.parquet(s"$data/${op.alex}"))
    }

    private def whole(store: GraphStore, op: Op): Row = {
      val (dl, pl, oa) = inputs(op)
      Ingest.run(spark, store, dl, pl, openAlex = Some(oa),
        update = op.mode == "update", citedByCountYear = citedYear)
        .collect().head
    }

    private def reportMap(r: Row): Map[String, Any] =
      r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap

    def run(): Unit = {
      // set-up: the seed load into a fresh warehouse, repeated; the last
      // warehouse is the one the operations run on
      val roots = (1 to setupReps).map(i => s"$work/warehouse_$i")
      roots.foreach { root =>
        val store = new GraphStore(spark, root)
        val (_, s) = timed(InitialLoad.run(spark, store, s"$data/init"))
        emit("setup", "s" -> s)
      }
      roots.init.foreach(r => deleteTree(Paths.get(r)))
      val root = roots.last
      val store = new GraphStore(spark, root)
      emit("setup_counts", "counts" -> counts(store),
        "edges" -> edgeDigests(store),
        "violations" -> store.assertConstraints().map(_.toString))

      ops.foreach { op =>
        val (report, s) = probe match {
          case None => timed(whole(store, op))
          case Some(p) => traced(p, store, root, op)
        }
        val (files, bytes) = disk(root)
        emit("op", "op" -> op.id, "mode" -> op.mode, "s" -> s,
          "report" -> reportMap(report), "counts" -> counts(store),
          "edges" -> edgeDigests(store),
          "violations" -> store.assertConstraints().map(_.toString),
          "store_files" -> files, "store_bytes" -> bytes)
      }
      probe.foreach(p => kernels(p, store))
    }

    /** The traced form of one operation: the layer-by-layer replay on the
      * live warehouse, then the whole call on two copies of the warehouse
      * as it was before the operation, once with the listener attached
      * (span `ingest.run`, the parent of the layer spans) and once without
      * it (the untraced wall, for the tracing overhead). */
    private def traced(p: Probe, store: GraphStore, root: String,
                       op: Op): (Row, Double) = {
      val copies = Seq("traced", "untraced").map(k => s"$work/copy_$k")
      copies.foreach { c =>
        deleteTree(Paths.get(c)); copyTree(Paths.get(root), Paths.get(c))
      }
      val runId = p.reserve()
      val (report, s) = timed(replay(p, store, op, runId))
      val sTraced = {
        val sp = p.open("ingest.run", op.id, parent = 0L, id = runId)
        try whole(new GraphStore(spark, copies(0)), op) finally p.close(sp)
        sp.wallS
      }
      spark.sparkContext.removeSparkListener(p)
      val (_, sUntraced) = try timed(whole(new GraphStore(spark, copies(1)), op))
        finally spark.sparkContext.addSparkListener(p)
      copies.foreach(c => deleteTree(Paths.get(c)))
      emit("trace_op", "op" -> op.id, "replay_s" -> s,
        "whole_traced_s" -> sTraced, "whole_untraced_s" -> sUntraced)
      (report, s)
    }

    /** `Ingest.run`, one public call per span. Each span materializes its
      * own output (with the same `cache()` the pipeline uses), so no work
      * leaks into the next span. */
    private def replay(p: Probe, store: GraphStore, op: Op, parent: Long): Row = {
      val update = op.mode == "update"
      def span[T](name: String)(body: => T): T = p.span(name, op.id, parent)(body)
      val (dl, pl, oa) = inputs(op)
      val (tracker, ingest) = span("doi_ops.validate") {
        val t = DoiOps.markExisting(DoiOps.validate(dl, None),
          store.nodeTable("outputs")).cache()
        t.count()
        (t, DoiOps.toIngest(t, update))
      }
      val parsed = span("parser.parse") {
        val batch = pl.join(ingest.select("doi").hint("broadcast"),
          Seq("doi"), "left_semi")
        val d = MetadataParser.parseEnvelope(batch, openAlex = Some(oa),
          citedByCountYear = citedYear).cache()
        d.count()
        d
      }
      val newOut = span(if (update) "store.merge_outputs" else "store.upsert_outputs") {
        val n = parsed.dropDuplicates("doi")
          .withColumn("uuid",
            EntityResolution.mintUuid(concat(lit("output:"), col("doi"))))
          .cache()
        if (update) store.mergeNodes("outputs", n, key = "doi")
        else store.upsertNodes("outputs", n, key = "doi")
        n
      }
      val (resolved, minted, edges) = span("resolution.resolve") {
        val mentions = newOut.select(col("doi"), col("uuid").as("output_uuid"),
            posexplode(col("authors")).as(Seq("mention_order", "a")))
          .select(col("doi"), col("output_uuid"), col("a.first_name"),
            col("a.last_name"), col("a.orcid"), col("a.rank"),
            col("mention_order").cast("long").as("mention_order"))
        val r = EntityResolution.resolveAuthors(mentions,
          store.nodeTable("authors")).cache()
        val m = EntityResolution.mintedAuthors(r).cache()
        val e = EntityResolution.authorOfEdges(r).cache()
        Seq(r, m, e).foreach(_.count())
        (r, m, e)
      }
      val mentionsN = resolved.count()
      val matchedN = resolved.filter(col("resolved_by") =!= "minted").count()
      val mintedN = minted.count()
      span("store.upsert_authors")(store.upsertNodes("authors", minted, key = "uuid"))
      span("store.merge_author_of")(store.mergeEdges("author_of", edges))
      val linksBefore = store.edgeTable("refers_to").count()
      span("linker.link") {
        val countries = store.nodeTable("countries")
        val outputsNow = store.nodeTable("outputs")
        Seq("abstract", "title").foreach { f =>
          store.mergeEdges("refers_to", CountryLinker.newLinks(
            outputsNow, countries, store.edgeTable("refers_to"), f))
        }
      }
      val links = store.edgeTable("refers_to").count() - linksBefore
      val report = span("report.report") {
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
          update = update).localCheckpoint(true).collect().head
      }
      val articles = parsed.count()
      Seq(tracker, parsed, newOut, resolved, minted, edges).foreach(_.unpersist())
      emit("layer_counts", "op" -> op.id, "articles" -> articles,
        "author_mentions" -> mentionsN, "matched" -> matchedN,
        "minted" -> mintedN, "links" -> links)
      report
    }

    /** Noop projections of the string kernels over the workload's strings. */
    private def kernels(p: Probe, store: GraphStore): Unit = {
      val outs = store.nodeTable("outputs")
      val authors = store.nodeTable("authors")
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      p.span("functions.clean_html", "kernels")(noop(
        outs.select(clean_html(col("title")), clean_html(col("abstract")))))
      p.span("functions.python_title", "kernels")(noop(
        authors.select(python_title(lower(col("first_name"))),
          python_title(lower(col("last_name"))))))
      p.span("functions.name_similarity", "kernels")(noop(
        authors.select(name_similarity(
          concat_ws(" ", col("first_name"), col("last_name")),
          concat_ws(" ", col("last_name"), col("first_name"))))))
    }
  }

  // ------------------------------------------------------------- suite ---

  final class SuiteRun(spark: SparkSession, data: String, work: String,
                       probe: Option[Probe], seconds: Double,
                       names: Seq[String]) {
    private val all = SparkEntry.queries ++ SparkEntry.benchOnly

    def run(): Unit = {
      val missing = names.filterNot(all.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      emit("oracle", "sql" -> oracle)
      // set-up: one warm pass whose results are written out for checking
      val (_, warm) = timed(names.foreach { q =>
        all(q)(spark, data).write.mode("overwrite").parquet(s"$work/verify/$q")
      })
      emit("setup", "s" -> warm)
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < 2 || secs(t0) < seconds) {
        pass += 1
        val ps = System.nanoTime()
        names.foreach { q =>
          val pins0 = sc.getPersistentRDDs.size
          val q0 = System.nanoTime()
          def once(): Unit =
            all(q)(spark, data).write.format("noop").mode("overwrite").save()
          val err = try {
            probe match {
              case Some(p) => p.span(s"suite.$q", s"pass$pass")(once())
              case None => once()
            }
            null
          } catch {
            case e: Throwable =>
              s"${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
          }
          emit("query", "pass" -> pass, "query" -> q, "s" -> secs(q0),
            "error" -> err, "pins_leaked" -> (sc.getPersistentRDDs.size - pins0))
        }
        emit("pass", "pass" -> pass, "s" -> secs(ps))
      }
      // traced runs add one pass with the listener detached: the tracing
      // overhead is the traced pass minus this one
      probe.foreach { p =>
        sc.removeSparkListener(p)
        val (_, s) = timed(names.foreach(q =>
          all(q)(spark, data).write.format("noop").mode("overwrite").save()))
        sc.addSparkListener(p)
        emit("untraced_pass", "s" -> s)
      }
    }
  }

  // ------------------------------------------------------------ files ---

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else Files.copy(s, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
}
