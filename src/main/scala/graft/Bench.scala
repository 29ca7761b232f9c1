package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
object Bench {

  /** Queries whose DEFINITION changed in a past round (the
    * `discontinuity` of their [[graft.queries.QueryDef]]) — what they
    * measure is discontinuous across artifacts, so cross-round deltas on
    * them are apples-to-oranges, not regressions/speedups. Emitted in
    * the artifact (`"discontinuities"`) and consumed by
    * tools/bench_compare.py, which reports them separately instead of
    * flagging them. Keep a discontinuity until the change has an artifact on
    * BOTH sides of every comparison anyone still runs (2+ rounds).
    */
  lazy val DISCONTINUITIES: Map[String, String] =
    SparkEntry.registry.flatMap { case (n, q) => q.discontinuity.map(n -> _) }

  /** Timed best-of-N over a query map through the noop sink. Returns
    * (per-query min seconds, per-query error) — errors are RECORDED, not
    * swallowed: a failing query must show up as `err` in the artifact
    * rather than as a suspiciously fast time.
    */
  def run(queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
          spark: SparkSession, sfDir: String,
          passes: Int): (Seq[(String, Double)], Map[String, String]) = {
    val (times, errors, _) = runCounted(queries, spark, sfDir, passes)
    (times, errors)
  }

  /** [[run]], plus the Spark jobs each pass of each query started, in
    * pass order: the first pass also builds the session artifacts
    * (`SparkEntry.artifact`), later passes reuse them. A listener counts
    * the jobs by a local property naming the query, which Spark copies
    * to the threads that run a query's broadcasts and subqueries.
    */
  def runCounted(queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                 spark: SparkSession, sfDir: String, passes: Int)
      : (Seq[(String, Double)], Map[String, String], Map[String, Seq[Int]]) = {
    val sc = spark.sparkContext
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val jobs = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(QueryTag)))
          .foreach(tag => jobs.synchronized { jobs(tag) += 1 })
    }
    var leaked = 0L
    def once(pass: Int, name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      sc.setLocalProperty(QueryTag, s"$pass $name")
      val (secs, pins) = try Pins.track(sc) {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
        }
        (System.nanoTime() - t0) / 1e9
      } finally sc.setLocalProperty(QueryTag, null)
      // Hygiene, OUTSIDE the timed region: a query whose result depends on
      // a pin (localCheckpoint) cannot release it before the sink has run,
      // so each query's scope releases the pins it left behind, except
      // those a session artifact built during the query now owns
      // (SparkEntry.artifact). Pins that existed before the query are not
      // in its scope, whichever session holds them. Without this the block
      // manager keeps every query's dead pins for the whole session (~260
      // per full pass measured at sf0.1) and late queries pay the memory
      // and GC pressure of early ones. The release blocks, so it finishes
      // before the next query's clock starts.
      val dead = pins -- SparkEntry.livePinRddIds(spark)
      leaked += dead.size
      Pins.release(sc, dead)
      secs
    }
    val ordered = queries.toSeq.sortBy(_._1)
    sc.addSparkListener(listener)
    val perPass = try {
      val perPass = (1 to passes).map { pass =>
        ordered.map { case (n, fn) => n -> once(pass, n, fn) }.toMap
      }
      // the listener bus delivers in order: once this job is counted,
      // every job of every query has been
      sc.setLocalProperty(QueryTag, "drained")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(QueryTag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.synchronized(!jobs.contains("drained")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      perPass
    } finally sc.removeSparkListener(listener)
    System.err.println(
      s"bench hygiene: released $leaked dead pin RDDs (artifact-owned pins kept)")
    (ordered.map { case (n, _) => n -> perPass.map(_(n)).min },
      errors.toMap,
      ordered.map { case (n, _) =>
        n -> jobs.synchronized((1 to passes).map(p => jobs(s"$p $n")))
      }.toMap)
  }

  /** Local property naming the pass and query whose jobs run on a thread. */
  private val QueryTag = "graft.bench.query"

  /** The bench session: `local[SPARK_GRAFT_CPUS]` (default 4) with as
    * many shuffle partitions, warmed up by one lineitem aggregate so the
    * first timed query isn't charged for JIT.
    */
  def session(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the default 100-entry codegen class cache evicts constantly
      // under a 250+-query suite (each query compiles dozens of codegen
      // units), so every pass re-pays Janino compilation; scale-free
      // JVM-level setting (a long-lived production driver wants it too)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "10000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => }
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val spark = session(sfDir)
    // noop sink forces full evaluation of every column (a bare count() lets
    // Catalyst prune projections, under-measuring expression-heavy queries).
    // Best-of-`passes` (default 3): later passes amortize codegen/JIT and
    // ride out transient host-contention spikes, approximating steady-state
    // plan cost rather than luck-of-draw.
    // optional args: bench only the named queries (dev iteration; the
    // driver harness always invokes with no args = full suite).
    // benchOnly = production-parameter twins of the seam-converted
    // queries: benched for regression tracking, never oracled (murmur
    // hashes have no SQL replay — Verify skips them by construction)
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val only = args.toSet
    val selected =
      if (only.isEmpty) all
      else all.filter { case (k, _) => only(k) }
    val (results, errors, jobs) = runCounted(selected, spark, sfDir, passes)
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val qs = results.map { case (k, v) =>
      if (errors.contains(k)) s"${jstr(k)}:{\"err\":${jstr(errors(k))}}"
      else s"${jstr(k)}:$v"
    }.mkString("{", ",", "}")
    // "jobs": the fewest jobs a pass started; "jobs_first": the first
    // pass's, which alone counts a session artifact's build
    def jobsBy(f: Seq[Int] => Int) =
      results.map { case (k, _) => s"${jstr(k)}:${f(jobs(k))}" }
        .mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !errors.contains(k) => v }.sum
    // wall seconds since JVM start: a contended host shows wall >> measured
    val wall = (System.currentTimeMillis() - jvmStart) / 1e3
    val disc = DISCONTINUITIES.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"jobs":${jobsBy(_.min)},"jobs_first":${jobsBy(_.head)},"sf":"$sfDir","passes":$passes,"n_errors":${errors.size},"jvm_wall_sec":$wall,"discontinuities":$disc}"""
    println(line)
    // the driver's BENCH_r{N}.json keeps only a tail of this (long) line,
    // so cross-round regression tracking would cover a fraction of the
    // suite; SPARK_GRAFT_BENCH_OUT writes the COMPLETE artifact to a file
    // (committed per round as BENCH_LOCAL_r{N}.json for
    // tools/bench_compare.py, which consumes either form)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      // never let a bad output path lose the run: the measurements are
      // already on stdout and the compact summary must still print LAST
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(path, (line + "\n").getBytes("UTF-8"))
      } catch {
        case e: Exception =>
          System.err.println(s"BENCH_OUT write failed ($p): $e")
      }
    }
    // compact summary LAST: a tail-truncated capture of the (long) line
    // above still keeps the headline numbers in the final ~200 bytes
    println(s"""{"metric":"summary","total_sec":${math.round(total * 1000) / 1000.0},"n_queries":${results.size},"n_errors":${errors.size},"jvm_wall_sec":$wall}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
