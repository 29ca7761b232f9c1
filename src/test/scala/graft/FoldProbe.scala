package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import graft.graph.{GraphOps, Iterate}
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fold-versus-loop probe for the driver fold ([[Iterate.folds]]): each
  * folded operator runs on a synthetic pinned input of about `rows` gate
  * rows, once on the driver fold and once inside [[Iterate.distributed]],
  * and prints one line per run:
  *
  *  - `op_s`: the operator call, result materialized (its pins written);
  *  - `sink_s`: two `noop` writes of the result, so a local-relation
  *    result pays its per-action cost twice;
  *  - `peak_mb`: the largest live heap during a second call, over the
  *    live heap before it (a sampler thread runs a full collection every
  *    100 ms, so this run is slower and untimed);
  *  - `held_mb`: the live heap the second call's result still holds.
  *
  * In local mode the executors share the driver's heap, so the
  * distributed run's figures include its tasks' memory too.
  *
  * Run by hand (not part of `sbt test`):
  *   SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.FoldProbe rows [ops] [modes]"
  * `ops`: comma-separated of label_propagation, k_core, page_rank, lloyd,
  * coauthor_components, author_rank, author_rank_weighted (default all);
  * `modes`: fold, distributed (default both). The graphs hash `rows`
  * arcs or edges onto rows/8 vertices; the three co-membership operators
  * read `rows` memberships of 36-character author strings, hashed onto
  * rows/8 authors, in outputs of two authors each (so the weighted
  * build's pairs both ways are `rows` edges too); `lloyd` builds an IVF
  * index over rows/dim vectors of `dim` floats (4th argument, default 16)
  * with `nCenters` centers (5th argument, default 64: at 2M elements the
  * most the Lloyd fold's work cap lets fold).
  */
object FoldProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(2000000L)
    def set(i: Int) = args.lift(i).map(_.split(",").toSet)
    val ops = set(1).getOrElse(
      Set("label_propagation", "k_core", "page_rank", "lloyd",
        "coauthor_components", "author_rank", "author_rank_weighted"))
    val modes = set(2).getOrElse(Set("fold", "distributed"))
    val dim = args.lift(3).map(_.toInt).getOrElse(16)
    val nCenters = args.lift(4).map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("fold-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    def used(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    def usedAfterFullGc(): Long = { System.gc(); used() }
    /** `body`'s result and the largest live heap while it ran: a sampler
      * thread collects every 100 ms and reads the occupancy left.
      */
    def sampled[A](body: => A): (A, Long) = {
      val peak = new AtomicLong(usedAfterFullGc())
      @volatile var done = false
      val sampler = new Thread(() => while (!done) {
        peak.accumulateAndGet(usedAfterFullGc(), math.max(_, _))
        Thread.sleep(100)
      })
      sampler.setDaemon(true)
      sampler.start()
      try (body, peak.get) finally { done = true; sampler.join() }
    }
    def mb(b: Long) = b / (1024.0 * 1024.0)

    val nv = math.max(rows / 8, 1L)
    def pinned(df: DataFrame) = {
      val p = df.repartition(4).localCheckpoint(true)
      p.count(); p
    }
    def graph(edges: Long) = pinned(spark.range(edges).select(
      pmod(xxhash64(col("id")), lit(nv)).as("src"),
      pmod(xxhash64(col("id"), lit(1)), lit(nv)).as("dst")))
    val vectors = rows / dim
    def corpus = pinned(spark.range(vectors).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (pmod(xxhash64(col("id"), d), lit(2001L)) - 1000).cast("float") /
          lit(1000f)).cast("array<float>").as("embedding")))

    def membership = pinned(spark.range(rows).select(
      substring(sha2(pmod(xxhash64(col("id")), lit(nv)).cast("string"), 256),
        1, 36).as("src"),
      concat(lit("output-"), (col("id") / 2).cast("long").cast("string"))
        .as("dst")))

    def probe(op: String)(input: => DataFrame)(run: DataFrame => DataFrame)
        : Unit =
      if (ops(op)) {
        val in = input
        for (mode <- Seq("fold", "distributed") if modes(mode)) {
          def call() = Pins.track(sc) {
            if (mode == "fold") run(in) else Iterate.distributed(run(in))
          }
          // timed run
          val t0 = System.nanoTime()
          val (out, pins) = call()
          val t1 = System.nanoTime()
          for (_ <- 1 to 2) out.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          Pins.release(sc, pins)
          // measured run
          val base = usedAfterFullGc()
          val ((out2, pins2), top) = sampled(call())
          val held = usedAfterFullGc() - base
          println(f"FOLDPROBE op=$op%-20s mode=$mode%-11s rows=$rows " +
            f"op_s=${(t1 - t0) / 1e9}%.2f sink_s=${(t2 - t1) / 1e9}%.2f " +
            f"peak_mb=${mb(top - base)}%.0f held_mb=${mb(held)}%.0f " +
            s"result_rows=${out2.count()}")
          Pins.release(sc, pins2)
        }
        Pins.release(in)
      }

    // the gate counts both arc directions: rows / 2 edges
    probe("label_propagation")(graph(rows / 2))(
      GraphOps.labelPropagation(_, maxIter = 10))
    // the gate counts canonical edges
    probe("k_core")(graph(rows))(GraphOps.kCore(_, k = 3))
    // the gate counts the symmetrized edges and the vertices
    probe("page_rank")(graph(rows / 2))(GraphOps.pageRank(_, maxIter = 10))
    // the gate counts membership rows
    probe("coauthor_components")(membership)(GraphOps.coauthorComponents)
    probe("author_rank")(membership)(GraphOps.authorRank(_, maxIter = 10))
    probe("author_rank_weighted")(membership)(
      GraphOps.authorRankWeighted(_, maxIter = 10))
    // the gate counts vector elements
    probe("lloyd")(corpus) { c =>
      val idx = Similarity.buildIvfIndex(c, nCenters = nCenters)
      idx.cells
    }
    spark.stop()
  }
}
