package graft
import java.nio.file.{Files, Paths}

/** Dev-only optimization harness (round 11): dump `explain("formatted")`
  * for named queries to `plans/r11/<q>_<tag>.txt` and time each through
  * the noop sink (same methodology as [[Bench]] — best-of-passes), so a
  * change's plan diff and seconds are captured against the same session
  * configuration the bench uses. Never run by the driver; Bench stays the
  * contract artifact.
  *
  * Usage: SPARK_GRAFT_PLAN_TAG=before sbt "runMain graft.PlanDump q_a q_b"
  * (no args = the full suite, plans only, no timing).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r11")
    val timed = args.nonEmpty
    val spark = Bench.session(sfDir, defaultCpus = 32)
    Files.createDirectories(Paths.get(outDir))
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val names = if (args.nonEmpty) args.toSeq else all.keys.toSeq.sorted
    val times = names.map { name =>
      val fn = all(name)
      spark.sparkContext.setJobDescription(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      val secs = if (timed) {
        val per = (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        per.min
      } else -1.0
      name -> secs
    }
    if (timed) times.foreach { case (n, s) => println(f"PLANDUMP $n%-36s $s%8.3f s") }
    spark.stop()
  }
}
