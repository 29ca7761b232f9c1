package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only optimization harness (round 11): run named queries once each
  * through the noop sink with a job listener attached, and print every
  * Spark job's call site + wall seconds — the per-stage cost breakdown
  * for queries whose work happens EAGERLY during query construction
  * (localCheckpoint pipelines), where a plan dump shows only the final
  * trivial node. Never run by the driver.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = Bench.session(sfDir, defaultCpus = 32)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
    val done = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // prefer the job description (set by labeled operators, guide
        // §1.5 — propagated into broadcast/subquery futures by
        // withThreadLocalCaptured); fall back to the deepest
        // non-lambda stage call site
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
        val names = js.stageInfos.sortBy(_.stageId).map(_.name)
        val site = desc
          .orElse(names.reverse.find(n => !n.contains("$anonfun")))
          .orElse(names.headOption).getOrElse("?")
        jobs.put(js.jobId, (site, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (site, t0) =>
          done.synchronized { done += site -> (je.time - t0) / 1e3 }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    args.foreach { name =>
      val fn = all(name)
      (1 to passes).foreach { pass =>
        done.synchronized { done.clear() }
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the listener bus drain
        println(f"JOBPROFILE $name pass=$pass total=$secs%.3f s")
        val snap = done.synchronized { done.toSeq }
        val bySite = snap.groupBy(_._1).view
          .mapValues(v => (v.size, v.map(_._2).sum)).toSeq
          .sortBy(-_._2._2)
        bySite.foreach { case (site, (n, s)) =>
          println(f"  $s%8.3f s  x$n%-3d $site")
        }
      }
    }
    spark.stop()
  }
}
