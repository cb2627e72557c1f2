package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev helper (guide §1.1/§1.5): run selected gates once with a
  * SparkListener attached and print a per-job time table — job wall-clock,
  * stage count, task count — so per-round overhead (checkpoint / cache
  * build / guard collect / broadcast build) is attributable without the UI.
  * Usage: runMain graft.JobProf <sfDir> <name>[,<name>...] [cpus]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1)
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    case class J(id: Int, var desc: String, var t0: Long = 0L,
      var t1: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the RESULT stage's callSite names what triggered the job
        // (localCheckpoint / collect / broadcast build / noop write ...)
        val site = e.stageInfos.sortBy(-_.stageId).headOption
          .map(_.name).getOrElse("")
        val j = J(e.jobId, site, e.time)
        j.stages = e.stageInfos.size
        j.tasks = e.stageInfos.map(_.numTasks).sum
        jobs.synchronized { jobs(e.jobId) = j }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
    }
    spark.sparkContext.addSparkListener(listener)
    names.split(",").foreach { n =>
      // warmup (codegen, footers)
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      Tables.releaseAll(spark)
      jobs.synchronized { jobs.clear() }
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Tables.releaseAll(spark)
      Thread.sleep(300) // let listener events drain
      println(s"========== $n wall=${"%.2f".format(wall)}s ==========")
      val js = jobs.synchronized { jobs.values.toSeq }
      val tot = js.map(j => (j.t1 - j.t0).max(0L)).sum / 1e3
      println(f"jobs=${js.size} sum_job_wall=$tot%.2f s")
      js.groupBy(_.desc).toSeq
        .map { case (d, g) =>
          (g.map(j => (j.t1 - j.t0).max(0L)).sum / 1e3, g.size,
            g.map(_.tasks).sum, d)
        }
        .sortBy(-_._1)
        .foreach { case (sec, n, tasks, d) =>
          println(f"  $sec%7.3f s  n=$n%4d tasks=$tasks%5d  ${d.take(100)}")
        }
    }
    spark.stop()
  }
}
