package xmlbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spark-side figures of one operation, collected by [[OpListener]]. */
final case class OpStats(jobs: Int, stages: Int, tasks: Int,
    taskCpuMs: Double, gcMs: Double, taskSkew: Double,
    shuffleWriteBytes: Long, spillBytes: Long, peakExecMemMb: Double,
    recordsRead: Long, jobIntervals: Seq[(Long, Long)]) {

  /** Milliseconds of [start, end] covered by no job interval. */
  def outsideJobsMs(start: Long, end: Long): Double = {
    var covered = 0L
    var reach = start
    jobIntervals.map { case (a, b) => (a max start, b min end) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - (a max reach); reach = b }
      }
    (end - start - covered).toDouble
  }
}

/** Counts jobs, stages and tasks and sums task metrics between two
  * [[take]] calls. Registered only in the traced run. */
final class OpListener extends SparkListener {
  private var jobs, stages, tasks = 0
  private var cpuNs, gcMs, shuffleW, spill, peakMem, recsIn = 0L
  private val taskMs = ArrayBuffer.empty[Long]
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = peakMem max m.peakExecutionMemory
      recsIn += m.inputMetrics.recordsRead
    }
  }

  /** The figures since the previous call; resets them. */
  def take(): OpStats = synchronized {
    val sorted = taskMs.sorted
    val skew =
      if (sorted.isEmpty) 1.0
      else sorted.last.toDouble / (Stats.median(sorted.map(_.toDouble).toSeq) max 1)
    val s = OpStats(jobs, stages, tasks, cpuNs / 1e6, gcMs.toDouble, skew,
      shuffleW, spill, peakMem / 1048576.0, recsIn, intervals.toList)
    jobs = 0; stages = 0; tasks = 0
    cpuNs = 0; gcMs = 0; shuffleW = 0; spill = 0; peakMem = 0; recsIn = 0
    taskMs.clear(); intervals.clear()
    s
  }
}

object Stats {
  /** NaN for no samples (printed as null, with `correct` false). */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Process peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    } finally src.close()
  }
}
