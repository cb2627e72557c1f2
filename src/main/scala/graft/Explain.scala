package graft

/** Dev helper: print the formatted physical plan of selected gates.
  * Usage: runMain graft.Explain <sfDir> <name>[,<name>...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.split(",").foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
  }
}
