package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session recipe: every main and the shared test session
  * build their session here, so gates, bench and tests run the same plans
  * under the same confs. */
object Sessions {

  /** The gate confs: shuffle partitions = `cpus`, UTC, parquet nanosecond
    * timestamps read as longs (the fixtures' type), no UI. */
  def confs(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with [[graft.plans.GraftExtensions]] and
    * [[confs]], logging at WARN. Extensions apply only to a session this
    * call creates: `getOrCreate` returns an existing active or default
    * session without adding them. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config(confs(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
