package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe data builder (a dev TOOL, not a gate): writes `copies`
  * self-consistent shards of a driver sfDir into outDir — every shard
  * shifts its PRIMARY and FOREIGN keys by the same copy offset, so join
  * topology, FK integrity and per-key cardinalities are preserved while
  * row counts scale linearly (nation/region, the fixed-size dims, pass
  * through unshifted and are shared by all shards). Used for the
  * BASELINE.md sf1 scaling ledger: 10 copies of sf0.1 ≈ sf1. Reading
  * and writing through the SAME Spark session configs as the gates
  * keeps parquet types (nanos timestamps, decimals-as-double) identical
  * to the driver's fixtures. */
object ScaleData {
  private val Shift = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, copiesS) = args
    val copies = copiesS.toInt
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)

    val shifted: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    def copyOf(df: DataFrame, keys: Seq[String], t: Int): DataFrame =
      keys.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(t * Shift)))

    for ((table, keys) <- shifted) {
      val src = spark.read.parquet(s"$sfDir/$table.parquet")
      val all = (0 until copies).map(t => copyOf(src, keys, t))
        .reduce(_.unionByName(_))
      if (table == "events" || table == "orders") {
        // The driver fixtures ship each table as a single FILE, and the
        // streaming sources read the sfDir with
        // pathGlobFilter=<table>.parquet (events: the s-family bus;
        // orders: s15's sink source) — a DIRECTORY-shaped <table>.parquet
        // leaves part-files that match nothing, so those gates streamed
        // an EMPTY bus at probe scale (round-14 ledger caveat). Write
        // one shard and move the part file into place.
        val tmp = s"$outDir/__${table}_tmp"
        all.coalesce(1).write.mode("overwrite").parquet(tmp)
        val dst = new java.io.File(s"$outDir/$table.parquet")
        def rmRf(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmRf)
          f.delete(); ()
        }
        if (dst.exists()) rmRf(dst)
        val tmpDir = new java.io.File(tmp)
        val part = tmpDir.listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        rmRf(tmpDir)
        println(s"[scale] $table x$copies -> $outDir (single file)")
      } else {
        all.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
        println(s"[scale] $table x$copies -> $outDir")
      }
    }
    for (dim <- Seq("region", "nation")) {
      spark.read.parquet(s"$sfDir/$dim.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
      println(s"[scale] $dim (shared dim, 1x) -> $outDir")
    }
    spark.stop()
  }
}
