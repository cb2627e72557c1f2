package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator family's query map; each key has a
  * matching DuckDB oracle in `oracleSql` (omissions are deliberate and mean
  * the op is not SQL-expressible — driver falls back to a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Relational
      .q2RevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.XmlQueries.queries ++
      graft.queries.ExtensionQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.XmlQueries.oracles ++
      graft.queries.ExtensionQueries.oracles

  /** `SPARK_GRAFT_ONLY=name1,name2`: a gate subset for local iteration.
    * Round runs never set it, so they run every gate. */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** The gates Bench and Verify run: [[queries]] within [[only]], sorted
    * by name, so the order stays put when a gate is added. */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val keep = only
    queries.toSeq.sortBy(_._1).filter { case (n, _) => keep.forall(_(n)) }
  }

  /** Runs one gate, then drops what it left behind so no gate runs under
    * another's memory pressure: cached relations (`clearCache`) and staged
    * localCheckpoint blocks, which `clearCache` cannot see (r16's full run
    * measured late-alphabet gates 4x slower than the same gate alone). */
  def isolated[A](spark: SparkSession)(gate: => A): A =
    try gate finally {
      spark.catalog.clearCache()
      Tables.releaseAll(spark)
    }
}
