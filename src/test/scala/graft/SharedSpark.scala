package graft

import org.apache.spark.sql.SparkSession

/** The Spark session of every spec: one per JVM, built by
  * [[Sessions.local]], so specs run the plans the gates and the bench run
  * (GraftExtensions on, the gate confs) whatever order the suites run in. */
trait SharedSpark {
  lazy val spark: SparkSession = SharedSpark.session

  /** Runs `f` in the rule-off session: the same confs without
    * GraftExtensions. It is the plan a session without the extensions
    * gets, and the un-rewritten baseline a rule's spec compares against. */
  def ruleOff[A](f: SparkSession => A): A = SharedSpark.ruleOff(f)
}

object SharedSpark {
  val Cpus = 4

  lazy val session: SparkSession = Sessions.local(Cpus)

  // Built once. The builder returns the active or default session when
  // there is one, so both are cleared around the build and then restored.
  private lazy val plain: SparkSession = {
    session // the shared session is created first and owns the context
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().master(s"local[$Cpus]")
      .config(Sessions.confs(Cpus)).getOrCreate()
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  def ruleOff[A](f: SparkSession => A): A = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(plain)
    try f(plain)
    finally prev.fold(SparkSession.clearActiveSession())(
      SparkSession.setActiveSession)
  }
}
