package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extensions: `SparkSession.builder.withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Every main and the shared test session get them from
  * [[graft.Sessions.local]], so gates, bench and tests plan alike.
  *
  * Registers the optimizer rules [[PushLambdaThroughGetItem]] and
  * [[SummaryRewrite]], the post-hoc resolution rule
  * [[PushLambdaThroughExplode]], and [[AsOfJoinStrategy]], the planner
  * strategy for the first-class as-of join operator ([[AsOfJoinNode]] ->
  * [[AsOfJoinExec]]).
  *
  * The XML engine needs no rule here: the DSL binds each per-row parse
  * and shared extraction once in a Catalyst `With`, which Spark's own
  * optimizer rewrites into a Project below in any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PushLambdaThroughGetItem)
    // no-op unless a summary is registered (SummaryRegistry.isEmpty gate)
    e.injectOptimizerRule(_ => SummaryRewrite)
    // post-hoc resolution (NOT optimizer): the Generate-over-alias shape it
    // matches exists only right after analysis — see the rule's scaladoc
    e.injectPostHocResolutionRule(_ => PushLambdaThroughExplode)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
