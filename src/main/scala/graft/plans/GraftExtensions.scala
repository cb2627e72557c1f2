package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeSet, Expression, LambdaFunction, NamedExpression,
  NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.xml.{XmlFirstChildExpr, XmlMemoParseExpr, XmlPickChildExpr}

/** Session extensions: `SparkSession.builder.withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Every main and the shared test session get them from
  * [[graft.Sessions.local]], so gates, bench and tests plan alike.
  *
  * Registers [[DedupXmlParses]] — the optimizer-level cure for the one
  * plan pathology this engine generates: a bound XML projection references
  * the SAME per-row parse from every member expression, and those
  * references survive as duplicate parses in one Project (Spark's
  * subexpression elimination does not collapse them; Catalyst `With` cannot
  * be built pre-analysis). The per-thread memo in XmlMemoParseExpr already
  * makes duplicates O(1); this rule removes them from the plan entirely.
  *
  * Also registers the optimizer rules [[PushLambdaThroughGetItem]] and
  * [[SummaryRewrite]], the post-hoc resolution rule
  * [[PushLambdaThroughExplode]], and [[AsOfJoinStrategy]], the planner
  * strategy for the first-class as-of join operator ([[AsOfJoinNode]] ->
  * [[AsOfJoinExec]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DedupXmlParses)
    e.injectOptimizerRule(_ => PushLambdaThroughGetItem)
    // no-op unless a summary is registered (SummaryRegistry.isEmpty gate)
    e.injectOptimizerRule(_ => SummaryRewrite)
    // post-hoc resolution (NOT optimizer): the Generate-over-alias shape it
    // matches exists only right after analysis — see the rule's scaladoc
    e.injectPostHocResolutionRule(_ => PushLambdaThroughExplode)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** Evaluate the per-row XML parses and child extractions of a Project once
  * per row, with no row memo: the DSL's bound projection references one
  * row's parse from every member expression, and Spark's subexpression
  * elimination collapses none of them (they sit under `when` branches and
  * inside `transform` lambdas).
  *
  * A site is a memo-wrapped parse ([[XmlMemoParseExpr]], pulled
  * unwrapped) or an [[XmlFirstChildExpr]], whose work is the extraction it
  * shares with every member over the same document and spec (pulled with
  * no memo); each member then reads the pulled array through an
  * [[XmlPickChildExpr]]. Sites with the same
  * work form one group. A group is pulled into a child Project when it is
  * referenced more than once, or inside a lambda body (evaluated once per
  * element there) without reading the lambda variable. A site whose input
  * holds another pulled site waits for the next level, so the Projects
  * stack one per dependency level: a parse of an extracted child's outer
  * XML reads the pulled extraction. A memo-wrapped parse referenced once,
  * outside any lambda, is unwrapped in place.
  *
  * Runs in the operator-optimization fixpoint batch next to
  * CollapseProject; the split is stable because CollapseProject refuses to
  * re-inline a Project with a non-cheap alias referenced more than once —
  * every level pulls at least one such group — and after one application
  * no site is left to pull. */
object DedupXmlParses extends Rule[LogicalPlan] {

  /** The expression a pulled Project evaluates for site `e`, or None. */
  private def work(e: Expression): Option[Expression] = e match {
    case m: XmlMemoParseExpr  => Some(m.child)
    case f: XmlFirstChildExpr => Some(f.extraction)
    case _                    => None
  }

  /** What reads the pulled work `a` in place of site `e`. */
  private def readPulled(e: Expression, a: Attribute): Expression = e match {
    case f: XmlFirstChildExpr =>
      XmlPickChildExpr(a, f.memberName, f.exactNames, f.laterGlobs)
    case _ => a
  }

  private final class Group(val work: Expression) {
    var uses = 0
    var inLambda = false
    def wanted: Boolean = uses > 1 || inLambda
  }

  /** The sites of `list` computable from `avail`, grouped by their work's
    * canonical form. */
  private def groups(list: Seq[Expression],
      avail: AttributeSet): mutable.LinkedHashMap[Expression, Group] = {
    val gs = mutable.LinkedHashMap.empty[Expression, Group]
    def visit(e: Expression, inLambda: Boolean): Unit = {
      work(e).foreach { w =>
        if (e.deterministic && e.references.subsetOf(avail) &&
            !e.exists(_.isInstanceOf[NamedLambdaVariable])) {
          val g = gs.getOrElseUpdate(w.canonicalized, new Group(w))
          g.uses += 1
          g.inLambda ||= inLambda
        }
      }
      e match {
        // the wrapped parse is this site's own work, not a second use
        case m: XmlMemoParseExpr =>
          m.child.children.foreach(visit(_, inLambda))
        case l: LambdaFunction => l.children.foreach(visit(_, inLambda = true))
        case _ => e.children.foreach(visit(_, inLambda))
      }
    }
    list.foreach(visit(_, inLambda = false))
    gs
  }

  private def rewrite(list: Seq[NamedExpression])(
      f: PartialFunction[Expression, Expression]): Seq[NamedExpression] =
    list.map(_.transformDown(f).asInstanceOf[NamedExpression])

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list0, child0) if child0.resolved =>
      var list = list0
      var child = child0
      var more = true
      while (more) {
        val gs = groups(list, child.outputSet)
        val wanted = gs.filter(_._2.wanted)
        val ready = wanted.filter { case (_, g) =>
          !g.work.children.exists(_.exists(e =>
            work(e).exists(w => wanted.contains(w.canonicalized))))
        }
        more = ready.values.exists(_.uses > 1)
        if (more) {
          val pulled = ready.map { case (k, g) =>
            k -> Alias(g.work, "_graft_parse")()
          }
          list = rewrite(list)(Function.unlift(e =>
            work(e).flatMap(w => pulled.get(w.canonicalized))
              .map(a => readPulled(e, a.toAttribute))))
          child = Project(child.output ++ pulled.values, child)
        }
      }
      val once = groups(list, child.outputSet)
        .filter { case (_, g) => g.uses == 1 && !g.inLambda }
      if (once.nonEmpty) list = rewrite(list) {
        case m: XmlMemoParseExpr if once.contains(m.child.canonicalized) =>
          m.child
      }
      if ((child eq child0) && list == list0) p else Project(list, child)
  }
}
