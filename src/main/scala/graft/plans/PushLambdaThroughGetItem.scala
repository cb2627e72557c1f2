package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayTransform,
  AttributeReference, CaseWhen, CommonExpressionDef, CommonExpressionRef,
  CreateNamedStruct, Expression, GetArrayItem,
  GetStructField, GreaterThan, If, LambdaFunction, Literal,
  NamedExpression, NamedLambdaVariable, Size, With}
import org.apache.spark.sql.catalyst.optimizer.RewriteWithExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Rewrite `transform(arr, λ)[i]` (literal i >= 0, null-safe
  * `GetArrayItem`) into `if (i < size(arr)) λ(arr[i]) else null`.
  *
  * The companion of [[PushLambdaThroughExplode]] for the SINGLE-element
  * access shape (the XML DSL's "project element 0 of a parsed array" —
  * the x3/x4 gates): ArrayTransform is CodegenFallback, so the λ body
  * runs interpreted per element AND the transform materializes the whole
  * mapped array just to read one slot. After the rewrite the λ body is an
  * ordinary expression over `arr[i]` — whole-stage-codegen'd, and only
  * the one accessed element is ever computed. The body reads `arr[i]` at
  * every use of the lambda variable, so `arr` is bound once in a Catalyst
  * `With`, which the rule rewrites into a Project below itself: Spark's
  * own "Rewrite With expression" batch runs before this one.
  *
  * Two auxiliary pushes make the pattern reachable at all: the DSL wraps
  * its parse result in `CASE WHEN input IS NOT NULL THEN struct(...) END`,
  * which blocks the builtin `SimplifyExtractValueOps` (it only looks
  * through bare struct/array constructors). So this rule also pushes
  * `GetStructField` through single-branch CaseWhen/If whose value will
  * then simplify (struct ctor, nested guard, or null). Because
  * `injectOptimizerRule` adds to the fixed-point operator-optimization
  * batch, each push is finished by the builtin extract-simplifier on the
  * next iteration — no re-implementation of it here.
  *
  * Semantics are identical to the null-safe GetArrayItem: null array ->
  * null (size(null) is null, so the If condition fails), index out of
  * bounds -> null, null element -> λ(null) (exactly what transform would
  * have produced in that slot). Skipped for multi-arg lambdas,
  * non-deterministic bodies, and the ANSI fail-on-error GetArrayItem. */
object PushLambdaThroughGetItem extends Rule[LogicalPlan] {

  /** Null-guard hoisting (recursive): `guard(transform(a, f)) =
    * transform(guard(a), f)` since transform(null) = null. */
  private def hoisted(e: Expression): Expression = e match {
    case CaseWhen(Seq((c, t)), None) =>
      hoisted(t) match {
        case at: ArrayTransform =>
          at.copy(argument = CaseWhen(Seq((c, at.argument)), None))
        case _ => e
      }
    case CaseWhen(Seq((c, t)), Some(Literal(null, _))) =>
      hoisted(t) match {
        case at: ArrayTransform =>
          at.copy(argument = CaseWhen(Seq((c, at.argument)), None))
        case _ => e
      }
    case If(c, t, Literal(null, _)) =>
      hoisted(t) match {
        case at: ArrayTransform =>
          at.copy(argument =
            If(c, at.argument, Literal(null, at.argument.dataType)))
        case _ => e
      }
    case other => other
  }

  /** Will `GetStructField` over this value simplify after a push? */
  private def extractable(v: Expression): Boolean = v match {
    case _: CreateNamedStruct => true
    case Literal(null, _) => true
    case CaseWhen(bs, el) =>
      bs.forall(b => extractable(b._2)) && el.forall(extractable)
    case If(_, t, f) => extractable(t) && extractable(f)
    case _ => false
  }

  private def pushField(g: GetStructField, v: Expression): Expression =
    v match {
      case Literal(null, _) => Literal(null, g.dataType)
      case other => g.copy(child = other)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Phase 1 — cross the Project boundary CollapseProject refuses: when a
    // child Project aliases a (guarded) struct constructor and the parent
    // only reads FIELDS of it, inline the constructor into those
    // GetStructField sites. Each inlined copy immediately collapses to one
    // field's expression (phase 2 + the builtin extract simplifier), so no
    // transform body is duplicated.
    val pushed = plan.transformUp {
      case p @ Project(upper, pc @ Project(lower, _)) =>
        val structAliases = lower.collect {
          case a: Alias if a.child.deterministic && extractable(a.child) &&
              a.child.exists(_.isInstanceOf[CreateNamedStruct]) =>
            a.exprId -> a.child
        }.toMap
        if (structAliases.isEmpty) p
        else {
          var used = Set.empty[Long]
          val newUpper = upper.map(_.transformDown {
            case g @ GetStructField(ar: AttributeReference, _, _)
                if structAliases.contains(ar.exprId) =>
              used += ar.exprId.id
              g.copy(child = structAliases(ar.exprId))
          }.asInstanceOf[NamedExpression])
          if (used.isEmpty) p
          else {
            // the inlined constructors reference pc.CHILD's attributes —
            // pass them through pc so every intermediate plan stays valid
            // (ColumnPruning drops the extras once the alias goes dead)
            val have = pc.outputSet
            val need = structAliases.filter(kv => used(kv._1.id)).values
              .flatMap(_.references).filterNot(have.contains)
              .toSeq.distinct
            Project(newUpper, Project(lower ++ need, pc.child))
          }
        }
    }
    // Phase 2 — expression rewrites. Phase 1 gives each field read its own
    // copy of the access, so equal arrays share one def: the rewrite binds
    // a def once per plan node.
    val defs = mutable.HashMap.empty[Expression, CommonExpressionDef]
    RewriteWithExpression(pushed.transformAllExpressions {
      // CASE WHEN c THEN struct(...) END .field
      //   -> CASE WHEN c THEN struct(...).field END
      case g @ GetStructField(cw: CaseWhen, _, _)
          if cw.branches.nonEmpty && extractable(cw) =>
        CaseWhen(cw.branches.map { case (c, v) => (c, pushField(g, v)) },
          cw.elseValue.map(v => pushField(g, v)))
      case g @ GetStructField(iff: If, _, _) if extractable(iff) =>
        If(iff.predicate, pushField(g, iff.trueValue),
          pushField(g, iff.falseValue))
      // transform(arr, λ)[i] -> if (i < size(arr)) λ(arr[i]) else null
      case g @ GetArrayItem(tr, idx @ Literal(i: Int, IntegerType), false)
          if i >= 0 =>
        hoisted(tr) match {
          case ArrayTransform(arr,
              LambdaFunction(body, Seq(v: NamedLambdaVariable), _))
              if body.deterministic =>
            def read(a: Expression): Expression = {
              val item = GetArrayItem(a, idx, failOnError = false)
              If(GreaterThan(Size(a, legacySizeOfNull = false), idx),
                body.transform {
                  case nv: NamedLambdaVariable if nv.exprId == v.exprId =>
                    item
                }, Literal(null, g.dataType))
            }
            // an `arr` over an enclosing lambda's variable cannot move to
            // a Project below
            if (arr.exists(_.isInstanceOf[NamedLambdaVariable])) read(arr)
            else {
              val d = defs.getOrElseUpdate(arr.canonicalized,
                CommonExpressionDef(arr))
              With(read(new CommonExpressionRef(d)), Seq(d))
            }
          case _ => g
        }
    })
  }
}
