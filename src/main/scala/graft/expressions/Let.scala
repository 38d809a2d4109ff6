package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Rewrite the engine's let-binding idiom so bound kernel bodies keep
  * whole-stage codegen (guide §4 / task rule 4).
  *
  * `Vectors.bound` pins a value that is referenced more than once as
  * `element_at(transform(array(value), body), 1)` — the one
  * PRE-ANALYSIS construct that can carry a let (Catalyst inlines
  * projected subexpressions into every use site, and a `With` cannot
  * be built before resolution because `CommonExpressionRef` snapshots
  * the definition's dataType). The cost was that `ArrayTransform` is
  * CodegenFallback: every bound body — shingle construction, signature
  * folds, band keys, vector normalization — ran INTERPRETED inside
  * otherwise-codegen stages (round-22 PlanAudit inventory).
  *
  * This rule runs in the operator-optimization batch, when everything
  * is resolved, and performs the hoist DIRECTLY: the bound value
  * becomes an `Alias` in a projection inserted below the consuming
  * operator, and the lambda variable becomes that attribute — single
  * evaluation, attribute references legal anywhere (including inside
  * other HOF lambdas), full codegen. (Catalyst's own
  * `With`/RewriteWithExpression machinery was tried first and declines
  * exactly the hot cases: refs inside lambda bodies and Generate
  * operators survive to execution as Unevaluable — measured, round
  * 22.) CollapseProject cannot undo the hoist: the alias is non-cheap
  * and referenced more than once.
  *
  * Deliberately left on the interpreted path (status quo, correct):
  *  - patterns inside another HOF's lambda body (the hoisted value
  *    cannot capture the enclosing lambda's variable; when the outer
  *    pattern is itself a bound, the outer hoist frees the inner one
  *    for a later fixed-point pass);
  *  - patterns under a conditional branch (CaseWhen/If/Coalesce):
  *    hoisting would evaluate the value on rows the branch never
  *    touched — an ANSI-mode throw could surface where it previously
  *    could not;
  *  - values containing aggregates, lambda variables, or
  *    non-deterministic expressions;
  *  - operators other than Project and Generate (Filter hoists would
  *    fight predicate pushdown through the helper projection — a
  *    non-converging optimizer loop).
  */
object RewriteBoundLambda extends Rule[LogicalPlan] {

  private def eligible(value: Expression): Boolean =
    value.deterministic && !value.exists(x =>
      x.isInstanceOf[NamedLambdaVariable] ||
        x.isInstanceOf[AggregateExpression] ||
        x.isInstanceOf[WindowExpression])

  /** Per-operator extraction pass: collects one Alias per hoisted
    * value, in dependency order (an alias may reference attributes of
    * earlier aliases — the projections below are layered accordingly).
    */
  private final class Extractor {
    val hoisted = ArrayBuffer.empty[Alias]

    def rewrite(e: Expression, underCond: Boolean): Expression =
      e match {
        // never rewrite INSIDE a lambda body: the hoisted value would
        // escape the enclosing lambda's variable scope
        case lf: LambdaFunction => lf
        case ElementAt(
              ArrayTransform(CreateArray(Seq(value), _),
                LambdaFunction(fbody, Seq(lv: NamedLambdaVariable), _)),
              Literal(1, IntegerType), _, _)
            if !underCond && eligible(value) =>
          val v2 = rewrite(value, underCond = false)
          val a = Alias(v2, s"__graft_let_${hoisted.size}")()
          hoisted += a
          val body = fbody.transformUp {
            case nv: NamedLambdaVariable if nv.exprId == lv.exprId =>
              a.toAttribute
          }
          rewrite(body, underCond)
        // conditional branches: evaluating a hoisted value on rows the
        // branch never touched could surface ANSI throws — skip below
        case cw: CaseWhen => cw.mapChildren(rewrite(_, underCond = true))
        case iff: If => iff.mapChildren(rewrite(_, underCond = true))
        case co: Coalesce => co.mapChildren(rewrite(_, underCond = true))
        case other => other.mapChildren(rewrite(_, underCond))
      }

    /** One helper projection per hoisted alias, layered so later
      * aliases can reference earlier ones; CollapseProject merges the
      * safe layers afterwards.
      */
    def wrap(child: LogicalPlan): LogicalPlan =
      hoisted.foldLeft(child)((c, a) =>
        Project(c.output :+ a, c))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p: Project =>
      val ex = new Extractor
      val list = p.projectList.map(ex.rewrite(_, underCond = false)
        .asInstanceOf[NamedExpression])
      if (ex.hoisted.isEmpty) p else Project(list, ex.wrap(p.child))
    case g: Generate =>
      val ex = new Extractor
      val gen = ex.rewrite(g.generator, underCond = false)
      if (ex.hoisted.isEmpty) g
      else {
        // the helper attributes are consumed by the generator only:
        // mark them unrequired so Generate's output is unchanged
        val base = g.child.output.size
        g.copy(generator = gen.asInstanceOf[Generator],
          unrequiredChildIndex = g.unrequiredChildIndex ++
            (base until base + ex.hoisted.size),
          child = ex.wrap(g.child))
      }
  }
}
