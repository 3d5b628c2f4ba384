package graft.plans

import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Custom Catalyst optimizer rule (reference: presto-main/.../sql/
  * planner/iterative/rule/RewriteAggregationIfToFilter.java — SURVEY §4.1
  * flags this as the one reference rewrite Catalyst lacks):
  *
  *   count(CASE WHEN p THEN 1 END)  →  count(1) FILTER (WHERE p)
  *
  * The CASE form materializes a column the aggregate then null-filters;
  * the FILTER form short-circuits before accumulating. Exactly
  * equivalent for count (count skips NULLs, so the no-ELSE branch
  * contributes nothing). Registered through SparkSessionExtensions —
  * the engine's plug-in point for plan rewrites.
  */
object CountIfRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      agg.transformExpressions {
        case ae @ AggregateExpression(
            Count(Seq(CaseWhen(Seq((pred, Literal(v, _))), elseV))), _, false, None, _)
            if v != null && elseV.forall {
              case Literal(null, _) => true
              case _ => false
            } =>
          ae.copy(
            aggregateFunction = Count(Seq(Literal(1))),
            filter = Some(pred))
      }
  }
}

/** Resolution rule for Presto's array-element concatenation (reference:
  * presto-main/.../operator/scalar/ArrayConcatUtils.java appendElement /
  * prependElement; docs array.rst `ARRAY[1] || 2` / `2 || ARRAY[1]`):
  * Spark parses `||` to [[Concat]], whose type check requires every
  * input to share one type. When a resolved Concat mixes array and
  * non-array inputs, wrap each non-array input as a 1-element array —
  * Spark's own ImplicitTypeCasts then unifies the element types, and
  * plain string/binary concatenation (no array input) is untouched.
  *
  * COUPLING: this rule runs after Spark's ConcatTypeCoercion within each
  * resolution iteration. Under the engine's default ANSI mode that
  * coercion cannot stringify an int next to an array (implicitCast
  * fails), so the mixed shape survives to this rule with its original
  * element type. A session that SETs spark.sql.ansi.enabled=false
  * re-enables legacy stringify-everything coercion, and array||element
  * would unify to array<string> — one more reason the facade keeps ANSI
  * semantics (the reference is ANSI-typed throughout).
  */
object ConcatArrayElement extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Concat, CreateArray, Expression}
  import org.apache.spark.sql.types.ArrayType

  private def isArray(e: Expression): Boolean = e.dataType.isInstanceOf[ArrayType]

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveExpressions {
      case Concat(children)
          if children.nonEmpty && children.forall(_.resolved) &&
            children.exists(isArray) && children.exists(!isArray(_)) =>
        // a BARE NULL operand (the untyped literal spelling, possibly
        // coercion-wrapped by the time this rule fires) resolves the
        // whole call to the all-array overload with a null argument →
        // NULL result (the reference's TestArrayOperators pins
        // concat(ARRAY[], …, NULL, …) = null); a TYPED null — a
        // user-written CAST(NULL AS INTEGER) or a computed null like
        // (1 + NULL) — resolves to the element-append overload there
        // and yields […, NULL], so only a NullType-origin literal
        // (seen through coercion casts, never user casts) folds
        def bareNullOrigin(e: Expression): Boolean = e match {
          case l: org.apache.spark.sql.catalyst.expressions.Literal =>
            l.value == null &&
              l.dataType == org.apache.spark.sql.types.NullType
          case c: org.apache.spark.sql.catalyst.expressions.Cast
              if c.getTagValue(
                org.apache.spark.sql.catalyst.expressions.Cast
                  .USER_SPECIFIED_CAST).isEmpty =>
            bareNullOrigin(c.child)
          case _ => false
        }
        val nullArg = children.exists(e => !isArray(e) && bareNullOrigin(e))
        if (nullArg)
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            null, children.find(isArray).get.dataType)
        else
          Concat(children.map(e => if (isArray(e)) e else CreateArray(Seq(e))))
    }
}

/** Resolves `reduce_agg(x, s0, inputFn, combineFn)` (reference:
  * presto-main/.../operator/aggregation/ReduceAggregationFunction.java)
  * to the native [[org.apache.spark.sql.catalyst.expressions.ReduceAgg]]
  * DeclarativeAggregate. This must be a resolution rule rather than a
  * registry entry: Spark's ResolveFunctions wraps a registry-resolved
  * AggregateFunction into AggregateExpression BEFORE its
  * lambda-arguments check, so any registry-resolved lambda-taking
  * aggregate is structurally rejected (NON_HIGHER_ORDER_FUNCTION).
  * Claiming the UnresolvedFunction here — later in the same resolution
  * batch, before CheckAnalysis's UNRESOLVED_ROUTINE — sidesteps that;
  * ResolveLambdaVariables then binds the lambdas inside the wrapped
  * aggregate as usual.
  */
object ResolveReduceAgg extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{ReduceAgg, ReduceAggCall}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case c: ReduceAggCall =>
      ReduceAgg(c.input, c.zero, c.inputFn, c.combineFn).toAggregateExpression()
  }
}
