package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, IntegerType, MapType}

/** Presto supports `MAP = MAP` / `!=` as first-class operators
  * (presto-main/.../operator/MapGenericEquality.java, pinned throughout
  * TestMapOperators): sizes must match, every left key must exist on the
  * right (a missing key is definitively FALSE), and value comparison is
  * KLEENE — any false pair → FALSE, else any null comparison → NULL,
  * else TRUE. Spark rejects map equality at analysis
  * (INVALID_ORDERING_TYPE), so this rule lowers the comparison to a
  * fold over the key set. Pure widening: every query this rule touches
  * failed analysis before it existed.
  *
  * The fold is a bound higher-order [[ArrayAggregate]] over
  * `map_keys(l)` carrying a tri-state int (1 true / 0 false / −1 null);
  * the Kleene combine keeps 0 dominant over −1 over 1. NULL maps
  * propagate NULL like every comparison operator.
  *
  * Scope: top-level map comparisons. A map nested INSIDE another map's
  * value type still fails analysis (the inner EqualTo this rule emits
  * would need the same lowering recursively at an unresolved type —
  * the reference's own generic equality recurses; not worth the
  * machinery until a query wants it).
  */
object MapEqualityRewrite extends Rule[LogicalPlan] {

  private def kleeneFold(l: Expression, r: Expression): Expression = {
    val keyType = l.dataType.asInstanceOf[MapType].keyType
    val acc = NamedLambdaVariable("acc", IntegerType, nullable = false)
    val k = NamedLambdaVariable("k", keyType, nullable = false)
    val lv = GetMapValue(l, k)
    val rv = GetMapValue(r, k)
    val eq = EqualTo(lv, rv)
    val cmp = If(Not(MapContainsKey(r, k)), Literal(0),
      If(IsNull(eq), Literal(-1), If(eq, Literal(1), Literal(0))))
    val step = If(Or(EqualTo(acc, Literal(0)), EqualTo(cmp, Literal(0))),
      Literal(0),
      If(Or(EqualTo(acc, Literal(-1)), EqualTo(cmp, Literal(-1))),
        Literal(-1), Literal(1)))
    val accOut = NamedLambdaVariable("accOut", IntegerType, nullable = false)
    ArrayAggregate(
      MapKeys(l), Literal(1),
      LambdaFunction(step, Seq(acc, k)),
      LambdaFunction(accOut, Seq(accOut)))
  }

  private def mapEq(l: Expression, r: Expression): Expression = {
    val sizesEq = EqualTo(Size(MapKeys(l)), Size(MapKeys(r)))
    val folded = kleeneFold(l, r)
    If(Or(IsNull(l), IsNull(r)),
      Literal.create(null, BooleanType),
      If(Not(sizesEq), Literal(false),
        If(EqualTo(folded, Literal(0)), Literal(false),
          If(EqualTo(folded, Literal(-1)),
            Literal.create(null, BooleanType), Literal(true)))))
  }

  private def bothMaps(l: Expression, r: Expression): Boolean =
    l.resolved && r.resolved &&
      l.dataType.isInstanceOf[MapType] && r.dataType.isInstanceOf[MapType]

  /** Null-safe (`IS [NOT] DISTINCT FROM`, spelled `<=>` by the parser)
    * map comparison: DISTINCT logic is two-valued — a NULL value is a
    * known value that equals only NULL (MapDistinctFromOperator in the
    * reference's generated operators) — so the fold needs no Kleene
    * third state. */
  private def mapEqNullSafe(l: Expression, r: Expression): Expression = {
    val keyType = l.dataType.asInstanceOf[MapType].keyType
    val acc = NamedLambdaVariable("acc", IntegerType, nullable = false)
    val k = NamedLambdaVariable("k", keyType, nullable = false)
    val cmp = If(
      And(MapContainsKey(r, k),
        EqualNullSafe(GetMapValue(l, k), GetMapValue(r, k))),
      Literal(1), Literal(0))
    val accOut = NamedLambdaVariable("accOut", IntegerType, nullable = false)
    val folded = ArrayAggregate(
      MapKeys(l), Literal(1),
      LambdaFunction(
        If(Or(EqualTo(acc, Literal(0)), EqualTo(cmp, Literal(0))),
          Literal(0), Literal(1)),
        Seq(acc, k)),
      LambdaFunction(accOut, Seq(accOut)))
    If(Or(IsNull(l), IsNull(r)),
      And(IsNull(l), IsNull(r)),
      And(EqualTo(Size(MapKeys(l)), Size(MapKeys(r))),
        EqualTo(folded, Literal(1))))
  }

  private def isNullTyped(e: Expression): Boolean =
    e.resolved && e.dataType == org.apache.spark.sql.types.NullType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveExpressionsWithPruning(_.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.BINARY_COMPARISON)) {
      case EqualTo(l, r) if bothMaps(l, r) => mapEq(l, r)
      case EqualNullSafe(l, r) if bothMaps(l, r) => mapEqNullSafe(l, r)
      // map <=> NULL (untyped): true iff the map side is NULL
      case EqualNullSafe(l, r)
          if l.resolved && l.dataType.isInstanceOf[MapType] && isNullTyped(r) =>
        IsNull(l)
      case EqualNullSafe(l, r)
          if r.resolved && r.dataType.isInstanceOf[MapType] && isNullTyped(l) =>
        IsNull(r)
    }
}

/** Presto float division is IEEE-754 (DoubleOperators.java /
  * RealOperators.java divide — plain Java `/`; zero denominators give
  * ±Infinity/NaN, pinned all over TestMathFunctions via
  * `is_infinite(1.0E0 / 0.0E0)`), while Spark's ANSI mode raises
  * DIVIDE_BY_ZERO for EVERY numeric type. This rule lowers float-typed
  * division to [[graft.functions.IeeeDivide]]; integral and decimal
  * division keep ANSI's raising behavior, which IS the reference's
  * (BigintOperators.java:114 DIVISION_BY_ZERO). REAL/REAL narrows back
  * to float like the reference's REAL-typed divide. */
object DoubleDivisionRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.{DoubleType, FloatType}

  /** True when the expression is float-typed BEFORE any coercion casts:
    * Spark's `/` coerces INTEGER operands to double (1/0 arrives here as
    * Divide(cast(1), cast(0)) with a double result), but the reference
    * types that as INTEGER division, whose by-zero contract is the ANSI
    * RAISE — only genuinely float-rooted division may go IEEE. */
  private def floatRooted(e: Expression): Boolean = e match {
    // descend through COERCION casts only: a user-written CAST (tagged
    // USER_SPECIFIED_CAST by the parser) fixes the operand's type, so
    // CAST(i AS DOUBLE) / j IS float-rooted — mirrors
    // IntegerDivisionRewrite.rootType's convention
    case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
      floatRooted(c.child)
    case _ => e.dataType == DoubleType || e.dataType == FloatType
  }

  /** Top-down rewrite that REFUSES to descend into try-guarded subtrees:
    * Spark's try_divide resolves to TryEval(Divide(…, ANSI)) under ANSI
    * mode, and an IEEE divide inside would return Infinity where the
    * TRY contract promises NULL-on-zero. EvalMode.TRY divides (the
    * non-ANSI try_divide lowering) are skipped by the mode guard. */
  private def rw(e: Expression): Expression = e match {
    case t: TryEval => t
    // never rewrite inside a RuntimeReplaceable's lowering (try_divide,
    // try_multiply, …): those subtrees implement a Spark API contract
    // (NULL-on-error), not user-written division
    case rr: RuntimeReplaceable => rr
    case d @ Divide(l, r, ctx)
        if ctx.evalMode != EvalMode.TRY && d.resolved &&
          d.dataType == DoubleType && (floatRooted(l) || floatRooted(r)) =>
      graft.functions.IeeeDivide(rw(l), rw(r))
    case d @ Divide(l, r, ctx)
        if ctx.evalMode != EvalMode.TRY && d.resolved && d.dataType == FloatType =>
      Cast(graft.functions.IeeeDivide(
        Cast(rw(l), DoubleType), Cast(rw(r), DoubleType)), FloatType)
    case other => other.mapChildren(rw)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    // prune on the BINARY_ARITHMETIC pattern: plans with no arithmetic
    // skip the manual traversal entirely (this rule runs every analyzer
    // iteration of every query)
    plan.resolveOperatorsUpWithPruning(_.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.BINARY_ARITHMETIC)) {
      case p => p.mapExpressions(rw)
    }
}

/** Presto `/` between INTEGRAL operands is INTEGER division — 5/2 = 2,
  * typed as the operands' common type, raising DIVISION_BY_ZERO on a
  * zero divisor (BigintOperators.java:108-118, IntegerOperators.java
  * divide) — while Spark's `/` always coerces to DOUBLE (5/2 = 2.5).
  * This is the facade's largest silent arithmetic divergence, so
  * int-rooted division is lowered to [[IntegralDivide]] cast back to
  * the operands' widest type.
  *
  * SCOPE: only plans analyzed under [[graft.Engine.sql]] (the
  * Presto-dialect entry), marked by its thread-local — analysis is
  * EAGER inside `spark.sql`, so the flag is live exactly while the
  * facade's plan resolves. DataFrame programs and plain `spark.sql`
  * keep Spark's float division: the corpus' own DataFrame code (and
  * any Spark-native caller) depends on it. The TRY guard mirrors
  * [[DoubleDivisionRewrite]]'s.
  */
object IntegerDivisionRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

  private val integral = Seq[org.apache.spark.sql.types.DataType](
    ByteType, ShortType, IntegerType, LongType)

  /** The operand's type as the USER wrote it: descend through
    * coercion-inserted casts only — a user-written CAST (the parser tags
    * those USER_SPECIFIED_CAST) fixes the operand's type, so
    * `CAST(5 AS DOUBLE) / 2` stays double division while the bare
    * `5 / 2`'s coercion cast is seen through. */
  private def rootType(e: Expression): org.apache.spark.sql.types.DataType =
    e match {
      case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
        rootType(c.child)
      case _ => e.dataType
    }

  private def rw(e: Expression): Expression = e match {
    case t: TryEval => t
    case rr: RuntimeReplaceable => rr
    case d @ Divide(l, r, ctx)
        if ctx.evalMode != EvalMode.TRY && d.resolved && d.dataType == DoubleType &&
          integral.contains(rootType(l)) && integral.contains(rootType(r)) =>
      val lt = rootType(l); val rt = rootType(r)
      val wide = if (integral.indexOf(lt) >= integral.indexOf(rt)) lt else rt
      Cast(IntegralDivide(rw(stripDoubleCast(l)), rw(stripDoubleCast(r))), wide)
    case other => other.mapChildren(rw)
  }

  /** Unwrap ONLY the coercion cast to double that Divide's type rules
    * inserted; any user-written cast stays. */
  private def stripDoubleCast(e: Expression): Expression = e match {
    case c: Cast if c.dataType == DoubleType &&
        c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty => c.child
    case _ => e
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!graft.Engine.prestoDialectActive) plan
    else plan.resolveOperatorsUpWithPruning(_.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.BINARY_ARITHMETIC)) {
      case p => p.mapExpressions(rw)
    }
}

/** Presto CAST(float|decimal AS integral) ROUNDS half-up-away-from-zero
  * (DoubleOperators.java:199-243 — `MathFunctions.round(value)` /
  * `DoubleMath.roundToLong(value, HALF_UP)`; TestDoubleOperators pins
  * cast(37.7E0 as bigint) = 38 and cast(-37.7E0 as bigint) = -38;
  * DecimalCasts.java:217-223 shortDecimalToBigint adds tenToScale/2
  * before the division — the same rounding for decimal sources),
  * while Spark's cast truncates toward zero. Spark's own `round(x)` is
  * the same HALF_UP-away-from-zero (for decimals too), so the lowering
  * is Cast(Round(x, 0), target) — the outer ANSI cast's range check
  * then raises out-of-range exactly like the reference's checkedCast.
  * Scoped to [[graft.Engine.sql]] like integer division: DataFrame
  * `.cast` keeps Spark's truncation. */
object FloatCastRoundingRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}

  private val integral = Seq[org.apache.spark.sql.types.DataType](
    ByteType, ShortType, IntegerType, LongType)

  private def rounds(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case DoubleType | FloatType => true
      // a scale-0 decimal is already integral — rewriting it would
      // churn the plan for nothing
      case d: DecimalType => d.scale > 0
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!graft.Engine.prestoDialectActive) plan
    else plan.resolveExpressionsWithPruning(_.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.CAST)) {
      // the Round guard is the fixpoint terminator: the rewrite's own
      // output is Cast(Round(..)) and must not re-fire (and a
      // user-written round(x) inside the cast is already the semantics)
      case c: Cast
          if c.child.resolved && integral.contains(c.dataType) &&
            rounds(c.child.dataType) && !c.child.isInstanceOf[Round] =>
        // copy, not rebuild: the original cast's evalMode must survive —
        // a TRY_CAST (EvalMode.TRY) has the reference's TryCastFunction
        // null-on-error contract, and rebuilding as Cast(...) would
        // default to ANSI and raise on overflow/NaN instead
        //
        // decimal sources keep their type under Round (Spark's decimal
        // round is HALF_UP); float sources go through double as before
        if (c.child.dataType.isInstanceOf[DecimalType])
          c.copy(child = Round(c.child, Literal(0)))
        else
          c.copy(child = Round(Cast(c.child, DoubleType), Literal(0)))
    }
}
