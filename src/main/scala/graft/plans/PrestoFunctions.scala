package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, CollectList, Count, Kurtosis, Skewness}
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, IntegerType, LongType, NullType, ShortType, StringType, TimestampType}

/** Presto functions Spark lacks, injected as NATIVE Catalyst expression
  * builders (stay inside whole-stage codegen — no UDF boundary):
  *
  *   - `try(expr)` — Presto's TRY special form (reference: presto-main/
  *     .../sql/relational/Expressions.java TRY; SqlBase.g4 primaryExpression)
  *     → Catalyst [[TryEval]], the same null-on-error wrapper Spark's own
  *     try_add/try_divide use.
  *   - `bitwise_and/or/xor/not`, shifts (reference: presto-main/.../
  *     operator/scalar/BitwiseFunctions.java — all BIGINT-typed) → the
  *     corresponding Catalyst bit expressions over BIGINT casts.
  *   - `truncate(x[, n])` (reference: operator/scalar/MathFunctions.java:
  *     1193-1257 — round toward zero, optionally keeping n decimal digits)
  *     → sign(x) * floor(|x| * 10^n) / 10^n.
  *   - `presto_log(number, base)` (reference: MathFunctions.java:187 —
  *     Presto's log takes the NUMBER first; Spark's log takes the base
  *     first) → [[Logarithm]] with swapped args; [[Dialect]] rewrites
  *     `log(` to `presto_log(`.
  */
object PrestoFunctions {
  import FunctionEntry.native
  import GraftExtensions.call

  private def long(e: Expression): Expression = Cast(e, LongType)

  /** Legacy 3-arg shift word-size handling (BitwiseFunctions.java):
    * bits = 64 → the plain shift; bits outside [2, 64] raises; otherwise
    * the caller-provided masked form with mask = 2^bits − 1. */
  private def maskedShift(
      bits: Expression,
      whenFull: Expression,
      masked: Expression => Expression): Expression = {
    val b = Cast(bits, LongType)
    val mask = Subtract(
      ShiftLeft(Literal(1L), Cast(b, IntegerType)), Literal(1L))
    If(EqualTo(b, Literal(64L)), whenFull,
      If(Or(LessThanOrEqual(b, Literal(1L)), GreaterThan(b, Literal(64L))),
        Cast(RaiseError(Literal("Bits specified must be between 2 and 64")), LongType),
        masked(mask)))
  }
  private def dbl(e: Expression): Expression = {
    // tag as user-specified: builder-made typed casts are DELIBERATE
    // (the function's signature), and IntegerDivisionRewrite must not
    // see through them the way it sees through coercion casts — a
    // Divide(dbl(int), dbl(int)) inside e.g. wilsonInterval is double
    // division by construction
    val c = Cast(e, DoubleType)
    c.setTagValue(Cast.USER_SPECIFIED_CAST, ())
    c
  }

  /** 1..n index sequence that is EMPTY for n < 1 — a bare
    * Sequence(1, 0) descends to [1, 0] and its 0 probe then raises
    * INVALID_INDEX_OF_ZERO inside any element lookup. */
  private def safeIndexSeq(n: Expression): Expression =
    If(LessThan(n, Literal(1)),
      Literal.create(Array.empty[Int],
        org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)),
      Sequence(Literal(1), n, None))

  /** Position (1-based, BIGINT) of the n-th occurrence of `sub` in `s`
    * (n counts from the end when fromEnd) — 0 when there is no such
    * occurrence, error on a non-positive n, and the reference's
    * empty-substring contract (strpos(s, '') = 1). Overlapping
    * occurrences count, like the reference's indexOf loop. */
  private def nthPosition(
      s: Expression, sub: Expression, n: Expression,
      fromEnd: Boolean): Expression = {
    val inst = Cast(n, IntegerType)
    val x = NamedLambdaVariable("i", IntegerType, nullable = false)
    val positions = ArrayFilter(
      safeIndexSeq(Length(s)),
      LambdaFunction(
        EqualTo(Substring(s, x, Length(sub)), sub), Seq(x)))
    val ordered = if (fromEnd) Reverse(positions) else positions
    val nth = Coalesce(Seq(
      If(EqualTo(Size(ordered), Literal(0)), Literal(0),
        ElementAt(ordered, inst, None, failOnError = false)),
      Literal(0)))
    Cast(
      If(Or(Or(IsNull(s), IsNull(sub)), IsNull(n)),
        Literal.create(null, IntegerType),
        If(LessThanOrEqual(inst, Literal(0)),
          Cast(RaiseError(Literal(
            "'instance' must be a positive or negative number.")), IntegerType),
          If(EqualTo(Length(sub), Literal(0)), Literal(1), nth))),
      LongType)
  }

  /** Unify decimal element types of two arrays (the reference's
    * decimal coercion; Spark's binary array functions demand identical
    * element types and reject e.g. array<decimal(3,1)> vs
    * array<decimal(3,2)>). Non-decimal pairs pass through. */
  private def widenArrays(
      a: Expression, b: Expression): (Expression, Expression) = {
    import org.apache.spark.sql.types.{ArrayType, DecimalType}
    (a.dataType, b.dataType) match {
      case (ArrayType(x: DecimalType, n1), ArrayType(y: DecimalType, n2))
          if x != y =>
        val s = math.max(x.scale, y.scale)
        val p = math.min(
          math.max(x.precision - x.scale, y.precision - y.scale) + s, 38)
        val t = ArrayType(DecimalType(p, s), n1 || n2)
        (Cast(a, t), Cast(b, t))
      case _ => (a, b)
    }
  }

  /** Same unification between an array and a probe element. */
  private def widenElem(
      arr: Expression, el: Expression): (Expression, Expression) = {
    import org.apache.spark.sql.types.{ArrayType, DecimalType}
    (arr.dataType, el.dataType) match {
      case (ArrayType(x: DecimalType, n), y: DecimalType) if x != y =>
        val s = math.max(x.scale, y.scale)
        val p = math.min(
          math.max(x.precision - x.scale, y.precision - y.scale) + s, 38)
        val t = DecimalType(p, s)
        (Cast(arr, ArrayType(t, n)), Cast(el, t))
      case (ArrayType(x: DecimalType, n), y)
          if Seq(ByteType, ShortType, IntegerType, LongType).contains(y) =>
        val t = DecimalType(
          math.min(math.max(x.precision - x.scale, 20) + x.scale, 38), x.scale)
        (Cast(arr, ArrayType(t, n)), Cast(el, t))
      case _ => (arr, el)
    }
  }

  /** Input-type bit width for the reference's per-type shift overloads
    * (BitwiseFunctions.java): TINYINT/SMALLINT/INTEGER wrap to 8/16/32
    * bits; everything else (BIGINT and untyped literals) is 64. Builders
    * run during function resolution, so argument types are resolved. */
  private def bitWidthOf(e: Expression): Int =
    (if (e.resolved) e.dataType else LongType) match {
      case ByteType => 8
      case ShortType => 16
      case IntegerType => 32
      case _ => 64
    }

  /** preserveSign (BitwiseFunctions.java): wrap a shifted value back into
    * the w-bit signed range in 2's complement. */
  private def preserveSign(x: Expression, w: Int): Expression = {
    val mask = Literal((1L << w) - 1)
    val signBit = Literal(1L << (w - 1))
    val wrapped = If(
      Not(EqualTo(BitwiseAnd(x, signBit), Literal(0L))),
      BitwiseOr(x, BitwiseNot(mask)),
      BitwiseAnd(x, mask))
    wrapped
  }

  private def parseUrl(url: Expression, part: String): Expression =
    new ParseUrl(Seq(url, Literal(part)), false)


  /** True when the expression can only be a percentile argument: a
    * foldable FRACTIONAL scalar in [0,1] or a foldable percentage array.
    * A weight is a per-row column (non-foldable) or an INTEGER-typed
    * count — Presto weights are bigints ≥ 1, so the literal 1 (integral,
    * numerically inside [0,1]) is still a weight, never a percentile. */
  private def isPercentageShape(e: Expression): Boolean =
    e.foldable && !isIntegralTyped(e) && (try {
      e.eval() match {
        case null => false
        case d: java.lang.Number => val v = d.doubleValue; v >= 0.0 && v <= 1.0
        case d: org.apache.spark.sql.types.Decimal =>
          val v = d.toDouble; v >= 0.0 && v <= 1.0
        case _: org.apache.spark.sql.catalyst.util.ArrayData => true
        case _ => false
      }
    } catch {
      // Only the benign "constant-folded later" case falls through to the
      // weight interpretation; a genuinely broken argument should fail
      // analysis loudly rather than be silently reinterpreted.
      case _: UnsupportedOperationException => false
    })

  private def isIntegralTyped(e: Expression): Boolean =
    e.resolved && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  private def numericValueOf(e: Expression): Option[Double] =
    if (!e.foldable) None
    else try {
      e.eval() match {
        case n: java.lang.Number => Some(n.doubleValue)
        case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
        case _ => None
      }
    } catch { case _: UnsupportedOperationException => None }

  /** Presto's accuracy argument is a fractional epsilon in (0,1); Spark's
    * ApproximatePercentile accuracy is an integral ~1/epsilon. Convert
    * foldable fractional epsilons; integral accuracies pass through. */
  private def sparkAccuracy(acc: Expression): Expression =
    numericValueOf(acc) match {
      case Some(v) if v > 0.0 && v < 1.0 => Literal(math.ceil(1.0 / v).toInt)
      case _ => acc
    }

  /** secure_random overload dispatch — see the secure_random entry. */
  private def secureRandomBuilder(a: Seq[Expression]): Expression = a match {
    case Seq() => call("graft_secure_random0")
    case Seq(lo, hi) if isIntegralTyped(lo) && isIntegralTyped(hi) =>
      Cast(call("graft_secure_random_long", long(lo), long(hi)), lo.dataType)
    case Seq(lo, hi) => call("graft_secure_random_double", dbl(lo), dbl(hi))
    case args => throw new IllegalArgumentException(
      s"secure_random expects 0 or 2 arguments, got ${args.length}")
  }

  /** The catalog's weighted t-digest aggregate (a udaf() ScalaAggregator,
    * not a constructible Catalyst class). A weight that folds to 1
    * degenerates to the unweighted builtin (better accuracy, same
    * semantics). The digest interpolates in double space, so an
    * integral-typed x is rounded back to its input type like the
    * reference's bigint-in/bigint-out overload. A percentile ARRAY rides
    * the digest-builder + td_values_at_quantiles composition — ONE
    * weighted digest queried per percentile, the reference's plan shape
    * (ApproximateWeightedPercentileAggregations array overload). */
  private def weightedPercentile(
      x: Expression, w: Expression, p: Expression): Expression =
    if (numericValueOf(w).contains(1.0)) new ApproximatePercentile(x, p)
    else if (p.resolved && p.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) {
      val digest = call("tdigest_agg_weighted",
        Cast(x, DoubleType), Cast(w, DoubleType)) match {
        case af: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
          af.toAggregateExpression()
        case other => other
      }
      val vals = call("td_values_at_quantiles",
        digest, Cast(p, org.apache.spark.sql.types.ArrayType(DoubleType)))
      if (!isIntegralTyped(x)) vals
      else {
        val v = NamedLambdaVariable("v", DoubleType, nullable = true)
        ArrayTransform(vals,
          LambdaFunction(Cast(new Round(v, Literal(0)), x.dataType), Seq(v)))
      }
    } else {
      // the aggregator is typed over doubles; the reference accepts
      // bigint x and weights, so coerce here rather than in callers
      val fn = call("approx_percentile_weighted",
        Cast(x, DoubleType), Cast(w, DoubleType), Cast(p, DoubleType))
      if (!isIntegralTyped(x)) fn
      else {
        // nesting under Round hides the bare AggregateFunction from the
        // analyzer's auto-wrapping, so wrap it here explicitly
        val agg = fn match {
          case af: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
            af.toAggregateExpression()
          case other => other
        }
        Cast(new Round(agg, Literal(0)), x.dataType)
      }
    }

  /** Wilson score interval bound (reference: operator/scalar/
    * WilsonInterval.java wilsonInterval — same formula, bound = ±1). */
  private def wilsonInterval(
      successes: Expression, trials: Expression, z: Expression,
      bound: Int): Expression = {
    val n = dbl(trials)
    val p = Divide(dbl(successes), n)
    val zz = Multiply(dbl(z), dbl(z))
    val center = Add(p, Divide(zz, Multiply(Literal(2.0), n)))
    val spread = Sqrt(Add(
      Divide(Multiply(p, Subtract(Literal(1.0), p)), n),
      Divide(zz, Multiply(Literal(4.0), Multiply(n, n)))))
    val off = Multiply(Multiply(Literal(bound.toDouble), dbl(z)), spread)
    Divide(Add(center, off), Add(Literal(1.0), Divide(zz, n)))
  }

  /** Truncation toward zero: sign(x) * floor(|x|) for the 1-arg form;
    * the 2-arg precision form is the reference's BigDecimal rescale
    * (functions/TruncatePrecision.scala — the old pow(10, n) algebra
    * over/underflowed at large |n|). */
  private def truncateExpr(x: Expression, n: Option[Expression]): Expression =
    n match {
      case None =>
        Multiply(Signum(dbl(x)), Cast(Floor(Abs(dbl(x))), DoubleType))
      case Some(nn) =>
        graft.functions.TruncatePrecision(dbl(x), Cast(nn, LongType))
    }

  val functions: Seq[FunctionEntry] = Seq(
    native("try", 1) { args => TryEval(args.head) },
    // facade-internal: length-carrying varchar cast (the Dialect emits
    // graft_varchar_n(e, n, isTry) for CAST(e AS VARCHAR(n)) since
    // Spark erases the length; VarcharLengthCastRewrite lowers it)
    native("graft_varchar_n", 3) { a =>
      def lit(e: Expression): Any = e match {
        case Literal(v, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_varchar_n expects literal n/try flags, got $other")
      }
      VarcharNMarker(a(0), lit(a(1)).toString.toInt,
        lit(a(2)).toString.toBoolean)
    },
    // facade-internal: CAST(json AS <scalar>) token coercions (Dialect
    // emits graft_json_scalar(text, 'kind'); functions/JsonScalarValue)
    native("graft_json_scalar", 2) {
      case Seq(e, Literal(kind, StringType)) =>
        graft.functions.JsonScalarValue(e, kind.toString)
      case other => throw new IllegalArgumentException(
        s"graft_json_scalar expects (expr, literal kind), got $other")
    },
    // facade-internal: UUID literal/cast canonicalizer (Dialect emits
    // graft_uuid(expr) for UUID 'x' and CAST(x AS UUID))
    native("graft_uuid", 1) { a => graft.functions.UuidCanon(a.head) },
    // facade-internal: IPADDRESS/IPPREFIX literal + cast canonicalizers
    // (Dialect emits these for IPADDRESS 'x' / IPPREFIX 'x' and the
    // CAST family; functions/IpCanon)
    native("graft_ipaddress", 1) { a => graft.functions.IpAddressCanon(a.head) },
    native("graft_ipprefix", 1) { a => graft.functions.IpPrefixCanon(a.head) },
    // array_except(NULL, …) returns NULL (reference: scalar/
    // ArrayExceptFunction is @SqlNullable on both args); Spark's builtin
    // rejects an untyped NULL literal at type check, so pin it to the
    // least array type and let coercion reconcile elements
    native("array_except", 2) { a =>
      def arr(e: Expression): Expression = e match {
        case Literal(null, NullType) =>
          Literal.create(null, org.apache.spark.sql.types.ArrayType(NullType))
        case other => other
      }
      ArrayExcept(arr(a(0)), arr(a(1)))
    },
    // reduce(array, s0, merge, finish): the reference coerces an
    // integer-literal initial state to the state type the merge lambda
    // needs (TestArrayReduceFunction: reduce(ARRAY[bigint…], 0,
    // (s, x) -> s + coalesce(x, 0), s -> s) runs at bigint); Spark's
    // ArrayAggregate pins the state to the zero's own type and rejects
    // the mix, so widen a narrower integral literal to the element type
    // when the array is a resolved literal
    native("reduce", 4) {
      case Seq(arrE, zero, merge, finish) =>
        val z = zero match {
          case l @ Literal(_, IntegerType) if arrE.resolved =>
            arrE.dataType match {
              case org.apache.spark.sql.types.ArrayType(LongType, _) =>
                Cast(l, LongType)
              case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
                Cast(l, DoubleType)
              case _ => l
            }
          case other => other
        }
        ArrayAggregate(arrE, z, merge, finish)
    },
    native("bitwise_and", 2) { a => BitwiseAnd(long(a(0)), long(a(1))) },
    native("bitwise_or", 2) { a => BitwiseOr(long(a(0)), long(a(1))) },
    native("bitwise_xor", 2) { a => BitwiseXor(long(a(0)), long(a(1))) },
    native("bitwise_not", 1) { a => BitwiseNot(long(a(0))) },
    // per-type-width shifts (reference: BitwiseFunctions.java — the
    // TINYINT/SMALLINT/INTEGER overloads wrap to the input's width; a
    // shift of 64+ is 0, never a Java mod-64 shift). Results are BIGINT
    // (the reference returns the input type; values agree).
    native("bitwise_left_shift", 2) { a =>
      val w = bitWidthOf(a(0))
      val sh = Cast(a(1), LongType)
      val shifted = ShiftLeft(long(a(0)), Cast(a(1), IntegerType))
      If(GreaterThanOrEqual(sh, Literal(64L)), Literal(0L),
        if (w == 64) shifted else preserveSign(shifted, w))
    },
    native("bitwise_arithmetic_shift_right", 2) { a =>
      ShiftRight(long(a(0)), Cast(a(1), IntegerType)) },
    native("bitwise_logical_shift_right", 2, 3) {
      case Seq(n, s) => ShiftRightUnsigned(long(n), Cast(s, IntegerType))
      case Seq(n, s, b) =>
        maskedShift(b, ShiftRightUnsigned(long(n), Cast(s, IntegerType)),
          mask => ShiftRightUnsigned(BitwiseAnd(long(n), mask), Cast(s, IntegerType)))
    },
    // alternate shift spellings (reference: BitwiseFunctions.java registers
    // both the *_shift_* and shift-direction-suffixed names). The legacy
    // 3-arg forms take a word size: bits=64 is the plain shift, otherwise
    // the result (left) or input (logical right) masks to 2^bits − 1.
    native("bitwise_shift_left", 2, 3) {
      case Seq(n, s) => ShiftLeft(long(n), Cast(s, IntegerType))
      case Seq(n, s, b) =>
        maskedShift(b, ShiftLeft(long(n), Cast(s, IntegerType)),
          mask => BitwiseAnd(ShiftLeft(long(n), Cast(s, IntegerType)), mask))
    },
    native("bitwise_right_shift", 2) { a =>
      val w = bitWidthOf(a(0))
      val sh = Cast(a(1), LongType)
      val masked =
        if (w == 64) long(a(0))
        else BitwiseAnd(long(a(0)), Literal((1L << w) - 1))
      If(GreaterThanOrEqual(sh, Literal(64L)), Literal(0L),
        If(EqualTo(sh, Literal(0L)), long(a(0)),
          ShiftRightUnsigned(masked, Cast(a(1), IntegerType))))
    },
    native("bitwise_right_shift_arithmetic", 2) { a =>
      val sh = Cast(a(1), LongType)
      If(GreaterThanOrEqual(sh, Literal(64L)),
        If(GreaterThanOrEqual(long(a(0)), Literal(0L)), Literal(0L), Literal(-1L)),
        ShiftRight(long(a(0)), Cast(a(1), IntegerType)))
    },
    // bit_count(x[, bits]) (reference: BitwiseFunctions.java bitCount —
    // 2-arg counts within an n-bit word after checking the value fits)
    native("bit_count", 1, 2) {
      case Seq(x) => BitwiseCount(long(x))
      case Seq(x, bits) =>
        val v = long(x)
        val b = Cast(bits, LongType)
        val lowMask = Subtract(
          ShiftLeft(Literal(1L), Cast(Subtract(b, Literal(1L)), IntegerType)),
          Literal(1L))
        val mask = Subtract(
          ShiftLeft(Literal(1L), Cast(b, IntegerType)), Literal(1L))
        If(EqualTo(b, Literal(64L)), Cast(BitwiseCount(v), LongType),
          If(Or(LessThanOrEqual(b, Literal(1L)), GreaterThan(b, Literal(64L))),
            Cast(RaiseError(Literal(
              "Bits specified in bit_count must be between 2 and 64")), LongType),
            If(Or(GreaterThan(v, lowMask), LessThan(v, BitwiseNot(lowMask))),
              Cast(RaiseError(Literal(
                "Number must be representable with the bits specified")), LongType),
              Cast(BitwiseCount(BitwiseAnd(v, mask)), LongType))))
    },

    // zip(a, b[, …]) (reference: scalar/ZipFunction.java — positional
    // row zip, shorter arrays NULL-padded): Spark's arrays_zip has the
    // same padding; row field names come from the inputs rather than
    // being anonymous
    native("zip", 2, FunctionEntry.Variadic) { a => new ArraysZip(a) },

    // lambda predicates (reference: scalar/ArrayAllMatchFunction.java,
    // ArrayAnyMatchFunction.java, ArrayNoneMatchFunction.java — same
    // three-valued NULL logic as Spark's forall/exists)
    native("all_match", 2) { a => ArrayForAll(a(0), a(1)) },
    native("any_match", 2) { a => ArrayExists(a(0), a(1)) },
    // none_match(a, f) = all_match(a, x -> NOT f(x)) — identical
    // three-valued logic, and the analyzer requires the root returned for
    // a lambda-bearing call to itself be a higher-order function
    native("none_match", 2) {
      case Seq(arr, LambdaFunction(fn, args, hidden)) =>
        ArrayForAll(arr, LambdaFunction(Not(fn), args, hidden))
      case a => Not(ArrayExists(a(0), a(1)))
    },

    // regexp_extract[_all] with the reference's defaults (reference:
    // scalar/JoniRegexpFunctions.java): the 2-arg forms extract group 0
    // (the whole match — Spark errors without an index), and
    // regexp_extract returns NULL on no match AND on a group that did
    // not participate in the match, where Spark's builtin returns ''
    // (functions/PrestoRegexp.scala).
    native("regexp_extract", 2, 3) { a =>
      val idx = if (a.lengthCompare(3) == 0) a(2) else Literal(0)
      graft.functions.PrestoRegexpExtract(a(0), a(1), Cast(idx, IntegerType))
    },
    native("regexp_extract_all", 2, 3) { a =>
      val idx = if (a.lengthCompare(3) == 0) a(2) else Literal(0)
      RegExpExtractAll(a(0), a(1), idx)
    },
    // regexp_replace: 2-arg deletes matches, 3-arg with a lambda applies
    // the reference's capture-array replace (JoniRegexpReplaceLambda
    // Function.java → functions/RegexpReplaceLambda), otherwise the
    // java.util.regex replacement grammar (functions/PrestoRegexp
    // .scala — Spark's builtin resolves `${name}` references to '').
    // A NULL literal argument arrives untyped and propagates NULL,
    // so pin it to string for the type contract.
    native("regexp_replace", 2, 3) { args =>
      def str(e: Expression): Expression =
        if (e.resolved && e.dataType == NullType) Cast(e, StringType) else e
      args match {
        case Seq(s, p) =>
          graft.functions.PrestoRegexpReplace(str(s), str(p), Literal(""))
        case Seq(s, p, f: LambdaFunction) =>
          RegexpReplaceLambda(str(s), str(p), f)
        case a =>
          graft.functions.PrestoRegexpReplace(str(a(0)), str(a(1)), str(a(2)))
      }
    },

    // SQL-defined array helpers (reference: scalar/sql/ArraySqlFunctions
    // .java), lowered to codegen'd lambda expressions once element types
    // resolve (functions/ArrayExtras.scala)
    native("array_sum", 1) { a => graft.functions.ArraySumPresto(a.head) },
    native("array_average", 1) { a => graft.functions.ArrayAveragePresto(a.head) },
    native("array_frequency", 1) { a => graft.functions.ArrayFrequencyPresto(a.head) },
    native("array_duplicates", 1) { a => graft.functions.ArrayDuplicatesPresto(a.head) },
    native("array_dupes", 1) { a => graft.functions.ArrayDuplicatesPresto(a.head) },
    native("array_has_duplicates", 1) { a => graft.functions.ArrayHasDuplicatesPresto(a.head) },
    native("array_has_dupes", 1) { a => graft.functions.ArrayHasDuplicatesPresto(a.head) },
    // trim_array (reference: scalar/ArrayTrimFunction.java — drop n
    // elements from the end; negative n and n > size both fail loudly,
    // matching the reference's INVALID_FUNCTION_ARGUMENT)
    native("trim_array", 2) { a =>
      val n = Cast(a(1), IntegerType)
      val checked = If(
        LessThan(n, Literal(0)),
        Cast(RaiseError(Literal("size must not be negative")), IntegerType),
        n)
      Slice(a(0), Literal(1),
        Subtract(Size(a(0), legacySizeOfNull = false), checked)) },

    // approx_set's argument hasher (Dialect rewrites approx_set(x[, e])
    // to approx_set_agg(graft_approx_set_hash(x[, e]))): NULL stays NULL
    // so the aggregate skips the row — a bare xxhash64(NULL) would yield
    // the seed and inflate the sketch by one phantom element. A second
    // (maxStandardError) argument is accepted and ignored — this HLL is
    // fixed at p=12 (README known divergences).
    native("graft_approx_set_hash", 1, 2) { a =>
      If(IsNull(a.head), Literal.create(null, LongType),
        new XxHash64(Seq(a.head))) },
    native("truncate", 1, 2) {
      case Seq(x)    => truncateExpr(x, None)
      case Seq(x, n) => truncateExpr(x, Some(n))
    },
    native("presto_log", 2) { a => Logarithm(dbl(a(1)), dbl(a(0))) },

    // ---- Reference-replay conformance pack (round 12: semantics found
    // by replaying the reference's own scalar-test assertions, see
    // ReferenceReplaySpec). Each wrapper exists because Spark's builtin
    // of the same name diverges on an edge the reference pins.

    // greatest/least return NULL when ANY argument is null
    // (MathFunctions.java greatest/least via @SqlNullable CHECK —
    // TestMathFunctions pins it); Spark's skip nulls. The reference
    // also accepts a SINGLE argument (identity); Spark requires two.
    native("presto_greatest", 1, FunctionEntry.Variadic) { a =>
      if (a.lengthCompare(1) == 0) a.head
      else If(a.map(IsNull).reduceLeft(Or),
        Literal.create(null, org.apache.spark.sql.types.NullType),
        Greatest(a))
    },
    native("presto_least", 1, FunctionEntry.Variadic) { a =>
      if (a.lengthCompare(1) == 0) a.head
      else If(a.map(IsNull).reduceLeft(Or),
        Literal.create(null, org.apache.spark.sql.types.NullType),
        Least(a))
    },
    // array_min/array_max return NULL when the array CONTAINS a null
    // element (ArrayMinFunction.java/ArrayMaxFunction.java); Spark's
    // ignore null elements. A null-containing array is detected as
    // size(arr) != size(array_compact(arr)).
    native("presto_array_min", 1) { a =>
      If(Not(EqualTo(Size(a.head), Size(ArrayCompact(a.head)))),
        Literal.create(null, org.apache.spark.sql.types.NullType),
        ArrayMin(a.head))
    },
    native("presto_array_max", 1) { a =>
      If(Not(EqualTo(Size(a.head), Size(ArrayCompact(a.head)))),
        Literal.create(null, org.apache.spark.sql.types.NullType),
        ArrayMax(a.head))
    },
    // split_part: index past the split count yields NULL
    // (StringFunctions.java:splitPart returns null, TestStringFunctions
    // "SPLIT_PART('abc', 'abc', 3)" → null); Spark's builtin yields ''.
    // Split on the LITERAL delimiter (StringSplitSQL — the non-regex
    // split Spark's own split_part uses), then null-on-overrun lookup.
    // An EMPTY delimiter splits to single characters with an empty
    // string producing ZERO parts (same reference test file). Divergence:
    // a non-positive index returns NULL here where the reference raises
    // INVALID_FUNCTION_ARGUMENT.
    native("presto_split_part", 3) { a =>
      val idx = Cast(a(2), IntegerType)
      val byChar = If(GreaterThan(idx, Length(a(0))),
        Literal.create(null, org.apache.spark.sql.types.StringType),
        Substring(a(0), idx, Literal(1)))
      If(EqualTo(Length(a(1)), Literal(0)),
        If(EqualTo(Length(a(0)), Literal(0)),
          Literal.create(null, org.apache.spark.sql.types.StringType),
          byChar),
        ElementAt(StringSplitSQL(a(0), a(1)), idx, None, failOnError = false))
    },
    // ltrim/rtrim 2-arg: the reference is (string, trim-chars)
    // (StringFunctions.java leftTrim/rightTrim codepoint-set overloads);
    // Spark's 2-arg builtins take (trim-chars, string) — SWAPPED. The
    // 1-arg forms agree.
    native("presto_ltrim", 1, 2) {
      case Seq(s)    => StringTrimLeft(s)
      case Seq(s, t) => StringTrimLeft(s, t)
    },
    native("presto_rtrim", 1, 2) {
      case Seq(s)    => StringTrimRight(s)
      case Seq(s, t) => StringTrimRight(s, t)
    },
    // replace with an EMPTY search string interleaves the replacement
    // at every character boundary (StringFunctions.java replace uses
    // the JDK contract: REPLACE('abc','','xx') = 'xxaxxbxxcxx',
    // TestStringFunctions) — Spark's builtin returns the input
    // unchanged. The 2-arg removal form and non-empty searches agree.
    native("presto_replace", 2, 3) {
      case Seq(s, search) => StringReplace(s, search, Literal(""))
      case Seq(s, search, rep) =>
        val interleave = If(
          EqualTo(Length(s), Literal(0)),
          rep,
          Concat(Seq(rep,
            ArrayJoin(
              ArrayTransform(
                // regex split on '' → one element per character (the
                // literal StringSplitSQL treats '' as no-delimiter)
                StringSplit(s, Literal(""), Literal(-1)),
                {
                  val c = NamedLambdaVariable("c",
                    org.apache.spark.sql.types.StringType, nullable = false)
                  LambdaFunction(Concat(Seq(c, rep)), Seq(c))
                }),
              Literal(""), None))))
        If(EqualTo(Length(search), Literal(0)),
          interleave, StringReplace(s, search, rep))
    },
    // trim 2-arg, same swapped-argument story (the Dialect trim branch
    // routes only the comma form here; the TRIM(BOTH x FROM y) grammar
    // form already agrees)
    native("presto_trim", 1, 2) {
      case Seq(s)    => StringTrim(s)
      case Seq(s, t) => StringTrim(s, t)
    },
    // contains / array_position with an UNTYPED NULL probe return NULL
    // (ArrayFunctions.java @SqlNullable); Spark's builtins REJECT a
    // NullType argument at analysis. array_position also has the 3-arg
    // instance form (ArrayPositionFunction.java: the n-th occurrence,
    // negative n counts from the end; 0 raises).
    native("presto_contains", 2) { a =>
      if (a(1).dataType == org.apache.spark.sql.types.NullType)
        Literal.create(null, org.apache.spark.sql.types.BooleanType)
      else ArrayContains(a(0), a(1))
    },
    native("presto_array_position", 2, 3) { a =>
      if (a(1).dataType == org.apache.spark.sql.types.NullType)
        Literal.create(null, LongType)
      else {
        val (arr, el) = widenElem(a(0), a(1))
        a.length match {
          case 2 => Cast(ArrayPosition(arr, el), LongType)
          case _ =>
            // positions of all matches, then the n-th (ElementAt handles
            // the negative-instance form); overrun → 0 like the
            // 1-instance builtin's no-match contract. A TYPED NULL probe
            // propagates NULL (@SqlNullable — TestArrayOperators pins
            // ARRAY_POSITION(..., CAST(NULL AS BIGINT), 1) = null); the
            // equality filter alone would silently turn it into 0.
            val inst = Cast(a(2), IntegerType)
            val positions = ArrayFilter(
              safeIndexSeq(Size(arr)),
              {
                val x = NamedLambdaVariable("pos",
                  IntegerType, nullable = false)
                LambdaFunction(
                  EqualTo(ElementAt(arr, x, None, failOnError = false), el),
                  Seq(x))
              })
            If(IsNull(el), Literal.create(null, LongType),
              Cast(Coalesce(Seq(
                If(EqualTo(Size(positions), Literal(0)), Literal(0),
                  ElementAt(positions, inst, None, failOnError = false)),
                Literal(0))), LongType))
        }
      }
    },
    // strpos/strrpos instance forms (StringFunctions.java stringPosition
    // with an occurrence count; strrpos counts occurrences from the
    // END). Spark's instr has no instance argument. A non-positive
    // instance raises like the reference's INVALID_FUNCTION_ARGUMENT.
    native("presto_strpos", 2, 3) {
      case Seq(s, sub) => Cast(StringInstr(s, sub), LongType)
      case Seq(s, sub, n) => nthPosition(s, sub, n, fromEnd = false)
    },
    native("presto_strrpos", 2, 3) {
      case Seq(s, sub) =>
        nthPosition(s, sub, Literal(1), fromEnd = true)
      case Seq(s, sub, n) => nthPosition(s, sub, n, fromEnd = true)
    },
    // array_intersect: NULL arrays propagate NULL (@SqlNullable), the
    // 1-arg form intersects an array OF arrays (ArrayIntersectFunction
    // .java both signatures), and decimal element types of different
    // scales unify like the reference's coercion.
    native("presto_array_intersect", 1, 2) { a =>
      if (a.exists(_.dataType == org.apache.spark.sql.types.NullType))
        Literal.create(null,
          a.map(_.dataType).find(_ != org.apache.spark.sql.types.NullType)
            .getOrElse(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.NullType)))
      else if (a.lengthCompare(1) == 0) {
        val arr = a.head
        val elemT = arr.dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        val acc = NamedLambdaVariable("acc", elemT, nullable = true)
        val x = NamedLambdaVariable("x", elemT, nullable = true)
        val accOut = NamedLambdaVariable("accOut", elemT, nullable = true)
        ArrayAggregate(
          arr,
          ElementAt(arr, Literal(1), None, failOnError = false),
          LambdaFunction(ArrayIntersect(acc, x), Seq(acc, x)),
          LambdaFunction(accOut, Seq(accOut)))
      } else {
        val (l, r) = widenArrays(a(0), a(1))
        ArrayIntersect(l, r)
      }
    },
    native("presto_arrays_overlap", 2) { a =>
      val (l, r) = widenArrays(a(0), a(1))
      ArraysOverlap(l, r)
    },
    // width_bucket's ARRAY-of-bins form (MathFunctions.java
    // widthBucket(double, array<double>): the count of sorted bin
    // boundaries ≤ x); the 4-arg form is Spark's own builtin.
    native("width_bucket", 2, 4) {
      case Seq(x, bins) =>
        val b = NamedLambdaVariable("b", DoubleType, nullable = true)
        Cast(Size(ArrayFilter(
          Cast(bins, org.apache.spark.sql.types.ArrayType(DoubleType)),
          LambdaFunction(LessThanOrEqual(b, Cast(x, DoubleType)), Seq(b)))),
          LongType)
      case Seq(x, lo, hi, n) => WidthBucket(dbl(x), dbl(lo), dbl(hi), long(n))
      case args => throw new IllegalArgumentException(
        s"width_bucket expects 2 or 4 arguments, got ${args.length}")
    },
    // substr: position 0 or |negative position| > length(str) yield ''
    // (StringFunctions.java substr boundary contract —
    // TestStringFunctions "SUBSTR('Quadratically', -50)" → ""); Spark
    // clamps both to the whole string.
    native("presto_substr", 2, 3) { a =>
      val s = a(0)
      val p = Cast(a(1), IntegerType)
      val empty = Or(EqualTo(p, Literal(0)),
        And(LessThan(p, Literal(0)),
          GreaterThan(UnaryMinus(p), Length(s))))
      val body = a.length match {
        case 2 => Substring(s, p, Literal(Int.MaxValue))
        case _ => Substring(s, p, Cast(a(2), IntegerType))
      }
      If(empty, Literal(""), body)
    },
    // is_nan(NULL) is NULL (@SqlNullable in MathFunctions.java isNaN);
    // Spark's isnan(NULL) is false.
    native("presto_is_nan", 1) { a =>
      If(IsNull(a.head),
        Literal.create(null, org.apache.spark.sql.types.NullType),
        IsNaN(dbl(a.head)))
    },

    // to_base / from_base (reference: operator/scalar/MathFunctions.java
    // toBase/fromBase — signed, lowercase digits). Spark's conv treats a
    // negative input as unsigned 2^64 wraparound and emits uppercase, so
    // the sign is split off explicitly and the magnitude lowercased.
    // Divergence: an invalid digit yields NULL (conv's behavior) where
    // the reference throws.
    native("to_base", 2) { a =>
      val x = long(a(0))
      val r = Cast(a(1), IntegerType)
      val mag = Lower(Conv(Cast(Abs(x), StringType), Literal(10), r))
      If(LessThan(x, Literal(0L)), Concat(Seq(Literal("-"), mag)), mag)
    },
    native("from_base", 2) { a =>
      val s = Cast(a(0), StringType)
      val r = Cast(a(1), IntegerType)
      val neg = StartsWith(s, Literal("-"))
      val body = If(
        Or(neg, StartsWith(s, Literal("+"))),
        Substring(s, Literal(2), Literal(Integer.MAX_VALUE)), s)
      val magStr = Conv(body, r, Literal(10))
      // the negative branch negates in DECIMAL first: Long.MinValue's
      // magnitude (2^63) does not fit a BIGINT before the sign lands
      val negVal = Cast(UnaryMinus(
        Cast(magStr, org.apache.spark.sql.types.DecimalType(20, 0))), LongType)
      If(neg, negVal, Cast(magStr, LongType))
    },

    // Aggregates the registry-builder path can express natively:
    //   set_agg(x)   → array of distinct values (reference: presto-main/
    //                  .../operator/aggregation/SetAggregationFunction.java)
    //   set_union(a) → distinct union of array inputs (SetUnionFunction.java)
    //   checksum(x)  → order-independent wrapping checksum
    //   entropy(c)   → log-2 entropy of count fractions
    // set_union composes scalar ops over an explicit AggregateExpression —
    // collect the arrays, flatten, dedup — staying generic over element
    // type, which a typed UDAF could not.
    // DISTINCT collect_list, not CollectSet: the reference guarantees
    // set_agg(x) == array_agg(DISTINCT x) element-for-element (its own
    // corpus asserts the equality over every orders group) — spelling
    // both as the SAME distinct aggregate makes Spark evaluate them
    // identically, where CollectSet's hash-set iteration order would
    // diverge from the distinct-rewrite's order
    native("set_agg", 1) { a =>
      CollectList(a.head).toAggregateExpression(isDistinct = true) },
    // reduce_agg(x, s0, inputFn, combineFn) (reference: presto-main/.../
    // operator/aggregation/ReduceAggregationFunction.java): the registry
    // entry is a scalar-shaped HOF placeholder (ResolveFunctions rejects
    // lambda-taking AggregateFunctions structurally); the ResolveReduceAgg
    // rule (CountIfRewrite.scala) swaps it for the native ReduceAgg
    // DeclarativeAggregate — constant-size state, map-side partial
    // aggregation through the user's combine lambda.
    native("reduce_agg", 4) { a => ReduceAggCall(a(0), a(1), a(2), a(3)) },
    native("set_union", 1) { a =>
      // ZERO ROWS is NULL like the reference's default agg state; rows
      // that are all SQL NULL give [] (AbstractTestQueries testSetUnion
      // pins both: `values null,null,null` → array[], `… where x !=
      // null` → null) — so the gate is count(*), and collect_list's
      // null-skipping provides the empty union. NullTypeAsArray lets a
      // pure-NULL input column (type UNKNOWN) resolve as array<void>,
      // like the reference's unknown→array(unknown) coercion.
      CaseWhen(
        Seq((EqualTo(
          Count(Seq(Literal(1))).toAggregateExpression(), Literal(0L)),
          Literal.create(null, org.apache.spark.sql.types.NullType))),
        Some(ArrayDistinct(Flatten(
          CollectList(graft.functions.NullTypeAsArray(a.head))
            .toAggregateExpression()))))
    },
    native("checksum", 1) { a => graft.functions.ChecksumAgg(a.head) },
    native("entropy", 1) { a => graft.functions.EntropyAgg(a.head) },

    // Datetime field functions where the NUMBERING differs (reference:
    // DateTimeFunctions.java:77 — joda dayOfWeek is ISO Monday=1, while
    // Spark's dayofweek is Sunday=1; Spark's weekday is Monday=0, so +1):
    native("day_of_week", 1) { a => Add(WeekDay(a.head), Literal(1)) },
    native("dow", 1) { a => Add(WeekDay(a.head), Literal(1)) },
    native("day_of_year", 1) { a => DayOfYear(a.head) },
    native("doy", 1) { a => DayOfYear(a.head) },
    native("week", 1) { a => WeekOfYear(a.head) },
    native("week_of_year", 1) { a => WeekOfYear(a.head) },
    native("year_of_week", 1) { a => YearOfWeek(a.head) },
    native("yow", 1) { a => YearOfWeek(a.head) },
    native("day_of_month", 1) { a => DayOfMonth(Cast(a.head, DateType)) },
    native("last_day_of_month", 1) { a => LastDay(Cast(a.head, DateType)) },
    // millisecond-of-second (reference: DateTimeFunctions.java millisecond
    // — the [0, 999] field, never negative for pre-epoch instants)
    native("millisecond", 1) { a =>
      Pmod(Cast(
        UnixMillis(Cast(a.head, TimestampType)), LongType), Literal(1000L)) },
    native("from_iso8601_date", 1) { a => Cast(a.head, DateType) },
    native("from_iso8601_timestamp", 1) { a => Cast(a.head, TimestampType) },

    // at_timezone / with_timezone (reference: operator/scalar/
    // DateTimeFunctions.java — both return TIMESTAMP WITH TIME ZONE).
    // Spark has no TSWTZ: TimestampType is an instant rendered in the
    // session zone, so the observable mapping (README "Time zone
    // semantics") is:
    //   at_timezone(ts, tz)   → the wall-clock of ts's instant in tz
    //   with_timezone(ts, tz) → the instant whose wall-clock in tz is ts
    // Both stay TIMESTAMP; CurrentTimeZone() keeps them in step with
    // SET spark.sql.session.timeZone like the rest of the dialect.
    native("at_timezone", 2) { a =>
      FromUTCTimestamp(ToUTCTimestamp(a(0), CurrentTimeZone()), a(1)) },
    native("with_timezone", 2) { a =>
      FromUTCTimestamp(ToUTCTimestamp(a(0), a(1)), CurrentTimeZone()) },

    // to_unixtime / from_unixtime (reference: DateTimeFunctions.java):
    // to_unixtime returns DOUBLE epoch seconds WITH the fraction (Spark's
    // unix_timestamp truncates to whole seconds); from_unixtime returns a
    // TIMESTAMP (Spark's builtin formats a string). The 2- and 3-arg
    // forms return TSWTZ in the reference — narrowed per README "Time
    // zone semantics" to the wall-clock in the given zone / fixed offset.
    native("to_unixtime", 1) { a => Cast(Cast(a.head, TimestampType), DoubleType) },
    native("from_unixtime", 1, 3) {
      case Seq(u) => SecondsToTimestamp(dbl(u))
      case Seq(u, tz) =>
        FromUTCTimestamp(
          ToUTCTimestamp(SecondsToTimestamp(dbl(u)), CurrentTimeZone()), tz)
      case Seq(u, h, m) =>
        // fixed offset of h*60+m minutes (DateTimeFunctions.java
        // fromUnixTime(unixtime, hoursOffset, minutesOffset))
        val total = Add(Multiply(long(h), Literal(60L)), long(m))
        val absT = Abs(total)
        val zone = FormatString(
          Literal("%s%02d:%02d"),
          If(LessThan(total, Literal(0L)), Literal("-"), Literal("+")),
          IntegralDivide(absT, Literal(60L)),
          Remainder(absT, Literal(60L)))
        FromUTCTimestamp(
          ToUTCTimestamp(SecondsToTimestamp(dbl(u)), CurrentTimeZone()), zone)
    },
    // localtimestamp(p): precision is accepted and ignored (Spark
    // timestamps are fixed micros); the bare no-parens keyword form is
    // rewritten by the dialect scanner.
    native("localtimestamp", 0, 1) { _ => CurrentTimestamp() },

    // (Presto's 3-arg date_add/date_diff are handled in [[graft.Dialect]]:
    // Spark 4 ships its own 3-arg forms that the analyzer resolves ahead
    // of injected functions, but they want the unit as an UNQUOTED
    // identifier — so the dialect layer unquotes 'day' → DAY.)

    // url_extract_* (reference: presto-main/.../operator/scalar/
    // UrlFunctions.java) → Spark's ParseUrl with failOnError=false so a
    // malformed URL yields NULL like the reference, not an ANSI error.
    // PORT has no ParseUrl part — extracted from AUTHORITY.
    native("url_extract_protocol", 1) { a => parseUrl(a.head, "PROTOCOL") },
    native("url_extract_host", 1) { a => parseUrl(a.head, "HOST") },
    native("url_extract_path", 1) { a => parseUrl(a.head, "PATH") },
    native("url_extract_query", 1) { a => parseUrl(a.head, "QUERY") },
    native("url_extract_fragment", 1) { a => parseUrl(a.head, "REF") },
    native("url_extract_port", 1) { a =>
      Cast(
        new NullIf(
          RegExpExtract(
            parseUrl(a.head, "AUTHORITY"), Literal(":(\\d+)$"), Literal(1)),
          Literal("")),
        LongType)
    },
    // url_extract_parameter lives in ScalarPack as a UDF: the reference
    // (UrlFunctions.java:124) returns the FIRST occurrence's value and
    // '' for a present-but-valueless key (?k3&k4), where Spark's
    // ParseUrl(QUERY, key) returns the first '='-form value and NULL
    // for valueless keys.

    // split_to_map(text, entryDelim, kvDelim[, (k, v1, v2) -> r])
    // (reference: presto-main/.../operator/scalar/SplitToMapFunction
    // .java) — the 3-arg form is Catalyst's StringToMap (same contract
    // and argument order, both raise on duplicate keys); the 4-arg form
    // resolves duplicates through the lambda (functions/SplitToMapLambda).
    native("split_to_map", 3, 4) {
      case Seq(s, ed, kvd, f: LambdaFunction) =>
        SplitToMapLambda(s, ed, kvd, f)
      case a => StringToMap(a(0), a(1), a(2))
    },

    // infinity/nan literals and finiteness predicates (reference:
    // MathFunctions.java infinity/nan/isFinite/isInfinite; Spark has
    // isnan but no spelled constants or finiteness tests):
    native("infinity", 0) { _ => Literal(Double.PositiveInfinity) },
    native("nan", 0) { _ => Literal(Double.NaN) },
    native("is_finite", 1) { a =>
      val x = dbl(a.head)
      And(Not(IsNaN(x)), LessThan(Abs(x), Literal(Double.PositiveInfinity)))
    },
    native("is_infinite", 1) { a =>
      EqualTo(Abs(dbl(a.head)), Literal(Double.PositiveInfinity))
    },

    // json_size(json, path) (reference: scalar/JsonFunctions.java
    // jsonSize) — GetJsonObject navigates the path (same JsonPath subset
    // the reference uses), the registered UDF counts the children of the
    // extracted text. json_array_contains dispatches on the VALUE
    // argument's type like the reference's overloads.
    native("json_size", 2) { a => call("json_size_text", GetJsonObject(a(0), a(1))) },
    native("json_array_contains", 2) { a =>
      // the reference's overloads are TOKEN-TYPE strict
      // (JsonFunctions.java jsonArrayContains(bigint) matches only
      // VALUE_NUMBER_INT tokens, (double) only VALUE_NUMBER_FLOAT —
      // TestJsonFunctions pins contains('[1.0]', 1) = false and
      // contains('[1]', 1.0) = false), so integral and fractional
      // probes dispatch to DIFFERENT membership UDFs
      val (name, v) =
        if (a(1).resolved && a(1).dataType == org.apache.spark.sql.types.BooleanType)
          ("json_array_contains_bool", a(1))
        else if (isIntegralTyped(a(1)))
          ("json_array_contains_long", Cast(a(1), LongType))
        else if (a(1).resolved && a(1).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          ("json_array_contains_num", Cast(a(1), DoubleType))
        else ("json_array_contains_str", Cast(a(1), StringType))
      call(name, a(0), v)
    },

    // to_utf8 / from_utf8 (reference: scalar/StringFunctions.java
    // toUtf8/fromUtf8) → Catalyst Encode/StringDecode over UTF-8; invalid
    // sequences decode to U+FFFD on both sides. normalize dispatches its
    // optional form argument (NFC default) to the registered UDF.
    native("to_utf8", 1) { a => Encode(a.head, Literal("UTF-8")) },
    // from_utf8 is LENIENT (StringFunctions.java fromUtf8: invalid
    // sequences become U+FFFD, or the caller's replacement character /
    // codepoint, '' drops them) — Spark's ANSI decode RAISES
    // MALFORMED_CHARACTER_CODING instead, so the decode runs in the
    // registered lenient UDF.
    native("from_utf8", 1, 2) { a =>
      val repl: Expression =
        if (a.lengthCompare(1) == 0) Literal("�")
        else if (isIntegralTyped(a(1))) call("presto_chr", long(a(1)))
        else Cast(a(1), StringType)
      call("from_utf8_lenient", a.head, repl)
    },
    native("normalize", 1, 2) { a =>
      call("unicode_normalize", a.head, if (a.length > 1) a(1) else Literal("NFC"))
    },

    // Color/visualization scalars (reference: scalar/ColorFunctions.java,
    // docs functions/color.rst). COLOR surfaces as BIGINT (non-negative =
    // 24-bit RGB, negative = system ANSI index encoded -(index+1));
    // implementations in functions/ColorPack.scala, overloads dispatched
    // here: color(varchar) parse / color(fraction, low, high) /
    // color(x, lo, hi, low, high) both HSB-interpolating, render by
    // argument shape (1-arg boolean ✓/✗ form), bar with the documented
    // red→green defaults.
    native("color", 1, 5) {
      case Seq(s) => call("graft_color_parse", Cast(s, StringType))
      case Seq(f, lo, hi) => call("graft_color_interp", dbl(f), long(lo), long(hi))
      case Seq(x, lo, hi, lc, hc) =>
        call("graft_color_interp",
          Divide(Subtract(dbl(x), dbl(lo)), Subtract(dbl(hi), dbl(lo))),
          long(lc), long(hc))
      case args => throw new IllegalArgumentException(
        s"color expects 1, 3, or 5 arguments, got ${args.length}")
    },
    native("rgb", 3) { a =>
      call("graft_color_rgb", long(a(0)), long(a(1)), long(a(2)))
    },
    native("render", 1, 2) {
      case Seq(b) => call("graft_color_render_bool", b)
      case Seq(v, c) => call("graft_color_render", Cast(v, StringType), long(c))
    },
    // secure_random / secure_rand (reference: scalar/MathFunctions.java
    // :699-797): 0-arg → double in [0,1); 2-arg → same type as the
    // inputs, lower <= x < upper. Integral-typed argument pairs route to
    // the long variant and cast back to the input type (the reference's
    // tinyint/smallint/integer/bigint overloads); anything else runs in
    // double. The UDFs are registered asNondeterministic with a real
    // per-thread SecureRandom (functions/MiscExtras.scala).
    native("secure_random", 0, 2) { a => secureRandomBuilder(a) },
    native("secure_rand", 0, 2) { a => secureRandomBuilder(a) },

    // Polymorphic merge(sketch) (reference: aggregation/MergeFunction —
    // one name across HyperLogLog / qdigest / tdigest / KHyperLogLog).
    // Spark's registry is monomorphic, so the builder dispatches on the
    // RESOLVED argument type: the four sketch states have pairwise
    // distinct Spark types (binary / array<bigint> / array<double> /
    // array<struct>). SetDigest keeps merge_set_digest, same as the
    // reference.
    native("merge", 1) { a =>
      val name = a.head.dataType match {
        case org.apache.spark.sql.types.BinaryType => "merge_hll"
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => "merge_qdigest"
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => "merge_tdigest"
        case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.StructType, _) => "merge_khll"
        case dt => throw new IllegalArgumentException(
          s"merge: not a sketch state type: ${dt.simpleString}")
      }
      call(name, a: _*)
    },

    native("bar", 2, 4) { a =>
      val (lo, hi) = a match {
        case Seq(_, _) => (Literal(0xFF0000L), Literal(0x00FF00L))
        case Seq(_, _, lc, hc) => (long(lc), long(hc))
        case args => throw new IllegalArgumentException(
          s"bar expects 2 or 4 arguments, got ${args.length}")
      }
      call("graft_color_bar", dbl(a(0)), long(a(1)), lo, hi)
    },

    // approx_percentile under the reference's overload set (reference:
    // operator/aggregation/ApproximatePercentileAggregations.java +
    // ApproximateWeightedPercentileAggregations.java): Presto's 3-arg form
    // is (x, WEIGHT, p) while Spark's builtin 3-arg is (x, p, ACCURACY),
    // so the builder dispatches on the shape of the second argument — a
    // foldable FRACTIONAL value inside [0,1] (or a percentage array) is a
    // percentile; an integer-typed literal (weights are bigints, so the
    // literal 1 counts) or any per-row column is a weight routed to
    // WeightedPercentileAgg. In the (x, p, accuracy) form the reference's
    // fractional epsilon is converted to Spark's integral ~1/eps. The
    // 4-arg weighted form's accuracy argument is accepted and ignored —
    // the t-digest compression is fixed, like the reference's qdigest
    // accuracy floor.
    native("approx_percentile", 2, 4) {
      case Seq(x, p) => new ApproximatePercentile(x, p)
      case Seq(x, w, p) if !isPercentageShape(w) => weightedPercentile(x, w, p)
      case Seq(x, p, acc) => new ApproximatePercentile(x, p, sparkAccuracy(acc))
      case Seq(x, w, p, _) if !isPercentageShape(w) => weightedPercentile(x, w, p)
      case args => throw new IllegalArgumentException(
        s"approx_percentile expects 2-4 arguments, got ${args.length}")
    },

    // skewness / kurtosis under the REFERENCE's definitions (reference:
    // operator/aggregation/CentralMomentsAggregation.java:55-88).
    // Skewness matches Spark's population formula (√n·m3/m2^1.5) but the
    // reference returns NULL below 3 rows where Spark emits NaN; the
    // reference's kurtosis is the SAMPLE-adjusted excess kurtosis —
    // Spark's builtin is population (n·m4/m2²−3), so rebuild it
    // algebraically from Spark's value k and n:
    //   presto = (n−1)·((n+1)(k+3) − 3(n−1)) / ((n−2)(n−3)),  NULL if n<4
    // Composed from two Catalyst aggregates + arithmetic — stays codegen.
    native("skewness", 1) { a =>
      val x = dbl(a.head)
      If(
        LessThan(Count(x).toAggregateExpression(), Literal(3L)),
        Literal(null, DoubleType),
        new Skewness(x).toAggregateExpression())
    },
    native("kurtosis", 1) { a =>
      val x = dbl(a.head)
      val n = Cast(Count(x).toAggregateExpression(), DoubleType)
      val k = new Kurtosis(x).toAggregateExpression()
      val num = Multiply(
        Subtract(n, Literal(1.0)),
        Subtract(
          Multiply(Add(n, Literal(1.0)), Add(k, Literal(3.0))),
          Multiply(Literal(3.0), Subtract(n, Literal(1.0)))))
      val den = Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0)))
      If(
        LessThan(n, Literal(4.0)),
        Literal(null, DoubleType),
        Divide(num, den))
    },

    // Session/introspection trivia scalars (see graft.functions.
    // TriviaScalars for semantics + reference files):
    native("typeof", 1) { a => graft.functions.TriviaScalars.TypeOfPresto(a.head) },
    native("parse_presto_data_size", 1) { a =>
      graft.functions.TriviaScalars.ParsePrestoDataSize(a.head) },

    // wilson_interval_lower/upper (reference: operator/scalar/
    // WilsonInterval.java) — pure Catalyst arithmetic, fully codegen'd:
    //   (p̂ + z²/2n ± z·sqrt(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    native("wilson_interval_lower", 3) { a => wilsonInterval(a(0), a(1), a(2), -1) },
    native("wilson_interval_upper", 3) { a => wilsonInterval(a(0), a(1), a(2), 1) },

    // Canonical orderable form of a map — sorted entry array (reference:
    // presto-main/.../operator/scalar/MapEqualOperator.java defines map
    // equality; Spark cannot GROUP BY / DISTINCT a map column, so the
    // documented shim is GROUP BY map_canon(m), which is equality-
    // equivalent: two maps are equal iff their sorted entry lists are).
    native("map_canon", 1) { a => new SortArray(MapEntries(a.head)) },
  )

}
