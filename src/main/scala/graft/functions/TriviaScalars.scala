package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's session/introspection trivia scalars:
  *
  *   - `typeof(expr)` (reference: presto-main/.../operator/scalar/
  *     TypeOfFunction.java — returns the type's display name, never reads
  *     the value) → [[TypeOfPresto]], a foldable expression the optimizer
  *     constant-folds to a string literal.
  *   - `parse_presto_data_size('2.3MB')` (reference: operator/scalar/
  *     DataSizeFunctions.java — decimal value × base-1024 unit factor,
  *     truncated to DECIMAL(38,0) bytes) → [[ParsePrestoDataSize]].
  *   - `differential_entropy(bins, x, w, method, min, max)` (reference:
  *     operator/aggregation/differentialentropy/
  *     FixedHistogramMleStateStrategy.java) → [[DifferentialEntropyAgg]],
  *     a mergeable fixed-histogram MLE estimate in BITS:
  *     (−Σ pᵢ ln pᵢ + ln(width)) / ln 2. Only the deterministic
  *     fixed_histogram_mle method is implemented; the reservoir-sample
  *     methods are nondeterministic by construction and rejected loudly.
  */
object TriviaScalars {

  /** Spark type → the reference dialect's display name (reference:
    * presto-common/.../type — each Type's getDisplayName). Parameterized
    * char lengths don't exist in Spark (StringType is unbounded), so
    * strings surface as bare `varchar` — documented divergence. */
  def prestoTypeName(dt: DataType): String = dt match {
    case NullType             => "unknown"
    case BooleanType          => "boolean"
    case ByteType             => "tinyint"
    case ShortType            => "smallint"
    case IntegerType          => "integer"
    case LongType             => "bigint"
    case FloatType            => "real"
    case DoubleType           => "double"
    case d: DecimalType       => s"decimal(${d.precision},${d.scale})"
    case StringType           => "varchar"
    case BinaryType           => "varbinary"
    case DateType             => "date"
    case TimestampType        => "timestamp"
    case TimestampNTZType     => "timestamp"
    case ArrayType(e, _)      => s"array(${prestoTypeName(e)})"
    case MapType(k, v, _)     => s"map(${prestoTypeName(k)}, ${prestoTypeName(v)})"
    case StructType(fields)   =>
      fields.map(f => s"${f.name} ${prestoTypeName(f.dataType)}")
        .mkString("row(", ", ", ")")
    case other                => other.simpleString
  }

  /** `typeof` — the child's type name as a string; the value is never
    * evaluated (the reference is calledOnNullInput and ignores the
    * argument slot). Foldable: the type is fixed at analysis time, so
    * ConstantFolding replaces this with a literal before codegen —
    * CodegenFallback is unreachable at runtime. */
  case class TypeOfPresto(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def foldable: Boolean = true
    override def eval(input: InternalRow): Any = {
      // a string LITERAL reports its parameterized length like the
      // reference (typeof('cat') = varchar(3)); only literals carry one —
      // column varchar lengths don't survive Spark's schema
      val name = child match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) if v != null =>
          s"varchar(${v.numChars})"
        case _ => prestoTypeName(child.dataType)
      }
      UTF8String.fromString(name)
    }
    override protected def withNewChildInternal(newChild: Expression): TypeOfPresto =
      copy(child = newChild)
  }

  private val dataSizeFactors: Map[String, java.math.BigDecimal] = {
    def bd(l: java.math.BigInteger) = new java.math.BigDecimal(l)
    val k = java.math.BigInteger.valueOf(1024L)
    Map(
      "B" -> bd(k.pow(0)), "kB" -> bd(k.pow(1)), "MB" -> bd(k.pow(2)),
      "GB" -> bd(k.pow(3)), "TB" -> bd(k.pow(4)), "PB" -> bd(k.pow(5)),
      "EB" -> bd(k.pow(6)), "ZB" -> bd(k.pow(7)), "YB" -> bd(k.pow(8)))
  }

  /** `parse_presto_data_size` — leading decimal digits × case-sensitive
    * unit factor, truncated toward zero to DECIMAL(38,0) bytes. Invalid
    * input throws (the reference's INVALID_FUNCTION_ARGUMENT); under
    * `TRY(...)` that surfaces as NULL. Constant inputs fold away; a
    * per-row call is a cold-path string parse (CodegenFallback). */
  case class ParsePrestoDataSize(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DecimalType(38, 0)
    override protected def nullSafeEval(input: Any): Any = {
      val s = input.toString
      val valueLen = s.segmentLength(c => c.isDigit || c == '.')
      val factor = dataSizeFactors.getOrElse(s.substring(valueLen),
        throw new IllegalArgumentException(s"Invalid data size: '$s'"))
      val bytes =
        try new java.math.BigDecimal(s.substring(0, valueLen))
          .multiply(factor).toBigInteger
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"Invalid data size: '$s'")
        }
      Decimal(new java.math.BigDecimal(bytes), 38, 0)
    }
    override protected def withNewChildInternal(newChild: Expression): ParsePrestoDataSize =
      copy(child = newChild)
  }

  /** Input row shape mirrors the reference's 6-argument overload:
    * (bucket_count, sample, weight, method, min, max). */
  case class DiffEntropyIn(
      bins: Long, x: Option[Double], w: Option[Double],
      method: String, lo: Double, hi: Double)

  /** Mergeable state: histogram parameters (bins = -1 until the first
    * row fixes them) + sparse bucket→weight map, so partial aggregation
    * and AQE-coalesced merges work like every other graft sketch. */
  case class DiffEntropyBuf(
      bins: Long, lo: Double, hi: Double, weights: Map[Int, Double])

  object DifferentialEntropyAgg
      extends Aggregator[DiffEntropyIn, DiffEntropyBuf, java.lang.Double] {
    def zero: DiffEntropyBuf = DiffEntropyBuf(-1L, 0.0, 0.0, Map.empty)

    def reduce(b: DiffEntropyBuf, a: DiffEntropyIn): DiffEntropyBuf =
      if (a.x.isEmpty) b
      else {
        if (!"fixed_histogram_mle".equalsIgnoreCase(a.method))
          throw new UnsupportedOperationException(
            "differential_entropy: only method 'fixed_histogram_mle' is " +
              s"implemented (got '${a.method}'); the reservoir methods are " +
              "nondeterministic and unsupported")
        require(a.bins > 0, s"bucket count must be positive: ${a.bins}")
        require(a.lo < a.hi, s"min must be less than max: ${a.lo} >= ${a.hi}")
        require(b.bins < 0 || (b.bins == a.bins && b.lo == a.lo && b.hi == a.hi),
          "differential_entropy: inconsistent histogram parameters across rows")
        val x = a.x.get
        require(x >= a.lo && x <= a.hi,
          s"sample $x outside histogram range [${a.lo}, ${a.hi}]")
        val w = a.w.getOrElse(1.0)
        require(w >= 0.0, s"weight must be non-negative: $w")
        val width = (a.hi - a.lo) / a.bins
        val idx = math.min(a.bins - 1, ((x - a.lo) / width).toLong).toInt
        DiffEntropyBuf(a.bins, a.lo, a.hi,
          b.weights.updated(idx, b.weights.getOrElse(idx, 0.0) + w))
      }

    def merge(b1: DiffEntropyBuf, b2: DiffEntropyBuf): DiffEntropyBuf =
      if (b1.bins < 0) b2
      else if (b2.bins < 0) b1
      else {
        require(b1.bins == b2.bins && b1.lo == b2.lo && b1.hi == b2.hi,
          "differential_entropy: inconsistent histogram parameters in merge")
        DiffEntropyBuf(b1.bins, b1.lo, b1.hi,
          b2.weights.foldLeft(b1.weights) { case (acc, (k, v)) =>
            acc.updated(k, acc.getOrElse(k, 0.0) + v)
          })
      }

    def finish(r: DiffEntropyBuf): java.lang.Double =
      if (r.bins < 0) null // no rows at all → NULL like every aggregate
      else {
        val total = r.weights.valuesIterator.sum
        if (total == 0.0) java.lang.Double.valueOf(Double.NaN)
        else {
          val raw = -r.weights.valuesIterator.map { w =>
            val p = w / total
            if (p <= 0.0) 0.0 else p * math.log(p)
          }.sum
          val width = (r.hi - r.lo) / r.bins
          java.lang.Double.valueOf((raw + math.log(width)) / math.log(2.0))
        }
      }

    def bufferEncoder: Encoder[DiffEntropyBuf] = ExpressionEncoder[DiffEntropyBuf]()
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("differential_entropy",
      udaf(DifferentialEntropyAgg, ExpressionEncoder[DiffEntropyIn]())),
  )
}
