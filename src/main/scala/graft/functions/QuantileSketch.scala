package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** Behavior-compatible quantile digest (reference: presto-main/.../
  * operator/aggregation/QuantileDigestAggregationFunction.java + scalar
  * value_at_quantile in QuantileDigestFunctions.java; SURVEY §1.2 —
  * behavior, not bytes). State is a fixed array of log-spaced bin counts
  * over positive doubles — deterministic, mergeable by vector addition
  * (the property that ships digests across exchanges), with relative
  * value error bounded by the bin ratio (~1.5% at 1024 bins over
  * [1e-6, 1e12]).
  *
  * DOMAIN CAVEAT (diverges from the reference, which digests any long/
  * double): inputs OUTSIDE [1e-6, 1e12] — including zero and negatives —
  * silently clamp to the nearest bin edge, so quantiles of mixed-sign or
  * tiny data are wrong, not approximate. This digest is for positive
  * measures (prices, sizes, latencies); for the full real line use
  * [[TDigest]], whose centroids carry exact means.
  *
  *   qdigest_agg(x)                   → binary digest (aggregate)
  *   merge_qdigest(digest)            → binary digest (merge aggregate)
  *   value_at_quantile(digest, q)     → double        (scalar)
  */
object QuantileSketch {

  val Bins = 1024
  private val LogMin = math.log(1e-6)
  private val LogMax = math.log(1e12)
  private val Step = (LogMax - LogMin) / Bins

  private def binOf(x: Double): Int = {
    val clamped = math.min(math.max(x, 1e-6), 1e12)
    math.min(((math.log(clamped) - LogMin) / Step).toInt, Bins - 1)
  }

  /** Geometric midpoint of a bin — the returned quantile value. */
  private def binValue(i: Int): Double =
    math.exp(LogMin + (i + 0.5) * Step)

  def valueAtQuantile(counts: Array[Long], q: Double): Double = {
    val total = counts.sum
    if (total == 0) return Double.NaN
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    var i = 0
    while (i < Bins) {
      acc += counts(i)
      if (acc >= target) return binValue(i)
      i += 1
    }
    binValue(Bins - 1)
  }

  // Boxed input: NULL rows are skipped like the reference aggregate
  // (QuantileDigestAggregationFunction only sees non-null positions); a
  // primitive encoder would throw on a null in a nullable column.
  class QdigestAgg extends Aggregator[java.lang.Double, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](Bins)
    def reduce(b: Array[Long], a: java.lang.Double): Array[Long] = {
      if (a != null) b(binOf(a)) += 1
      b
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < Bins) { b1(i) += b2(i); i += 1 }
      b1
    }
    // NULL for an empty digest (reference: empty-group qdigest is NULL)
    def finish(r: Array[Long]): Array[Long] =
      if (r.forall(_ == 0L)) null else r
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  class MergeQdigestAgg extends Aggregator[Seq[Long], Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](Bins)
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = {
      if (a != null) { var i = 0; while (i < Bins) { b(i) += a(i); i += 1 } }
      b
    }
    def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < Bins) { b1(i) += b2(i); i += 1 }
      b1
    }
    def finish(r: Array[Long]): Array[Long] =
      if (r.forall(_ == 0L)) null else r
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("qdigest_agg", udaf(new QdigestAgg, Encoders.DOUBLE)),
    FunctionEntry.udf("merge_qdigest", udaf(new MergeQdigestAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())),
    FunctionEntry.udf("value_at_quantile",
      udf((d: Seq[Long], q: Double) =>
        if (d == null) null
        else java.lang.Double.valueOf(valueAtQuantile(d.toArray, q)))),
    // values_at_quantiles / quantile_at_value / quantiles_at_values /
    // scale_qdigest (reference: scalar/QuantileDigestFunctions.java) —
    // one digest queried per quantile; rank of a value = mass at or
    // below its bin; scaling multiplies every bin count by the factor.
    // KNOWN DIVERGENCE: this digest's state is integral bin counts, so
    // scale factors < 1 round unit-count bins away (the reference scales
    // double weights); factors >= 1 are exact
    FunctionEntry.udf("values_at_quantiles",
      udf((d: Seq[Long], qs: Seq[Double]) =>
        if (d == null || qs == null) null
        else qs.map(q => valueAtQuantile(d.toArray, q)))),
    FunctionEntry.udf("quantile_at_value",
      udf((d: Seq[Long], v: Double) =>
        if (d == null) null
        else {
          val total = d.sum
          if (total == 0) null
          else {
            val bin = binOf(v)
            val below = d.take(bin + 1).sum
            java.lang.Double.valueOf(below.toDouble / total)
          }
        })),
    FunctionEntry.udf("quantiles_at_values",
      udf((d: Seq[Long], vs: Seq[Double]) =>
        if (d == null || vs == null) null
        else {
          val total = d.sum
          if (total == 0) null
          else vs.map(v => d.take(binOf(v) + 1).sum.toDouble / total)
        })),
    FunctionEntry.udf("scale_qdigest",
      udf((d: Seq[Long], factor: Double) =>
        if (d == null) null
        else {
          require(factor > 0, "Scale factor should be positive.")
          d.map(c => math.round(c * factor))
        })),
  )
}
