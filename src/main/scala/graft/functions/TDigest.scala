package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** Behavior-compatible t-digest (reference: presto-main/.../operator/
  * aggregation/TDigestAggregationFunction.java + scalar accessors in
  * operator/scalar/TDigestFunctions.java; the algorithm is Dunning &
  * Ertl's public "merging t-digest"). State is a bounded list of
  * (mean, weight) centroids compressed under the k1 scale function
  * k(q) = δ/2π · asin(2q−1), which concentrates resolution at the tails —
  * rank error is O(q(1−q)/δ). Centroid lists merge by concatenation +
  * re-compression, so partial aggregates ship across exchanges and the
  * digest of 100 TB is built without ever collecting raw values.
  *
  *   tdigest_agg(x)                  → digest (aggregate)
  *   merge_tdigest(digest)           → digest (merge aggregate)
  *   td_value_at_quantile(d, q)      → double (scalar)
  *   td_values_at_quantiles(d, qs)   → array(double)
  *   td_quantile_at_value(d, x)      → double (inverse scalar)
  *
  * (The reference overloads `value_at_quantile` on the digest's SQL type;
  * one flat function registry can't type-dispatch, hence the td_ prefix.)
  *
  * Serialized layout: [n, mean0, weight0, …, mean(n-1), weight(n-1)],
  * centroids sorted by mean.
  */
/** destructure_tdigest's row shape (reference field names/order:
  * TDigestFunctions.java TDIGEST_CENTROIDS_ROW_TYPE). */
case class TDigestParts(
    centroid_means: Seq[Double],
    centroid_weights: Seq[Int],
    compression: Double,
    min: Double,
    max: Double,
    sum: Double,
    count: Long)

object TDigest {

  val Compression = 100.0
  /** Incoming points buffered per state before an in-place compress. */
  private val Cap = 8 * Compression.toInt

  private val TwoPi = 2 * math.Pi
  private def scaleK(q: Double): Double =
    Compression / TwoPi * math.asin(2 * math.min(math.max(q, 0.0), 1.0) - 1)
  private def invScaleK(k: Double): Double = {
    val s = math.sin(k * TwoPi / Compression)
    (s + 1) / 2
  }

  /** Working state: header slot 0 = used pair count, then interleaved
    * (mean, weight) pairs. Fixed capacity; compress squeezes in place. */
  private def emptyState: Array[Double] = new Array[Double](1 + 2 * Cap)

  private def used(s: Array[Double]): Int = s(0).toInt

  /** In-place compress of the first `n` pairs down to ~Compression
    * centroids under the k1 size bound. */
  private def compress(s: Array[Double]): Unit = {
    val n = used(s)
    if (n <= 1) return
    val idx = Array.range(0, n).sortBy(i => s(1 + 2 * i))
    val means = idx.map(i => s(1 + 2 * i))
    val weights = idx.map(i => s(2 + 2 * i))
    var total = 0.0
    var i = 0
    while (i < n) { total += weights(i); i += 1 }

    var out = 0 // pairs written
    var curMean = means(0)
    var curW = weights(0)
    var wSoFar = 0.0
    var qLimit = invScaleK(scaleK(0.0) + 1.0)
    i = 1
    while (i < n) {
      val projected = wSoFar + curW + weights(i)
      if (projected <= qLimit * total) {
        // fold centroid i into the current one (weighted mean)
        val w2 = curW + weights(i)
        curMean = (curMean * curW + means(i) * weights(i)) / w2
        curW = w2
      } else {
        s(1 + 2 * out) = curMean; s(2 + 2 * out) = curW; out += 1
        wSoFar += curW
        qLimit = invScaleK(scaleK(wSoFar / total) + 1.0)
        curMean = means(i); curW = weights(i)
      }
      i += 1
    }
    s(1 + 2 * out) = curMean; s(2 + 2 * out) = curW; out += 1
    s(0) = out.toDouble
  }

  private def add(s: Array[Double], mean: Double, weight: Double): Unit = {
    if (used(s) >= Cap) compress(s)
    val n = used(s)
    s(1 + 2 * n) = mean; s(2 + 2 * n) = weight
    s(0) = (n + 1).toDouble
  }

  private def addAll(s: Array[Double], pairs: Seq[Double]): Unit = {
    var i = 0
    while (i + 1 < pairs.length) { add(s, pairs(i), pairs(i + 1)); i += 2 }
  }

  /** Final serialized form: [n, sorted (mean, weight) pairs]; NULL for an
    * empty digest, matching the reference (an empty group's tdigest is
    * NULL, not a zero-centroid blob). */
  private def finishState(s: Array[Double]): Array[Double] = {
    compress(s)
    val n = used(s)
    if (n == 0) return null
    val out = new Array[Double](1 + 2 * n)
    out(0) = n.toDouble
    System.arraycopy(s, 1, out, 1, 2 * n)
    out
  }

  /** Quantile read with linear interpolation between centroid midpoints —
    * the standard t-digest estimator. */
  def valueAtQuantile(d: Seq[Double], q: Double): Double = {
    val n = d.head.toInt
    if (n == 0) return Double.NaN
    val means = Array.tabulate(n)(i => d(1 + 2 * i))
    val weights = Array.tabulate(n)(i => d(2 + 2 * i))
    var total = 0.0
    weights.foreach(total += _)
    val target = math.min(math.max(q, 0.0), 1.0) * total

    // cumulative weight at each centroid's midpoint
    val mid = new Array[Double](n)
    var cum = 0.0
    var i = 0
    while (i < n) { mid(i) = cum + weights(i) / 2; cum += weights(i); i += 1 }

    if (target <= mid(0)) return means(0)
    if (target >= mid(n - 1)) return means(n - 1)
    i = 1
    while (i < n) {
      if (target <= mid(i)) {
        val f = (target - mid(i - 1)) / (mid(i) - mid(i - 1))
        return means(i - 1) + f * (means(i) - means(i - 1))
      }
      i += 1
    }
    means(n - 1)
  }

  /** Inverse read: fraction of weight at or below x (reference:
    * TDigestFunctions.java quantileAtValue). */
  def quantileAtValue(d: Seq[Double], x: Double): Double = {
    val n = d.head.toInt
    if (n == 0) return Double.NaN
    val means = Array.tabulate(n)(i => d(1 + 2 * i))
    val weights = Array.tabulate(n)(i => d(2 + 2 * i))
    var total = 0.0
    weights.foreach(total += _)
    if (x <= means(0)) return 0.0
    if (x >= means(n - 1)) return 1.0
    val mid = new Array[Double](n)
    var cum = 0.0
    var i = 0
    while (i < n) { mid(i) = cum + weights(i) / 2; cum += weights(i); i += 1 }
    i = 1
    while (i < n) {
      if (x <= means(i)) {
        val f = (x - means(i - 1)) / (means(i) - means(i - 1))
        return (mid(i - 1) + f * (mid(i) - mid(i - 1))) / total
      }
      i += 1
    }
    1.0
  }

  // Input types are BOXED throughout: the reference aggregates skip SQL
  // NULL rows (TDigestAggregationFunction et al. only see non-null
  // positions), and a primitive Spark encoder would instead throw on a
  // null in a nullable column. reduce() guards replicate the skip.
  class TDigestAgg extends Aggregator[java.lang.Double, Array[Double], Array[Double]] {
    def zero: Array[Double] = emptyState
    def reduce(b: Array[Double], a: java.lang.Double): Array[Double] = {
      if (a != null) add(b, a, 1.0)
      b
    }
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
      val n2 = used(b2)
      var i = 0
      while (i < n2) { add(b1, b2(1 + 2 * i), b2(2 + 2 * i)); i += 1 }
      b1
    }
    def finish(r: Array[Double]): Array[Double] = finishState(r)
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** merge(tdigest) — re-aggregate already-built digests (reference:
    * TDigestAggregationFunction.java merge form). */
  class MergeTDigestAgg extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
    def zero: Array[Double] = emptyState
    def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
      if (a != null && a.nonEmpty) addAll(b, a.drop(1).take(2 * a.head.toInt))
      b
    }
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
      val n2 = used(b2)
      var i = 0
      while (i < n2) { add(b1, b2(1 + 2 * i), b2(2 + 2 * i)); i += 1 }
      b1
    }
    def finish(r: Array[Double]): Array[Double] = finishState(r)
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Presto's weighted approx_percentile(x, w, p) (reference:
    * ApproximateWeightedPercentileAggregations.java) — Spark's builtin
    * has no weight form and its 3-arg spelling (accuracy) collides, so
    * the weighted form registers under an explicit name. Rides the same
    * weighted t-digest state; p is carried in the buffer. Rows where x or
    * the weight is NULL are skipped like the reference's; an empty group
    * returns NULL, not NaN. */
  class WeightedPercentileAgg
      extends Aggregator[(java.lang.Double, java.lang.Double, java.lang.Double),
        (Double, Array[Double]), java.lang.Double] {
    def zero: (Double, Array[Double]) = (-1.0, emptyState)
    def reduce(
        b: (Double, Array[Double]),
        a: (java.lang.Double, java.lang.Double, java.lang.Double)): (Double, Array[Double]) = {
      if (a._1 == null || a._2 == null || a._3 == null) b
      else {
        add(b._2, a._1, a._2)
        (if (b._1 < 0) a._3.doubleValue else b._1, b._2)
      }
    }
    def merge(b1: (Double, Array[Double]), b2: (Double, Array[Double])): (Double, Array[Double]) = {
      val n2 = used(b2._2)
      var i = 0
      while (i < n2) { add(b1._2, b2._2(1 + 2 * i), b2._2(2 + 2 * i)); i += 1 }
      (math.max(b1._1, b2._1), b1._2)
    }
    def finish(r: (Double, Array[Double])): java.lang.Double = {
      val d = finishState(r._2)
      if (d == null || r._1 < 0) null
      else java.lang.Double.valueOf(valueAtQuantile(d.toSeq, r._1))
    }
    def bufferEncoder: Encoder[(Double, Array[Double])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Array[Double])]()
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** Weighted digest BUILDER (x, w) → serialized digest: the weighted
    * approx_percentile with a percentile ARRAY composes this with
    * td_values_at_quantiles — one digest, queried once per percentile,
    * the reference's plan shape (ApproximateWeightedPercentileAggregations
    * array overload) instead of one digest per percentile. */
  class WeightedTDigestAgg
      extends Aggregator[(java.lang.Double, java.lang.Double), Array[Double], Array[Double]] {
    def zero: Array[Double] = emptyState
    def reduce(b: Array[Double], a: (java.lang.Double, java.lang.Double)): Array[Double] = {
      if (a._1 != null && a._2 != null) add(b, a._1, a._2)
      b
    }
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
      val n2 = used(b2)
      var i = 0
      while (i < n2) { add(b1, b2(1 + 2 * i), b2(2 + 2 * i)); i += 1 }
      b1
    }
    def finish(r: Array[Double]): Array[Double] = finishState(r)
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("tdigest_agg", udaf(new TDigestAgg, Encoders.DOUBLE)),
    FunctionEntry.udf("tdigest_agg_weighted",
      udaf(new WeightedTDigestAgg, Encoders.tuple(Encoders.DOUBLE, Encoders.DOUBLE))),
    FunctionEntry.udf("approx_percentile_weighted",
      udaf(new WeightedPercentileAgg, Encoders.tuple(
        Encoders.DOUBLE, Encoders.DOUBLE, Encoders.DOUBLE))),
    FunctionEntry.udf("merge_tdigest", udaf(new MergeTDigestAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())),
    // boxed returns so a NULL digest yields SQL NULL (reference scalar
    // functions are null-propagating), not NaN
    FunctionEntry.udf("td_value_at_quantile",
      udf((d: Seq[Double], q: Double) =>
        if (d == null || d.isEmpty) null
        else java.lang.Double.valueOf(valueAtQuantile(d, q)))),
    FunctionEntry.udf("td_values_at_quantiles",
      udf((d: Seq[Double], qs: Seq[Double]) =>
        if (d == null || d.isEmpty || qs == null) null
        else qs.map(valueAtQuantile(d, _)))),
    FunctionEntry.udf("td_quantile_at_value",
      udf((d: Seq[Double], x: Double) =>
        if (d == null || d.isEmpty) null
        else java.lang.Double.valueOf(quantileAtValue(d, x)))),
    // scale_tdigest (reference: scalar/TDigestFunctions.java scaleTDigest
    // — every centroid weight multiplied by a positive factor; quantile
    // positions are weight-relative so values_at_quantiles is invariant,
    // but merged-digest contributions rescale)
    FunctionEntry.udf("scale_tdigest",
      udf((d: Seq[Double], factor: Double) =>
        if (d == null || d.isEmpty) null
        else {
          require(factor > 0, "scale factor should be positive")
          val out = d.toArray
          val n = out(0).toInt
          var i = 0
          while (i < n) { out(2 + 2 * i) *= factor; i += 1 }
          out.toSeq
        })),
    // destructure_tdigest (reference: TDigestFunctions.java — row of
    // centroid means/weights plus compression/min/max/sum/count; our
    // digest tracks no exact min/max, so they are the extreme centroid
    // means — documented approximation of an EXPERIMENTAL accessor)
    FunctionEntry.udf("destructure_tdigest",
      udf((d: Seq[Double]) =>
        if (d == null || d.isEmpty) null
        else {
          val n = d.head.toInt
          val pairs = (0 until n)
            .map(i => (d(1 + 2 * i), d(2 + 2 * i))).sortBy(_._1)
          val means = pairs.map(_._1)
          val weights = pairs.map(_._2.round.toInt)
          val sum = pairs.map(p => p._1 * p._2).sum
          val count = pairs.map(_._2).sum.round
          TDigestParts(means, weights, Compression,
            if (means.isEmpty) Double.NaN else means.min,
            if (means.isEmpty) Double.NaN else means.max,
            sum, count)
        })),
  )
}
