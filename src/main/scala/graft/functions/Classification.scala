package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Classification-metric aggregates (reference: presto-main/.../operator/
  * aggregation/PrecisionRecallAggregation.java and its four subclasses +
  * ClassificationThresholdsAggregation): two fixed histograms over
  * pred ∈ [0,1) — true-label weight and false-label weight per bucket —
  * merged by vector addition. For bucket i (threshold i/n), with running
  * weights accumulated over buckets < i:
  *
  *   TP = totalTrue − runningTrue     FP = totalFalse − runningFalse
  *   FN = runningTrue                 TN = runningFalse
  *
  *   classification_precision  → TP / (TP + FP)
  *   classification_recall     → TP / totalTrue
  *   classification_miss_rate  → FN / totalTrue
  *   classification_fall_out   → FP / totalFalse
  *   classification_thresholds → i / n
  *
  * Output arrays stop once runningTrue reaches totalTrue (reference
  * getResultsIterator hasNext condition). State layout:
  * [n, trueW(0..n-1), falseW(0..n-1)].
  */
object Classification {

  sealed trait Metric
  case object Precision extends Metric
  case object Recall extends Metric
  case object MissRate extends Metric
  case object FallOut extends Metric
  case object Thresholds extends Metric

  // Boxed inputs: NULL pred/label rows are skipped like the reference
  // aggregates (PrecisionRecallAggregation only sees non-null positions).
  class ClassificationAgg(metric: Metric)
      extends Aggregator[(java.lang.Long, java.lang.Double, java.lang.Boolean),
        Array[Double], Seq[Double]] {

    private def bucketOf(pred: Double, n: Int): Int =
      math.min(math.max((pred * n).toInt, 0), n - 1)

    def zero: Array[Double] = Array(0.0)
    def reduce(
        b: Array[Double],
        a: (java.lang.Long, java.lang.Double, java.lang.Boolean)): Array[Double] = {
      if (a._1 == null || a._2 == null || a._3 == null) return b
      val n = a._1.toInt
      val st = if (b.length == 1) Array.fill(1 + 2 * n)(0.0).updated(0, n.toDouble) else b
      require(st(0).toInt == n, "bucket count must be constant per aggregation")
      val idx = bucketOf(a._2, n) + (if (a._3.booleanValue) 1 else 1 + n)
      st(idx) += 1.0
      st
    }
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
      if (b1.length == 1) b2
      else if (b2.length == 1) b1
      else {
        var i = 1
        while (i < b1.length) { b1(i) += b2(i); i += 1 }
        b1
      }
    def finish(r: Array[Double]): Seq[Double] = {
      if (r.length == 1) return Vector.empty
      val n = r(0).toInt
      val trueW = r.slice(1, 1 + n)
      val falseW = r.slice(1 + n, 1 + 2 * n)
      val totalTrue = trueW.sum
      val totalFalse = falseW.sum
      val out = Vector.newBuilder[Double]
      var runningTrue = 0.0
      var runningFalse = 0.0
      var i = 0
      while (i < n && totalTrue > runningTrue) {
        val tp = totalTrue - runningTrue
        val fp = totalFalse - runningFalse
        out += (metric match {
          case Precision  => tp / (tp + fp)
          case Recall     => tp / totalTrue
          case MissRate   => runningTrue / totalTrue
          case FallOut    => fp / totalFalse
          case Thresholds => i.toDouble / n
        })
        runningTrue += trueW(i)
        runningFalse += falseW(i)
        i += 1
      }
      out.result()
    }
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  lazy val functions: Seq[FunctionEntry] = {
    val inEnc = Encoders.tuple(
      Encoders.LONG, Encoders.DOUBLE, Encoders.BOOLEAN)
    Seq(
      "classification_precision" -> Precision,
      "classification_recall" -> Recall,
      "classification_miss_rate" -> MissRate,
      "classification_fall_out" -> FallOut,
      "classification_thresholds" -> Thresholds,
    ).map { case (name, m) =>
      FunctionEntry.udf(name, udaf(new ClassificationAgg(m), inEnc))
    }
  }
}
