package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise vector-sum aggregate: sums `array<float>` rows into one
  * `array<double>`, accumulated per element. This is the shuffle-shaped
  * half of a distributed centroid update (k-means, mean-pooling): the
  * partial aggregate combines map-side, so a groupBy over n vectors
  * shuffles k·dim doubles (one partial per group per partition) instead
  * of the n·dim rows a posexplode-by-dimension update moves —
  * the difference between a bounded model update and a corpus-sized
  * exchange at 10⁹ vectors (see [[graft.ops.IvfIndex.train]]).
  *
  * Mixed lengths take the max length (shorter inputs contribute zero to
  * the tail); null rows are skipped like every SQL aggregate. The
  * reference has no vector aggregate (its closest is per-key
  * map_union_sum, presto-main/.../aggregation/MapUnionSumAggregation
  * .java) — this is training-data-pipeline extension surface.
  */
object VecSum {

  class VecSumAgg extends Aggregator[Array[Float], Array[Double], Array[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray

    private def addInto(buf: Array[Double], xs: Array[Double]): Array[Double] = {
      if (xs.isEmpty) return buf
      val out = if (buf.length >= xs.length) buf
        else java.util.Arrays.copyOf(buf, xs.length)
      var i = 0
      while (i < xs.length) { out(i) += xs(i); i += 1 }
      out
    }

    override def reduce(buf: Array[Double], v: Array[Float]): Array[Double] =
      if (v == null) buf
      else addInto(buf, {
        val d = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
        d
      })

    override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.length >= b.length) addInto(a, b) else addInto(b, a)

    // all-null / empty group → NULL, matching sum()'s contract
    override def finish(buf: Array[Double]): Array[Double] =
      if (buf.isEmpty) null else buf

    override def bufferEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
  }

  private val udf =
    udaf(new VecSumAgg, ExpressionEncoder[Array[Float]]())

  /** DataFrame-side column function (no registry needed). */
  def sum(c: Column): Column = udf(c)

  lazy val functions: Seq[FunctionEntry] =
    Seq(FunctionEntry.udf("graft_vec_sum", udf))
}
