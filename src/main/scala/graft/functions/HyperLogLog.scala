package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** Behavior-compatible HyperLogLog sketch surface (reference:
  * presto-main/.../operator/aggregation/ApproximateSetAggregation.java,
  * MergeHyperLogLogAggregation.java, scalar cardinality in
  * HyperLogLogFunctions.java; SURVEY §1.2 — behavior-compatible, not
  * byte-compatible). Exposes the same three-piece API Presto has:
  *
  *   approx_set_agg(xxhash64(col))  → binary sketch  (aggregate)
  *   merge_hll(sketch)              → binary sketch  (merge aggregate)
  *   hll_cardinality(sketch)        → bigint         (scalar)
  *
  * Dense HLL, p=12 → 4096 one-byte registers, σ ≈ 1.04/√4096 ≈ 1.6%.
  * The state is an elementwise-max-mergeable register array — the
  * property that makes sketches shippable across exchanges at 100 TB
  * (partial aggregation works; re-aggregation never rescans raw data).
  * Inputs are pre-hashed with xxhash64 so the aggregator is type-agnostic.
  */
object HyperLogLog {

  val P = 12
  val M: Int = 1 << P

  private def emptySketch: Array[Byte] = new Array[Byte](M)

  private def add(regs: Array[Byte], hash: Long): Array[Byte] = {
    val idx = (hash >>> (64 - P)).toInt
    val w = hash << P
    val rho = (if (w == 0) 64 - P else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rho > regs(idx)) regs(idx) = rho.toByte
    regs
  }

  private def maxMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  /** Standard HLL estimate with linear-counting small-range correction. */
  def estimate(regs: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * M * M / sum
    val corrected =
      if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) else e
    math.round(corrected)
  }

  // Boxed input so NULL hashes are skipped (reference ApproximateSet
  // aggregation ignores null positions) instead of failing to decode.
  class ApproxSetAgg extends Aggregator[java.lang.Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = emptySketch
    def reduce(b: Array[Byte], a: java.lang.Long): Array[Byte] =
      if (a == null) b else add(b, a)
    def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = maxMerge(b1, b2)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Presto merge(hll): re-aggregate sketches without touching raw data. */
  class MergeHllAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = emptySketch
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] =
      if (a == null) b else maxMerge(b, a)
    def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = maxMerge(b1, b2)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("approx_set_agg", udaf(new ApproxSetAgg, Encoders.LONG)),
    FunctionEntry.udf("merge_hll", udaf(new MergeHllAgg, Encoders.BINARY)),
    FunctionEntry.udf("hll_cardinality", udf((s: Array[Byte]) =>
      if (s == null) 0L else estimate(s))),
    // empty_approx_set() (reference: scalar/HyperLogLogFunctions.java) —
    // the zero sketch, mergeable with any other
    FunctionEntry.udf("empty_approx_set", udf(() => emptySketch)),
  )
}
