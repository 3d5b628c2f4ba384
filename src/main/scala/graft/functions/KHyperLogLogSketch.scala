package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** Behavior-compatible KHyperLogLog (reference: presto-main/.../type/
  * khyperloglog/KHyperLogLog.java + KHyperLogLogFunctions.java) — the
  * joinability/uniqueness sketch: the K smallest key hashes, each mapped
  * to a distinct-counter of the values seen with that key. Powers
  * `uniqueness_distribution` (what fraction of keys map to 1, 2, … values
  * — the PII-screening signal) and `reidentification_potential`.
  *
  *   khyperloglog_agg(x, y)                  → digest (aggregate)
  *   merge_khll(d)                           → digest (merge aggregate)
  *   khll_cardinality(d)                     → bigint (distinct-x; exact
  *       under K keys, Beyer et-al density estimator past it)
  *   khll_uniqueness_distribution(d, n)      → sorted array(struct(bucket,
  *       frac)) — per-key value-count histogram as fractions, buckets
  *       clamped to n like the reference's histogramSize
  *   khll_reidentification_potential(d, t)   → double (fraction of keys
  *       with ≤ t distinct values)
  *
  * Divergence by declared scope: per-key counters are EXACT bounded sets
  * (cap [[ValueCap]]) instead of 256-bucket HLLs — identical behavior up
  * to the cap, and the cap is far above the per-key cardinalities these
  * screens target (reference HLL error would exceed the gap well before).
  * Digest = sorted (keyHash, sorted valueHashes) entries + overflow flag,
  * so equal data produces bit-equal digests regardless of partitioning.
  */
object KHyperLogLogSketch {

  val MaxKeys = 4096
  val ValueCap = 256

  // (overflowed, entries) — COMPACT form: sorted by key hash, value lists
  // sorted and deduped, ≤ MaxKeys keys / ≤ ValueCap values. Between
  // compactions the tail may hold unsorted single-value pairs appended by
  // reduce() — an O(1) amortized insert instead of an O(K) structure copy
  // per input row; compact() restores the invariant. Both the insert and
  // merge paths keep the SMALLEST hashes on overflow, so equal data gives
  // a bit-equal compacted digest under any partitioning or row order.
  private type State = (Boolean, Vector[(Long, Seq[Long])])

  private def compact(st: State): State = {
    val merged = st._2
      .groupBy(_._1)
      .map { case (k, vs) =>
        k -> vs.flatMap(_._2).distinct.sorted.take(ValueCap)
      }
      .toVector.sortBy(_._1)
    val ov = st._1 || merged.length > MaxKeys
    (ov, merged.take(MaxKeys))
  }

  private def insert(st: State, kh: Long, vh: Long): State = {
    val appended = (st._1, st._2 :+ (kh, Seq(vh)))
    if (appended._2.length > 2 * MaxKeys) compact(appended) else appended
  }

  private def mergeStates(a: State, b: State): State =
    compact((a._1 || b._1, a._2 ++ b._2))

  /** Serialized digest: sentinel (Long.MinValue, [overflowFlag]) + entries
    * in compact form. */
  private def serialize(st: State): Seq[(Long, Seq[Long])] = {
    val c = compact(st)
    (Long.MinValue, Seq(if (c._1) 1L else 0L)) +: c._2
  }

  private def deserialize(d: Seq[(Long, Seq[Long])]): State =
    (d.head._2.head == 1L, d.tail.toVector)

  /** Number of minhash entries (reference getMinhashSize — the 1-arg
    * uniqueness_distribution's histogram bound). */
  def minhashSize(d: Seq[(Long, Seq[Long])]): Long = deserialize(d)._2.size.toLong

  def cardinality(d: Seq[(Long, Seq[Long])]): Long = {
    val (ov, entries) = deserialize(d)
    if (!ov || entries.size <= 1) entries.size.toLong
    else {
      // Beyer et al. density estimator: stored hashes are sign-flipped so
      // signed position IS the unsigned fraction of the hash range.
      val frac =
        (entries.last._1.toDouble - Long.MinValue.toDouble) / math.pow(2, 64)
      math.round((entries.size - 1) / math.max(frac, 1e-12))
    }
  }

  def uniquenessDistribution(
      d: Seq[(Long, Seq[Long])], histogramSize: Long): Seq[(Long, Double)] = {
    val entries = deserialize(d)._2
    val n = entries.size
    val base = (1L to histogramSize).map(_ -> 0.0).toMap
    val filled = entries.foldLeft(base) { (acc, e) =>
      val bucket = math.min(e._2.size.toLong, histogramSize)
      acc.updated(bucket, acc(bucket) + (if (n == 0) 0.0 else 1.0 / n))
    }
    filled.toSeq.sortBy(_._1)
  }

  def reidentificationPotential(d: Seq[(Long, Seq[Long])], threshold: Long): Double = {
    val entries = deserialize(d)._2
    if (entries.isEmpty) 0.0
    else entries.count(_._2.size <= threshold).toDouble / entries.size
  }

  class KhllAgg(enc: Encoder[State])
      extends Aggregator[(String, String), State, Seq[(Long, Seq[Long])]] {
    def zero: State = (false, Vector.empty)
    def reduce(b: State, a: (String, String)): State =
      if (a == null || a._1 == null) b
      else insert(b, SetDigestSketch.hashOf(a._1),
        SetDigestSketch.hashOf(String.valueOf(a._2)))
    def merge(b1: State, b2: State): State = mergeStates(b1, b2)
    def finish(r: State): Seq[(Long, Seq[Long])] = serialize(r)
    def bufferEncoder: Encoder[State] = enc
    def outputEncoder: Encoder[Seq[(Long, Seq[Long])]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Seq[Long])]]()
  }

  class MergeKhllAgg(enc: Encoder[State])
      extends Aggregator[Seq[(Long, Seq[Long])], State, Seq[(Long, Seq[Long])]] {
    def zero: State = (false, Vector.empty)
    def reduce(b: State, a: Seq[(Long, Seq[Long])]): State =
      if (a == null || a.isEmpty) b else mergeStates(b, deserialize(a))
    def merge(b1: State, b2: State): State = mergeStates(b1, b2)
    def finish(r: State): Seq[(Long, Seq[Long])] = serialize(r)
    def bufferEncoder: Encoder[State] = enc
    def outputEncoder: Encoder[Seq[(Long, Seq[Long])]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Seq[Long])]]()
  }

  lazy val functions: Seq[FunctionEntry] = {
    val enc: Encoder[State] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[State]()
    val reidentification = udf((d: Seq[(Long, Seq[Long])], t: Long) =>
      if (d == null || d.isEmpty) null
      else java.lang.Double.valueOf(reidentificationPotential(d, t)))
    val uniquenessN = FunctionEntry.udf("khll_uniqueness_distribution",
      udf((d: Seq[(Long, Seq[Long])], n: Long) =>
        if (d == null || d.isEmpty) null else uniquenessDistribution(d, n)))
    Seq(
      FunctionEntry.udf("khyperloglog_agg",
        udaf(new KhllAgg(enc), Encoders.tuple(Encoders.STRING, Encoders.STRING))),
      FunctionEntry.udf("merge_khll", udaf(new MergeKhllAgg(enc),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Seq[Long])]]())),
      FunctionEntry.udf("khll_cardinality",
        udf((d: Seq[(Long, Seq[Long])]) =>
          if (d == null || d.isEmpty) null
          else java.lang.Long.valueOf(cardinality(d)))),
      uniquenessN,
      FunctionEntry.udf("khll_reidentification_potential", reidentification),
      // the reference SQL names (KHyperLogLogFunctions.java:80-110):
      // reidentification_potential is 2-arg; uniqueness_distribution's
      // 1-arg form uses the digest's own minhash size as the histogram
      // bound (getMinhashSize()), its 2-arg form is the explicit size
      FunctionEntry.udf("reidentification_potential", reidentification),
      FunctionEntry.overload("uniqueness_distribution",
        FunctionEntry.udf("uniqueness_distribution",
          udf((d: Seq[(Long, Seq[Long])]) =>
            if (d == null || d.isEmpty) null
            else uniquenessDistribution(d, minhashSize(d)))),
        uniquenessN),
    )
  }
}
