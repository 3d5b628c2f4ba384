package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** Behavior-compatible set digest (reference: presto-main/.../type/
  * setdigest/SetDigest.java + SetDigestFunctions.java; the algorithm is
  * Broder's single-hash MinHash). A digest is the k smallest 64-bit
  * element hashes (k = 8192 like the reference's DEFAULT_MAX_HASHES) plus
  * an overflow flag: while fewer than k distinct hashes were seen the
  * digest IS the exact hash set. Digests merge by union-then-trim —
  * associative and deterministic, so partials ship across exchanges and
  * re-running a 100 TB job reproduces the digest bit-for-bit.
  *
  *   make_set_digest(x)                  → digest (aggregate)
  *   merge_set_digest(d)                 → digest (merge aggregate)
  *   set_digest_cardinality(d)           → bigint  (distinct estimate;
  *       exact when no overflow, else the k-th order-statistic estimator —
  *       the reference uses an HLL here: behavior, not bytes)
  *   jaccard_index(d1, d2)               → double (reference formula:
  *       shared count among the min(|d1|,|d2|) smallest union hashes)
  *   intersection_cardinality(d1, d2)    → bigint (exact set intersection
  *       when both digests are exact, else jaccard × union estimate)
  *
  * State layout: (overflowed, sorted hash list); hashes are md5 first-8-
  * bytes sign-flipped so signed order equals unsigned order.
  */
object SetDigestSketch {

  val MaxHashes = 8192

  def hashOf(v: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(md).getLong ^ Long.MinValue
  }

  // State between compactions may carry an unsorted, possibly-duplicated
  // tail appended by reduce() — an O(1) amortized insert instead of an
  // O(K) structure copy per input row; compact() (sort, dedupe, keep the
  // K smallest) restores the canonical form, and both insert and merge
  // overflow by dropping the LARGEST hashes, so equal data gives a
  // bit-equal compacted digest under any partitioning or row order.
  private def compact(state: (Boolean, Seq[Long])): (Boolean, Seq[Long]) = {
    val sorted = state._2.distinct.sorted
    if (sorted.length <= MaxHashes) (state._1, sorted)
    else (true, sorted.take(MaxHashes))
  }

  private def insert(state: (Boolean, Seq[Long]), h: Long): (Boolean, Seq[Long]) = {
    val appended = (state._1, state._2 :+ h)
    if (appended._2.length > 2 * MaxHashes) compact(appended) else appended
  }

  private def union(
      a: (Boolean, Seq[Long]), b: (Boolean, Seq[Long])): (Boolean, Seq[Long]) =
    compact((a._1 || b._1, a._2 ++ b._2))

  /** Digest serialization: element 0 = 1 if overflowed else 0, rest =
    * the compacted sorted hashes. */
  private def serialize(s: (Boolean, Seq[Long])): Seq[Long] = {
    val c = compact(s)
    (if (c._1) 1L else 0L) +: c._2
  }

  private def deserialize(d: Seq[Long]): (Boolean, Seq[Long]) =
    (d.head == 1L, d.tail)

  def cardinality(d: Seq[Long]): Long = {
    val (ov, hs) = deserialize(d)
    if (!ov || hs.isEmpty) hs.length.toLong
    else {
      // k-th order statistic: the k smallest of n uniform hashes end near
      // fraction k/n of the space, so E[distinct] ≈ (k-1)/frac(h_k).
      // Stored values are sign-flipped, so SIGNED position IS the
      // unsigned fraction — read it directly off the stored value.
      val frac = (hs.last.toDouble - Long.MinValue.toDouble) / math.pow(2, 64)
      math.round((hs.length - 1) / math.max(frac, 1e-12))
    }
  }

  /** Reference jaccardIndex (SetDigest.java:166-183): walk the union's
    * smallest hashes, bounded by the smaller digest's size. */
  def jaccardIndex(d1: Seq[Long], d2: Seq[Long]): Double = {
    val a = deserialize(d1)._2.toSet
    val b = deserialize(d2)._2.toSet
    val m = math.min(a.size, b.size)
    if (m == 0) return 0.0
    val unionSmallest = (a ++ b).toSeq.sorted.take(m)
    unionSmallest.count(h => a.contains(h) && b.contains(h)).toDouble / m
  }

  def intersectionCardinality(d1: Seq[Long], d2: Seq[Long]): Long = {
    val (ov1, a) = deserialize(d1)
    val (ov2, b) = deserialize(d2)
    if (!ov1 && !ov2) a.toSet.intersect(b.toSet).size.toLong
    else {
      val j = jaccardIndex(d1, d2)
      val unionEst = cardinality(serialize(union((ov1, a), (ov2, b))))
      math.round(j * unionEst)
    }
  }

  class MakeSetDigestAgg(enc: Encoder[(Boolean, Seq[Long])])
      extends Aggregator[String, (Boolean, Seq[Long]), Seq[Long]] {
    def zero: (Boolean, Seq[Long]) = (false, Vector.empty)
    def reduce(b: (Boolean, Seq[Long]), a: String): (Boolean, Seq[Long]) =
      if (a == null) b else insert(b, hashOf(a))
    def merge(b1: (Boolean, Seq[Long]), b2: (Boolean, Seq[Long])): (Boolean, Seq[Long]) =
      union(b1, b2)
    def finish(r: (Boolean, Seq[Long])): Seq[Long] = serialize(r)
    def bufferEncoder: Encoder[(Boolean, Seq[Long])] = enc
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  class MergeSetDigestAgg(enc: Encoder[(Boolean, Seq[Long])])
      extends Aggregator[Seq[Long], (Boolean, Seq[Long]), Seq[Long]] {
    def zero: (Boolean, Seq[Long]) = (false, Vector.empty)
    def reduce(b: (Boolean, Seq[Long]), a: Seq[Long]): (Boolean, Seq[Long]) =
      if (a == null || a.isEmpty) b else union(b, deserialize(a))
    def merge(b1: (Boolean, Seq[Long]), b2: (Boolean, Seq[Long])): (Boolean, Seq[Long]) =
      union(b1, b2)
    def finish(r: (Boolean, Seq[Long])): Seq[Long] = serialize(r)
    def bufferEncoder: Encoder[(Boolean, Seq[Long])] = enc
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  lazy val functions: Seq[FunctionEntry] = {
    val enc: Encoder[(Boolean, Seq[Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Boolean, Seq[Long])]()
    Seq(
      FunctionEntry.udf("make_set_digest",
        udaf(new MakeSetDigestAgg(enc), Encoders.STRING)),
      FunctionEntry.udf("merge_set_digest", udaf(new MergeSetDigestAgg(enc),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())),
      FunctionEntry.udf("set_digest_cardinality",
        udf((d: Seq[Long]) =>
          if (d == null || d.isEmpty) null
          else java.lang.Long.valueOf(cardinality(d)))),
      FunctionEntry.udf("jaccard_index",
        udf((a: Seq[Long], b: Seq[Long]) =>
          if (a == null || b == null || a.isEmpty || b.isEmpty) null
          else java.lang.Double.valueOf(jaccardIndex(a, b)))),
      FunctionEntry.udf("intersection_cardinality",
        udf((a: Seq[Long], b: Seq[Long]) =>
          if (a == null || b == null || a.isEmpty || b.isEmpty) null
          else java.lang.Long.valueOf(intersectionCardinality(a, b)))),
    )
  }
}
