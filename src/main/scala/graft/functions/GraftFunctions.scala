package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** Custom function registry (SURVEY §2.11): the Spark equivalents of the
  * reference's annotated-function surface — scalar UDFs via udf()
  * (reference: @ScalarFunction + metadata/FunctionListBuilder.java) and
  * typed Aggregators via udaf() (reference: @AggregationFunction compiled
  * by aggregation/AccumulatorCompiler.java). Every function is
  * SQL-invocable on any session built with graft.plans.GraftExtensions.
  */
object GraftFunctions {

  /** Presto map_union_sum (reference: presto-main/.../operator/
    * aggregation/MapUnionSumAggregation.java): merge maps, summing values
    * on key collisions. */
  class MapUnionSumAgg(enc: Encoder[Map[String, Long]])
      extends Aggregator[Map[String, Long], Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], a: Map[String, Long]): Map[String, Long] =
      merge(b, if (a == null) Map.empty else a)
    def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] =
      b2.foldLeft(b1) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    def finish(r: Map[String, Long]): Map[String, Long] = r
    def bufferEncoder: Encoder[Map[String, Long]] = enc
    def outputEncoder: Encoder[Map[String, Long]] = enc
  }

  /** Presto geometric_mean (reference: presto-main/.../operator/
    * aggregation/GeometricMeanAggregations.java): exp of the mean log.
    * Mergeable state (Σlog, n) — partial aggregation works. Empty /
    * all-NULL group yields NULL (the reference output() appendNull()s
    * when count==0), hence the boxed output encoder — a primitive Double
    * would surface NaN instead. */
  object GeometricMeanAgg
      extends Aggregator[java.lang.Double, (Double, Long), java.lang.Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: java.lang.Double): (Double, Long) =
      if (a == null) b else (b._1 + math.log(a), b._2 + 1)
    def merge(b1: (Double, Long), b2: (Double, Long)): (Double, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    def finish(r: (Double, Long)): java.lang.Double =
      if (r._2 == 0) null else java.lang.Double.valueOf(math.exp(r._1 / r._2))
    def bufferEncoder: Encoder[(Double, Long)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** Light stemmer (reference: presto-main/.../operator/scalar/
    * WordStemFunction.java is Porter-based; this strips one plain English
    * suffix so the oracle can reproduce it with a single regex). */
  def wordStemLite(w: String): String =
    if (w == null) null else w.replaceAll("(ing|ed|s)$", "")

  /** Presto multimap_agg(k, v) → map(k, array(v)) (reference: presto-main/
    * .../operator/aggregation/multimapagg/MultimapAggregationFunction.java).
    * Registered for string keys/values — the flat UDF registry can't be
    * generic over types the way the reference's bound type variables are;
    * other key/value types go through map_canon + collect_list composition.
    * Values keep arrival order within a key, like the reference. */
  class MultimapAgg(enc: Encoder[Map[String, Seq[String]]])
      extends Aggregator[(String, String), Map[String, Seq[String]], Map[String, Seq[String]]] {
    def zero: Map[String, Seq[String]] = Map.empty
    def reduce(b: Map[String, Seq[String]], a: (String, String)): Map[String, Seq[String]] =
      if (a == null || a._1 == null) b
      else b.updated(a._1, b.getOrElse(a._1, Vector.empty) :+ a._2)
    def merge(b1: Map[String, Seq[String]], b2: Map[String, Seq[String]]): Map[String, Seq[String]] =
      b2.foldLeft(b1) { case (acc, (k, vs)) =>
        acc.updated(k, acc.getOrElse(k, Vector.empty) ++ vs)
      }
    def finish(r: Map[String, Seq[String]]): Map[String, Seq[String]] = r
    def bufferEncoder: Encoder[Map[String, Seq[String]]] = enc
    def outputEncoder: Encoder[Map[String, Seq[String]]] = enc
  }

  /** Presto map_agg(k, v) → map(k, v) (reference: presto-main/.../
    * operator/aggregation/MapAggregationFunction.java over KeyValuePairs,
    * whose TypedSet IGNORES duplicate keys — first arrival wins; we keep
    * the same rule, made deterministic by Spark's within-partition order
    * and a first-wins merge). String keys/values — same flat-registry
    * narrowing as multimap_agg; other types compose map_from_entries +
    * collect_list. NULL keys are skipped like the reference's
    * NULLABLE_BLOCK_INPUT_CHANNEL path, which rejects null keys. */
  class MapAggAgg(enc: Encoder[Map[String, String]])
      extends Aggregator[(String, String), Map[String, String], Map[String, String]] {
    def zero: Map[String, String] = Map.empty
    def reduce(b: Map[String, String], a: (String, String)): Map[String, String] =
      if (a == null || a._1 == null || b.contains(a._1)) b else b.updated(a._1, a._2)
    def merge(b1: Map[String, String], b2: Map[String, String]): Map[String, String] =
      b2.foldLeft(b1) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc else acc.updated(k, v)
      }
    def finish(r: Map[String, String]): Map[String, String] = r
    def bufferEncoder: Encoder[Map[String, String]] = enc
    def outputEncoder: Encoder[Map[String, String]] = enc
  }

  /** Presto map_union(map) → map (reference: presto-main/.../operator/
    * aggregation/MapUnionAggregation.java — merges input maps; on key
    * collision the first-seen value is retained, same TypedSet rule as
    * map_agg). String-keyed, like the rest of the map-agg family. */
  class MapUnionAgg(enc: Encoder[Map[String, String]])
      extends Aggregator[Map[String, String], Map[String, String], Map[String, String]] {
    def zero: Map[String, String] = Map.empty
    def reduce(b: Map[String, String], a: Map[String, String]): Map[String, String] =
      if (a == null) b
      else a.foldLeft(b) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc else acc.updated(k, v)
      }
    def merge(b1: Map[String, String], b2: Map[String, String]): Map[String, String] =
      b2.foldLeft(b1) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc else acc.updated(k, v)
      }
    def finish(r: Map[String, String]): Map[String, String] = r
    def bufferEncoder: Encoder[Map[String, String]] = enc
    def outputEncoder: Encoder[Map[String, String]] = enc
  }

  /** Presto histogram(x) → map(x, bigint) (reference: presto-main/.../
    * operator/aggregation/histogram/Histogram.java — per-value counts).
    * String-keyed; NULLs are skipped (the reference's input channel is
    * non-null). Mergeable count maps: partial aggregation combines
    * map-side, so the shuffle carries one map per (group, partition). */
  class HistogramAgg(enc: Encoder[Map[String, Long]])
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], a: String): Map[String, Long] =
      if (a == null) b else b.updated(a, b.getOrElse(a, 0L) + 1L)
    def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] =
      b2.foldLeft(b1) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    def finish(r: Map[String, Long]): Map[String, Long] = r
    def bufferEncoder: Encoder[Map[String, Long]] = enc
    def outputEncoder: Encoder[Map[String, Long]] = enc
  }

  /** Presto approx_most_frequent(buckets, value, capacity) →
    * map(value, bigint) (reference: presto-main/.../operator/aggregation/
    * approxmostfrequent/ApproximateMostFrequentFunction.java — space
    * saving sketch of `capacity` slots, top `buckets` emitted). State is
    * the capped count map (≤ capacity entries — bounded, shuffle-safe at
    * any group count); eviction replaces the minimum-count key and
    * inherits its count + 1; merge folds the other side in under the
    * same weighted eviction rule (incoming key inherits the evicted
    * minimum), preserving the overestimate-only guarantee.
    * Exact when capacity ≥ distinct values (the corpus-testable regime);
    * otherwise surviving counts are the sketch's usual overestimates.
    * buckets/capacity must be constant across a group (they are literals
    * in practice, as in the reference's signature). */
  class ApproxMostFrequentAgg(enc: Encoder[(Int, Int, Map[String, Long])])
      extends Aggregator[(Int, String, Int), (Int, Int, Map[String, Long]),
        Map[String, Long]] {
    def zero: (Int, Int, Map[String, Long]) = (0, 0, Map.empty)
    def reduce(b: (Int, Int, Map[String, Long]), a: (Int, String, Int))
        : (Int, Int, Map[String, Long]) = {
      if (a == null || a._2 == null) return b
      val (buckets, cap) = (a._1, a._3)
      require(buckets > 0, s"approx_most_frequent: buckets must be positive, got $buckets")
      require(cap > 0, s"approx_most_frequent: capacity must be positive, got $cap")
      val m = b._3
      val next =
        if (m.contains(a._2)) m.updated(a._2, m(a._2) + 1L)
        else if (m.size < cap) m.updated(a._2, 1L)
        else { // space-saving eviction: min-count key's slot is inherited
          val (mk, mc) = m.minBy { case (k, c) => (c, k) }
          (m - mk).updated(a._2, mc + 1L)
        }
      (buckets, cap, next)
    }
    def merge(b1: (Int, Int, Map[String, Long]), b2: (Int, Int, Map[String, Long]))
        : (Int, Int, Map[String, Long]) = {
      // Weighted space-saving merge: fold the other side's entries in one
      // at a time under the SAME eviction rule as the single-stream path
      // (evicted minimum's count is inherited by the incoming key). A
      // sum-then-truncate merge would discard the evicted keys' mass
      // entirely, letting merged counts UNDERestimate true frequencies —
      // the sketch's guarantee is overestimate-only. Exact regime
      // (capacity ≥ distinct values) never evicts, so corpus results are
      // unchanged and — since no entry is ever dropped — partition
      // arrival order cannot matter there. In the EVICTION regime the
      // merge is asymmetric (b2 folds into b1), so merge(a,b) and
      // merge(b,a) can keep different keys; the overestimate guarantee
      // holds either way, order-independence does NOT. The fixed fold
      // order (count desc, key) only pins which of b2's own entries
      // fold first, for reproducibility of a single merge call.
      val buckets = math.max(b1._1, b2._1)
      val cap = math.max(b1._2, b2._2)
      val merged = b2._3.toSeq.sortBy { case (k, c) => (-c, k) }
        .foldLeft(b1._3) { case (m, (k, c)) =>
          if (m.contains(k)) m.updated(k, m(k) + c)
          else if (cap <= 0 || m.size < cap) m.updated(k, c)
          else {
            val (mk, mc) = m.minBy { case (k2, c2) => (c2, k2) }
            (m - mk).updated(k, mc + c)
          }
        }
      (buckets, cap, merged)
    }
    def finish(r: (Int, Int, Map[String, Long])): Map[String, Long] =
      if (r._3.isEmpty) null
      else r._3.toSeq.sortBy { case (k, c) => (-c, k) }.take(math.max(r._1, 0)).toMap
    def bufferEncoder: Encoder[(Int, Int, Map[String, Long])] = enc
    def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Presto numeric_histogram(buckets, x) → map(double, double)
    * (reference: presto-main/.../operator/aggregation/NumericHistogram.java
    * — bounded bucket list; on overflow the two closest adjacent buckets
    * merge into their weighted mean, the Ben-Haim & Tom-Tov streaming
    * histogram). State layout: [maxBuckets, v0, w0, v1, w1, …]; merge is
    * concatenation + re-compaction, so partials ship across exchanges. */
  class NumericHistogramAgg
      extends Aggregator[(java.lang.Long, java.lang.Double), Array[Double], Map[Double, Double]] {

    private def used(s: Array[Double]): Int = (s.length - 1) / 2

    private def compact(s: Array[Double], maxBuckets: Int): Array[Double] = {
      var n = used(s)
      if (n <= maxBuckets) return s
      // sort pairs by value
      val idx = Array.range(0, n).sortBy(i => s(1 + 2 * i))
      var values = idx.map(i => s(1 + 2 * i))
      var weights = idx.map(i => s(2 + 2 * i))
      while (n > maxBuckets) {
        var best = 0
        var bestGap = Double.MaxValue
        var i = 0
        while (i < n - 1) {
          val gap = values(i + 1) - values(i)
          if (gap < bestGap) { bestGap = gap; best = i }
          i += 1
        }
        val w = weights(best) + weights(best + 1)
        values(best) = (values(best) * weights(best) +
          values(best + 1) * weights(best + 1)) / w
        weights(best) = w
        values = values.patch(best + 1, Nil, 1)
        weights = weights.patch(best + 1, Nil, 1)
        n -= 1
      }
      val out = new Array[Double](1 + 2 * n)
      out(0) = s(0)
      var i = 0
      while (i < n) { out(1 + 2 * i) = values(i); out(2 + 2 * i) = weights(i); i += 1 }
      out
    }

    def zero: Array[Double] = Array(0.0)
    def reduce(b: Array[Double], a: (java.lang.Long, java.lang.Double)): Array[Double] = {
      // NULL x rows are skipped like the reference aggregate
      if (a._1 == null || a._2 == null) return b
      val withMax = if (b(0) == 0.0) { b(0) = a._1.toDouble; b } else b
      val appended = withMax :+ a._2.doubleValue :+ 1.0
      val max = appended(0).toInt
      if (used(appended) > max + math.max(max / 5, 1)) compact(appended, max)
      else appended
    }
    def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
      val max = math.max(b1(0), b2(0))
      val joined = (b1.drop(1) ++ b2.drop(1)).+:(max)
      if (max == 0.0) joined else compact(joined, max.toInt)
    }
    def finish(r: Array[Double]): Map[Double, Double] = {
      val max = r(0).toInt
      val c = if (max > 0) compact(r, max) else r
      // duplicate bucket VALUES are legal under the cap (compact only runs
      // on overflow) — their weights must merge, not last-write-win
      (0 until used(c))
        .map(i => c(1 + 2 * i) -> c(2 + 2 * i))
        .groupMapReduce(_._1)(_._2)(_ + _)
    }
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Map[Double, Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[Double, Double]]()
  }

  /** Uniform k-sample as a BOTTOM-K HASH sketch (reference:
    * operator/aggregation/ReservoirSampleFunction semantics — a uniform
    * sample of k values — but deterministic instead of RNG-driven: keep
    * the k values with the smallest xxhash64, which is a uniform sample
    * when the hash is uniform). Deterministic makes it testable and
    * idempotent across retries; bottom-k states merge by "union then keep
    * k smallest", so partials ship across exchanges — at 100 TB the
    * sample never touches a single node until the final k rows. */
  class BottomKSampleAgg(enc: Encoder[(Int, Seq[(Long, String)])])
      extends Aggregator[(String, Long), (Int, Seq[(Long, String)]), Seq[String]] {

    /** Stable 64-bit hash of the value — the sampling "random" variate.
      * First 8 md5 bytes, sign-flipped so SIGNED ordering equals unsigned
      * (= lexicographic order of the md5 hex prefix, which lets any
      * engine replay the exact sample: ORDER BY substr(md5(v),1,16)). */
    private def hashOf(v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(md).getLong ^ Long.MinValue
    }

    private def trim(s: Seq[(Long, String)], k: Int): Seq[(Long, String)] =
      if (s.length <= k) s else s.sorted.take(k)

    def zero: (Int, Seq[(Long, String)]) = (0, Vector.empty)
    def reduce(b: (Int, Seq[(Long, String)]), a: (String, Long)): (Int, Seq[(Long, String)]) =
      if (a == null || a._1 == null) b
      else {
        val k = if (b._1 > 0) b._1 else a._2.toInt
        (k, trim(b._2 :+ ((hashOf(a._1), a._1)), k))
      }
    def merge(
        b1: (Int, Seq[(Long, String)]),
        b2: (Int, Seq[(Long, String)])): (Int, Seq[(Long, String)]) = {
      val k = math.max(b1._1, b2._1)
      if (k == 0) (0, Vector.empty) else (k, trim(b1._2 ++ b2._2, k))
    }
    def finish(r: (Int, Seq[(Long, String)])): Seq[String] =
      r._2.sorted.map(_._2)
    def bufferEncoder: Encoder[(Int, Seq[(Long, String)])] = enc
    def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  /** Seeded reservoir sample (reference: operator/aggregation/
    * reservoirsample/UnweightedDoubleReservoirSample.java — a uniform
    * k-sample maintained under merge). The reference draws from an
    * unseeded RNG, so its sample is irreproducible across runs and
    * partitionings; here the "random" variate is a 64-bit digest of
    * (seed, value), which is uniform when the digest is uniform, keyed
    * by the caller's seed (a new seed = a fresh independent sample), and
    * EXACTLY replayable by any engine: the sample is the k values with
    * the smallest md5(seed || ':' || value), i.e.
    * `ORDER BY substr(md5(seed || ':' || v), 1, 16) LIMIT k`.
    * States merge by union-then-keep-k-smallest, so partials ship across
    * exchanges and the sample never concentrates on one node until the
    * final k rows — the same scale shape as bottom_k_sample above.
    *
    * Duplicates caveat: the digest is keyed by (seed, value) only, so
    * every occurrence of a duplicate value hashes identically and sorts
    * adjacently — the k-smallest cut effectively samples the DISTINCT
    * value set (with duplicates clumping in or out together), not the
    * row multiset the reference's per-row RNG samples. Exact uniform
    * row sampling holds for distinct-valued inputs (d08 samples doc_id,
    * which is unique); callers sampling a multiset who want per-row
    * uniformity should key by a unique row id or include an occurrence
    * index in the hashed value.
    */
  class ReservoirSampleAgg(enc: Encoder[(Int, Seq[(Long, String)])])
      extends Aggregator[(String, Long, String), (Int, Seq[(Long, String)]), Seq[String]] {

    /** Sign-flipped first 8 md5 bytes of "seed:value" — signed ordering
      * equals the lexicographic order of the md5 hex prefix. */
    private def hashOf(seed: String, v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((seed + ":" + v).getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(md).getLong ^ Long.MinValue
    }

    private def trim(s: Seq[(Long, String)], k: Int): Seq[(Long, String)] =
      if (s.length <= k) s else s.sorted.take(k)

    def zero: (Int, Seq[(Long, String)]) = (0, Vector.empty)
    def reduce(
        b: (Int, Seq[(Long, String)]),
        a: (String, Long, String)): (Int, Seq[(Long, String)]) =
      if (a == null || a._1 == null) b
      else {
        val k = if (b._1 > 0) b._1 else a._2.toInt
        (k, trim(b._2 :+ ((hashOf(if (a._3 == null) "" else a._3, a._1), a._1)), k))
      }
    def merge(
        b1: (Int, Seq[(Long, String)]),
        b2: (Int, Seq[(Long, String)])): (Int, Seq[(Long, String)]) = {
      val k = math.max(b1._1, b2._1)
      if (k == 0) (0, Vector.empty) else (k, trim(b1._2 ++ b2._2, k))
    }
    def finish(r: (Int, Seq[(Long, String)])): Seq[String] =
      r._2.sorted.map(_._2)
    def bufferEncoder: Encoder[(Int, Seq[(Long, String)])] = enc
    def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  lazy val functions: Seq[FunctionEntry] = {
    val mapEnc: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    val strMapEnc: Encoder[Map[String, String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, String]]()
    val amfEnc: Encoder[(Int, Int, Map[String, Long])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Int, Map[String, Long])]()
    val multimapEnc: Encoder[Map[String, Seq[String]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Seq[String]]]()
    val bkEnc: Encoder[(Int, Seq[(Long, String)])] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Int, Seq[(Long, String)])]()
    Seq(
      FunctionEntry.udf("map_union_sum", udaf(new MapUnionSumAgg(mapEnc))),
      FunctionEntry.udf("map_agg", udaf(new MapAggAgg(strMapEnc),
        Encoders.tuple(Encoders.STRING, Encoders.STRING))),
      FunctionEntry.udf("map_union", udaf(new MapUnionAgg(strMapEnc), strMapEnc)),
      FunctionEntry.udf("histogram", udaf(new HistogramAgg(mapEnc), Encoders.STRING)),
      FunctionEntry.udf("approx_most_frequent", udaf(new ApproxMostFrequentAgg(amfEnc),
        Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaInt))),
      FunctionEntry.udf("geometric_mean", udaf(GeometricMeanAgg, Encoders.DOUBLE)),
      FunctionEntry.udf("word_stem_lite", udf(wordStemLite _)),
      FunctionEntry.udf("multimap_agg", udaf(new MultimapAgg(multimapEnc),
        Encoders.tuple(Encoders.STRING, Encoders.STRING))),
      FunctionEntry.udf("numeric_histogram", udaf(new NumericHistogramAgg,
        Encoders.tuple(Encoders.LONG, Encoders.DOUBLE))),
      FunctionEntry.udf("bottom_k_sample", udaf(new BottomKSampleAgg(bkEnc),
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong))),
      FunctionEntry.udf("reservoir_sample", udaf(new ReservoirSampleAgg(bkEnc),
        Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.STRING))),
    )
  }

}
