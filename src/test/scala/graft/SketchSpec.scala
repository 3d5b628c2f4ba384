package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM sketch-math tests — the paths fixture-scale data can't reach:
  * set-digest overflow (> MaxHashes distinct values) and t-digest
  * compression bounds.
  */
class SketchSpec extends AnyFunSuite {

  test("set digest: overflow cardinality estimator within 5%") {
    import graft.functions.SetDigestSketch
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Boolean, Seq[Long])]()
    val agg = new SetDigestSketch.MakeSetDigestAgg(enc)
    val n = 50000
    var state = agg.zero
    (0 until n).foreach(i => state = agg.reduce(state, s"value_$i"))
    val digest = agg.finish(state)
    assert(digest.head == 1L, "50k distinct values must overflow 8192 hashes")
    val est = SetDigestSketch.cardinality(digest)
    assert(math.abs(est - n).toDouble / n <= 0.05,
      s"estimate $est vs exact $n out of band")
  }

  test("set digest: jaccard of disjoint and identical sets") {
    import graft.functions.SetDigestSketch
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Boolean, Seq[Long])]()
    val agg = new SetDigestSketch.MakeSetDigestAgg(enc)
    def digestOf(vs: Seq[String]): Seq[Long] =
      agg.finish(vs.foldLeft(agg.zero)(agg.reduce))
    val a = digestOf((0 until 100).map(i => s"a$i"))
    val b = digestOf((0 until 100).map(i => s"b$i"))
    assert(SetDigestSketch.jaccardIndex(a, a) == 1.0)
    assert(SetDigestSketch.jaccardIndex(a, b) == 0.0)
    assert(SetDigestSketch.intersectionCardinality(a, a) == 100L)
    assert(SetDigestSketch.intersectionCardinality(a, b) == 0L)
  }

  test("khyperloglog: overflow cardinality estimator within 5%") {
    import graft.functions.KHyperLogLogSketch
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Boolean, Vector[(Long, Seq[Long])])]()
    val agg = new KHyperLogLogSketch.KhllAgg(enc)
    val n = 20000
    var state = agg.zero
    (0 until n).foreach(i => state = agg.reduce(state, (s"key_$i", s"v${i % 3}")))
    val digest = agg.finish(state)
    val est = KHyperLogLogSketch.cardinality(digest)
    assert(math.abs(est - n).toDouble / n <= 0.05,
      s"estimate $est vs exact $n out of band")
    // every surviving key saw exactly one value
    val dist = KHyperLogLogSketch.uniquenessDistribution(digest, 8)
    assert(math.abs(dist.find(_._1 == 1L).get._2 - 1.0) < 1e-9)
    assert(KHyperLogLogSketch.reidentificationPotential(digest, 1) == 1.0)
  }

  test("numeric_histogram merges duplicate-value buckets' weights") {
    import graft.functions.GraftFunctions
    val agg = new GraftFunctions.NumericHistogramAgg
    var st = agg.zero
    (0 until 5).foreach(_ => st = agg.reduce(st, (10L, 1.0)))
    st = agg.reduce(st, (10L, 2.0))
    val h = agg.finish(st)
    assert(h(1.0) == 5.0, s"duplicate values must keep their weights: $h")
    assert(h.values.sum == 6.0)
  }

  test("khyperloglog: digests are partition-order independent past the value cap") {
    import graft.functions.KHyperLogLogSketch
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Boolean, Vector[(Long, Seq[Long])])]()
    val agg = new KHyperLogLogSketch.KhllAgg(enc)
    val rows = for (k <- 0 until 3; v <- 0 until 400) yield (s"k$k", s"v$v")
    val direct = agg.finish(rows.foldLeft(agg.zero)(agg.reduce))
    val shuffled = agg.finish(
      scala.util.Random.shuffle(rows.toList).foldLeft(agg.zero)(agg.reduce))
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val merged = agg.finish(agg.merge(
      h2.foldLeft(agg.zero)(agg.reduce), h1.foldLeft(agg.zero)(agg.reduce)))
    assert(direct == shuffled, "insertion order must not change the digest")
    assert(direct == merged, "merge of partials must equal the direct digest")
  }

  test("t-digest: centroid count stays bounded under heavy insertion") {
    import graft.functions.TDigest
    val agg = new TDigest.TDigestAgg
    var state = agg.zero
    val rnd = new scala.util.Random(7)
    (0 until 100000).foreach(_ => state = agg.reduce(state, rnd.nextGaussian()))
    val digest = agg.finish(state)
    val centroids = digest.head.toInt
    assert(centroids > 10 && centroids <= 2 * TDigest.Compression.toInt,
      s"$centroids centroids vs compression ${TDigest.Compression}")
    // median of a standard normal ≈ 0 within loose digest error
    assert(math.abs(TDigest.valueAtQuantile(digest.toIndexedSeq, 0.5)) < 0.05)
  }

  test("approx_most_frequent: space-saving eviction keeps state bounded and overestimates") {
    import graft.functions.GraftFunctions
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Int, Int, Map[String, Long])]()
    val agg = new GraftFunctions.ApproxMostFrequentAgg(enc)
    // 10 distinct keys, capacity 4: state never exceeds 4 entries
    var state = agg.zero
    val stream = (0 until 200).map(i => s"k${i % 10}") ++ Seq.fill(50)("hot")
    stream.foreach { v => state = agg.reduce(state, (3, v, 4)) }
    assert(state._3.size <= 4, s"state ${state._3.size} exceeded capacity")
    val out = agg.finish(state)
    assert(out.size <= 3, "finish must emit at most `buckets` entries")
    // the genuinely-hot key survives and its count is >= its true count
    assert(out.contains("hot"), s"hot key evicted: $out")
    assert(out("hot") >= 50L, "space-saving counts never underestimate")
    // merge of two partials re-caps at capacity
    var s2 = agg.zero
    Seq.fill(30)("other").foreach(v => s2 = agg.reduce(s2, (3, v, 4)))
    val merged = agg.merge(state, s2)
    assert(merged._3.size <= 4, "merged state must re-cap at capacity")
  }

  test("approx_most_frequent merge preserves the overestimate guarantee under eviction") {
    import graft.functions.GraftFunctions
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Int, Int, Map[String, Long])]()
    val agg = new GraftFunctions.ApproxMostFrequentAgg(enc)
    // two full partials over DISJOINT keys at capacity 2: a sum-then-
    // truncate merge would discard the evicted keys' mass entirely and
    // could report a surviving key below its true total. The weighted
    // space-saving merge makes every incoming key inherit the evicted
    // minimum, so merged counts stay >= any single-side true count.
    var a = agg.zero
    Seq.fill(10)("a1").foreach(v => a = agg.reduce(a, (2, v, 2)))
    Seq.fill(8)("a2").foreach(v => a = agg.reduce(a, (2, v, 2)))
    var b = agg.zero
    Seq.fill(9)("b1").foreach(v => b = agg.reduce(b, (2, v, 2)))
    Seq.fill(7)("b2").foreach(v => b = agg.reduce(b, (2, v, 2)))
    val m = agg.merge(a, b)
    assert(m._3.size <= 2, s"capacity respected: ${m._3}")
    // total retained mass never shrinks below the max single-key truth
    m._3.foreach { case (k, c) =>
      val truth = Map("a1" -> 10L, "a2" -> 8L, "b1" -> 9L, "b2" -> 7L)(k)
      assert(c >= truth, s"merged count underestimates: $k=$c < $truth (${m._3})")
    }
    // the evicted minimum's mass was inherited, not dropped: the map's
    // total equals the full input mass (every fold either adds or
    // re-assigns counts, never deletes them)
    assert(m._3.values.sum == 34L, s"mass dropped in merge: ${m._3}")
    // merging with an empty partial is the identity
    val idm = agg.merge(a, agg.zero)
    assert(idm._3 == a._3, "merge with zero must not perturb counts")
  }

  test("approx_most_frequent rejects non-positive buckets/capacity loudly") {
    import graft.functions.GraftFunctions
    val enc = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[(Int, Int, Map[String, Long])]()
    val agg = new GraftFunctions.ApproxMostFrequentAgg(enc)
    val e1 = intercept[IllegalArgumentException](agg.reduce(agg.zero, (3, "x", 0)))
    assert(e1.getMessage.contains("capacity"))
    val e2 = intercept[IllegalArgumentException](agg.reduce(agg.zero, (0, "x", 4)))
    assert(e2.getMessage.contains("buckets"))
  }
}
