package graft

import graft.functions.{KeyInSortedSet, SigKeepRouted, SigMatch}
import graft.ops.EmbeddingDedup
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** The embedding-dedup keep kernel (functions/EmbeddingKernels
  * .SigKeepRouted) over the zero-bit probe row universe, with and
  * without suppressed cells; the hot-cell membership predicate
  * (KeyInSortedSet); and the occupancy-capped pipeline's (EmbeddingDedup
  * maxOccupancy > 0) containment / recall contracts. The design these
  * pin (BASELINE.md round 14, the 100× probe): natural-text cone skew
  * makes per-cell occupancy p99/max grow while the mean stays at the
  * geometry target, so candidate rows (Σocc²) run ~4× the uniform
  * model; capping cells co-designed with the canonical-owner rule
  * removes the tail without losing pairs that still have any live
  * agreeing route.
  */
class SigKeepRoutedSpec extends QueryAssertions {

  private def docs = Tables.load(spark, sfDir, "documents")

  private def pack(sig: Array[Int], width: Int): Array[Byte] = {
    val out = new Array[Byte](sig.length * width)
    var i = 0
    while (i < sig.length) {
      var b = 0
      while (b < width) {
        out(i * width + b) = ((sig(i) >> (8 * b)) & 0xFF).toByte
        b += 1
      }
      i += 1
    }
    out
  }

  private def routedKernel(hot: Array[Int], planes: Int, minAgree: Int,
      hMax: Int, width: Int = 2): (Array[Int], Array[Int], Int, Boolean) => Boolean = {
    val params = (width | (minAgree << 8) | (hMax << 16)).toLong |
      (planes.toLong << 32)
    val k = SigKeepRouted(
      Literal(Array.empty[Byte]), Literal(Array.empty[Byte]), Literal(0),
      Literal.create(hot, ArrayType(IntegerType)), Literal(params))
    (s1, s2, rowT, probeSmaller) =>
      k.compute(pack(s1, width), pack(s2, width),
        (rowT << 1) | (if (probeSmaller) 1 else 0))
  }

  test("empty hot set: routed kernel equals graft_sig_match + the three " +
      "filters, 4-byte packing at the 1x geometry") {
    // the interpreted compute path against the composed SigMatch
    // decision: first agreeing table == rowT, agreement >= minAgree,
    // hamming <= hMax, and the probeSmaller gate (id1 < id2) at hamming-0
    // rows — a hamming-1 row is its table's only direction under
    // zero-bit probes and owns the pair either way
    val planes = 8
    val tables = 8
    val minAgree = 2
    val hMax = EmbeddingDedup.hammingCap(0.8, planes, tables)
    val keep = routedKernel(Array.empty[Int], planes, minAgree, hMax, width = 4)
    val sigMatch = SigMatch(Literal(Array.empty[Byte]),
      Literal(Array.empty[Byte]), Literal(4))
    val rnd = new scala.util.Random(20260821L)
    val nBuckets = 1 << planes
    var kept, dropped, reverseKept = 0
    for (_ <- 0 until 5000) {
      val s1 = Array.fill(tables)(rnd.nextInt(nBuckets))
      val s2 = s1.map(b => rnd.nextInt(3) match {
        case 0 => b
        case 1 => b ^ (1 << rnd.nextInt(planes))
        case _ => rnd.nextInt(nBuckets)
      })
      val rowT = rnd.nextInt(tables)
      val probeSmaller = rnd.nextBoolean()
      val m = sigMatch.compute(pack(s1, 4), pack(s2, 4))
      val ham1 = Integer.bitCount(s1(rowT) ^ s2(rowT)) == 1
      val composed = (m & 0xFF) == rowT && ((m >> 8) & 0xFF) >= minAgree &&
        (m >>> 16) <= hMax && (probeSmaller || ham1)
      val got = keep(s1, s2, rowT, probeSmaller)
      assert(got == composed,
        s"rowT=$rowT probeSmaller=$probeSmaller got=$got\n" +
          s"s1=${s1.mkString(",")}\ns2=${s2.mkString(",")}")
      if (got) kept += 1 else dropped += 1
      if (got && ham1 && !probeSmaller) reverseKept += 1
    }
    assert(kept > 0 && dropped > 0, s"kept=$kept dropped=$dropped")
    assert(reverseKept > 0, "no hamming-1 reverse-direction keeps generated")
  }

  test("halved probes, empty hot set: exactly one direction survives " +
      "per reportable pair on a randomized signature sweep") {
    // zero-bit multiprobe: the row universe at a hamming-1 table has
    // ONE direction (the 0-holder probes into the 1-holder's cell);
    // hamming-0 tables have both. With no suppression the kernel must
    // keep exactly one existing row iff the pair is reportable
    // (agree >= minAgree, hamming <= hMax).
    val planes = 6
    val tables = 8
    val minAgree = 2
    val hMax = EmbeddingDedup.hammingCap(0.8, planes, tables)
    val rnd = new scala.util.Random(20260819L)
    val nBuckets = 1 << planes
    val keep = routedKernel(Array.empty[Int], planes, minAgree, hMax)
    var reportable = 0
    for (_ <- 0 until 4000) {
      val s1 = Array.fill(tables)(rnd.nextInt(nBuckets))
      val s2 = s1.zipWithIndex.map { case (b, _) =>
        rnd.nextInt(10) match {
          case 0 | 1 | 2 => rnd.nextInt(nBuckets)
          case 3 | 4 => b ^ (1 << rnd.nextInt(planes))
          case _ => b
        }
      }
      val agreeTables = (0 until tables).filter(t =>
        Integer.bitCount(s1(t) ^ s2(t)) <= 1)
      val totalH = (0 until tables).map(t =>
        Integer.bitCount(s1(t) ^ s2(t))).sum
      // the row universe (doc1 = smaller id = sigs s1): at hamming 0
      // both directions exist; at hamming 1 only the direction whose
      // PROBE holds the 0 at the differing bit
      val survivors = agreeTables.flatMap { t =>
        val diff = s1(t) ^ s2(t)
        val dirA = // probe = doc1 (smaller): exists iff doc1 holds the 0
          if (diff == 0 || (s1(t) & diff) == 0)
            Some(keep(s1, s2, t, true)) else None
        val dirB = // probe = doc2 (larger)
          if (diff == 0 || (s2(t) & diff) == 0)
            Some(keep(s2, s1, t, false)) else None
        Seq(dirA, dirB).flatten.filter(identity)
      }.size
      val expected = if (agreeTables.size >= minAgree && totalH <= hMax) 1 else 0
      assert(survivors == expected,
        s"halved pair survived $survivors times (expected $expected)\n" +
          s"s1=${s1.mkString(",")}\ns2=${s2.mkString(",")}")
      if (expected == 1) reportable += 1
    }
    assert(reportable > 100, s"only $reportable reportable pairs generated")
  }

  test("halved probes under suppression: exactly-once ownership in the " +
      "halved row universe") {
    // the join's row universe under a random hot set: rows at hamming-1
    // tables exist only in the 0-holder→1-holder direction AND when the
    // 1-holder's cell is live; hamming-0 rows exist in both directions
    // when the shared cell is live. The kernel must keep exactly one
    // existing row iff the pair is reportable and some agreeing table
    // has an existing route.
    val planes = 6
    val tables = 8
    val minAgree = 2
    val hMax = planes * tables
    val rnd = new scala.util.Random(20260820L)
    val nBuckets = 1 << planes
    // a dense hot set: reaching "every agreeing table dead" needs
    // ~hotRate^agree — at 1/5 the 4000-pair sweep produced zero such
    // pairs, so the regime went unexercised
    val hot = (0 until nBuckets * tables)
      .filter(_ => rnd.nextInt(2) == 0).map(identity).toArray
    val keep = routedKernel(hot, planes, minAgree, hMax)
    val hotSet = hot.toSet
    def live(t: Int, b: Int) = !hotSet.contains((t << planes) | b)
    var reportable = 0
    var unreachable = 0
    for (_ <- 0 until 4000) {
      val s1 = Array.fill(tables)(rnd.nextInt(nBuckets))
      val s2 = s1.zipWithIndex.map { case (b, _) =>
        rnd.nextInt(10) match {
          case 0 | 1 | 2 => rnd.nextInt(nBuckets)
          case 3 | 4 => b ^ (1 << rnd.nextInt(planes))
          case _ => b
        }
      }
      val agreeTables = (0 until tables).filter(t =>
        Integer.bitCount(s1(t) ^ s2(t)) <= 1)
      val totalH = (0 until tables).map(t =>
        Integer.bitCount(s1(t) ^ s2(t))).sum
      val survivors = agreeTables.flatMap { t =>
        val diff = s1(t) ^ s2(t)
        // direction exists iff the probe holds the 0 (or hamming 0) AND
        // the BUILD doc's cell is live (probe key and build row are the
        // same cell, so one liveness test covers both filters)
        val dirA =
          if ((diff == 0 || (s1(t) & diff) == 0) && live(t, s2(t)))
            Some(keep(s1, s2, t, true)) else None
        val dirB =
          if ((diff == 0 || (s2(t) & diff) == 0) && live(t, s1(t)))
            Some(keep(s2, s1, t, false)) else None
        Seq(dirA, dirB).flatten.filter(identity)
      }.size
      // an agreeing table has an existing route iff the 1-holder's cell
      // (or the shared cell) is live
      val hasRoute = agreeTables.exists { t =>
        val diff = s1(t) ^ s2(t)
        if (diff == 0) live(t, s1(t))
        else live(t, if ((s1(t) & diff) != 0) s1(t) else s2(t))
      }
      val expected =
        if (agreeTables.size >= minAgree && totalH <= hMax && hasRoute) 1
        else 0
      assert(survivors == expected,
        s"halved+capped pair survived $survivors times (expected $expected)\n" +
          s"s1=${s1.mkString(",")}\ns2=${s2.mkString(",")}")
      if (expected == 1) reportable += 1
      else if (agreeTables.size >= minAgree && totalH <= hMax) unreachable += 1
    }
    assert(reportable > 100, s"only $reportable reportable pairs generated")
    assert(unreachable > 0, "no all-routes-hot pairs generated")
  }

  test("graft_key_in_set equals array_contains on a randomized sweep " +
      "and binary-searches an unsorted literal correctly") {
    val rnd = new scala.util.Random(7L)
    val keys = Array.fill(257)(rnd.nextInt(10000) - 5000) // unsorted, dups
    val viaKernel = spark.range(2000)
      .select((col("id").cast("int") - 1000).as("k"))
      .select(col("k"), call_function("graft_key_in_set", col("k"),
        typedlit(keys)).as("got"),
        array_contains(typedlit(keys), col("k")).as("want"))
    assert(viaKernel.filter(col("got") =!= col("want")).count() == 0)
    assert(viaKernel.filter(col("got")).count() > 0, "no members generated")
    // direct eval path too (interpreted, no codegen)
    val k = KeyInSortedSet(Literal(keys(13)),
      Literal.create(keys, ArrayType(IntegerType)))
    assert(k.eval(null) == true)
  }

  test("occupancyProfile with no arming share returns exactly the over-cap cells") {
    val base = EmbeddingDedup.featurize(docs, "doc_id", "text", 8, 8)
      .persist()
    try {
      val cap = 4
      val got = EmbeddingDedup.occupancyProfile(base, 8, cap, armShare = 0.0)._1.toSet
      val want = base
        .select(posexplode(col("__sigs")).as(Seq("t", "lsh")))
        .select((shiftleft(col("t"), 8) + col("lsh")).as("k"))
        .groupBy("k").count().filter(col("count") > cap)
        .select("k").collect().map(_.getInt(0)).toSet
      assert(got == want)
      assert(want.nonEmpty,
        "cap 4 must mark hot cells at the fixture's occupancy " +
          "(mean 2.9 / p99 13 / max 34, measured)")
    } finally base.unpersist(blocking = false)
  }

  test("occupancyCapFor: 8x the geometry rule's occupancy target") {
    // geometry target is ~16 per cell (planes = log2(n/16))
    assert(EmbeddingDedup.occupancyCapFor(200000L, 14) == 8 * 16)
    assert(EmbeddingDedup.occupancyCapFor(500000L, 15) == 8 * 16)
    // small corpora on the 8-plane default: cap follows the real mean
    assert(EmbeddingDedup.occupancyCapFor(10000L, 8) == 8 * 39)
  }

  test("capped pipeline: contained in the uncapped pair set, keeps every " +
      "pair with a live route, and a loose cap changes nothing") {
    val uncapped = EmbeddingDedup
      .nearDuplicates(docs, "doc_id", "text", 0.8)
      .orderBy("id1", "id2").collect().map(_.toString).toSeq
    // a cap above the fixture's max occupancy: the hot set comes back
    // EMPTY and pairsFrom builds the uncapped plan — this pins the
    // fallback wiring (cap requested, nothing hot, same plan)
    val loose = EmbeddingDedup
      .nearDuplicates(docs, "doc_id", "text", 0.8, maxOccupancy = 1000000)
      .orderBy("id1", "id2").collect().map(_.toString).toSeq
    assert(loose == uncapped,
      s"loose cap diverged: ${loose.size} vs ${uncapped.size}")
    // cap 33 marks ONLY the fixture's single occ-34 cell hot, so the
    // suppression filters and liveness checks engage (non-empty hot
    // set) — and with one hot cell and minAgree 2,
    // equality with the uncapped pairs is GUARANTEED by the math: a
    // reportable pair has >= 2 agreeing tables and one cell can
    // suppress routes in only one of them, so a live canonical route
    // always remains. This is the pipeline-level pin of the routed
    // path's empty-suppression-effect correctness (the loose-cap case
    // above never searches a hot set).
    val (routedDf, shape) = checkpointPlans(EmbeddingDedup
      .nearDuplicates(docs, "doc_id", "text", 0.8, maxOccupancy = 33,
        minHotShare = 0.0))
    val routedEq = routedDf.orderBy("id1", "id2").collect().map(_.toString).toSeq
    assert(routedEq == uncapped,
      s"routed path with one hot cell diverged: ${routedEq.size} vs ${uncapped.size}")
    // the armed cap's barrier plan carries the routed kernel and the
    // hot-key filters, not a silent fallback to the uncapped form
    assert(shape.exists(p => p.contains("graft_sig_keep_routed") &&
      p.contains("graft_key_in_set")),
      s"an armed cap must build the routed plan:\n${shape.mkString("\n")}")
    // a cap INSIDE the fixture's occupancy tail (mean 2.9 / p99 13 /
    // max 34 measured at 500 docs × 8 planes): the 13–34-occ cone cells
    // go hot — the exact regime the cap targets at 100× — while the
    // planted near-dup clusters keep live routes (their pairs agree in
    // most of the 8 tables, and a pair is lost only if EVERY agreeing
    // table's routes are hot on both sides)
    val tight = EmbeddingDedup
      .nearDuplicates(docs, "doc_id", "text", 0.8, maxOccupancy = 12,
        minHotShare = 0.0)
      .orderBy("id1", "id2").collect().map(_.toString).toSeq
    val uncappedSet = uncapped.toSet
    assert(tight.forall(uncappedSet.contains),
      "capped pairs must be a subset of the uncapped pairs")
    assert(uncapped.nonEmpty &&
      tight.size.toDouble / uncapped.size >= 0.95,
      s"tight cap lost too many pairs: ${tight.size} of ${uncapped.size}")
  }

  test("adaptive arming: suppression engages only when over-cap cells " +
      "carry the threshold share of sum(occ^2)") {
    val base = EmbeddingDedup.featurize(docs, "doc_id", "text", 8, 8)
      .persist()
    try {
      // share is monotone in the cap: a cap below the whole distribution
      // marks everything hot (share 1.0), a cap above the max marks
      // nothing (share 0.0)
      val (allHot, shareAll) =
        EmbeddingDedup.occupancyProfile(base, 8, 0, armShare = 0.0)
      assert(shareAll == 1.0 && allHot.nonEmpty)
      val (noneHot, shareNone) =
        EmbeddingDedup.occupancyProfile(base, 8, 1000000, armShare = 0.0)
      assert(shareNone == 0.0 && noneHot.isEmpty)
      // the fixture's occupancy tail (mean 2.9 / p99 13 / max 34): cap 12
      // marks real cells but their sum(occ^2) share is well below 1
      val (keys12, share12) =
        EmbeddingDedup.occupancyProfile(base, 8, 12, armShare = 0.0)
      assert(keys12.nonEmpty && share12 > 0.0 && share12 < 1.0,
        s"cap 12 share=$share12 hot=${keys12.length}")
      // below-threshold share: the profile DECLINES to collect keys —
      // the cost-based switch (the caller then runs the uncapped form)
      val (declined, shareSame) =
        EmbeddingDedup.occupancyProfile(base, 8, 12, armShare = share12 + 0.01)
      assert(declined.isEmpty && shareSame == share12)
      // and the pipeline-level wiring: a requested cap whose share sits
      // below minHotShare must build the UNCAPPED plan — the routed
      // kernel with an EMPTY hot set, no suppression filters
      val (_, disarmed) = checkpointPlans(EmbeddingDedup
        .nearDuplicates(docs, "doc_id", "text", 0.8, maxOccupancy = 12,
          minHotShare = share12 + 0.01))
      assert(disarmed.exists(_.contains("graft_sig_keep_routed")) &&
        !disarmed.exists(_.contains("graft_key_in_set")),
        s"below-threshold share must build the uncapped plan:\n${disarmed.mkString("\n")}")
    } finally base.unpersist(blocking = false)
  }
}
