package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate detection — the last member of the
  * dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine): documents are embedded as hashed-TF shingle
  * vectors, bucketed with sign-random-projection LSH, and candidate
  * pairs are verified with the exact cosine before reporting.
  *
  * Why derive embeddings from text instead of using the `embeddings`
  * table: that table's vectors are near-orthogonal random draws (max
  * pairwise cosine 0.51 at sf0.01), so a near-dup threshold over it is
  * vacuously empty. Hashed shingle-TF embeddings put the planted
  * near-duplicate documents at cosine >= 0.94 while unrelated pairs stay
  * below 0.38 — a real signal with margin on both sides of the 0.8
  * threshold.
  *
  * Scale shape (the 100-TB path) — redesigned in round 12 after a
  * per-stage profile of the 10× stress run showed the bytes going to
  * three declarative passes (639 MB shingle-count groupBy, a 205M-row
  * join+agg LSH projection, 1.37 GB candidate-dedup groupBy), all of
  * which compute values a single row already determines:
  *  - Featurization is MAP-SIDE: one native kernel call per document
  *    (functions/EmbeddingKernels.ShingleHistogram) turns the distinct
  *    shingle array into the 256-bucket count vector — no explode, no
  *    groupBy, zero featurization shuffle at any corpus size. Counts are
  *    integers so every downstream dot product is EXACT in double
  *    arithmetic (bit-identical to any other engine computing the same
  *    sums — the DuckDB oracle replays it).
  *  - The LSH projection is MAP-SIDE too (EmbeddingKernels.LshSignature):
  *    all `tables` bucket ids per document in one kernel call over the
  *    count vector, signs from [[VectorSearch.planeSigns]] — replacing a
  *    broadcast sign-matrix join whose intermediate row count was
  *    counts×tables.
  *  - Candidates come from a self-equi-join on (table, lshBucket) with
  *    zero-bit multiprobe expansion on the probe side; never all pairs.
  *    Expected scan fraction ~ tables*(1+planes/2)/2^planes. Both join
  *    sides carry the document's PACKED full signature vector (4 bytes
  *    per table), so each matched row decides its own fate map-side via
  *    EmbeddingKernels.SigMatch: agreement = #tables within hamming 1
  *    (exactly the multiprobe reach), kept iff agreement >= 2 (when
  *    tables >= 4 — hash accidents rarely repeat across independent
  *    sign matrices) AND this row's table is the pair's canonical first
  *    agreeing table (each pair survives exactly once). This replaces
  *    the groupBy(id1, id2) dedup — the pipeline's single largest
  *    shuffle at stress scale — with a filter that drops ~63M matched
  *    rows before any exchange. The same kernel call also returns the
  *    pair's TOTAL sign-bit hamming, whose fraction of B=planes·tables
  *    independent bits estimates angle/π — candidates more than 5σ
  *    below the cosine threshold are discarded BEFORE any dense vector
  *    ships (see [[hammingCap]]; the 40× stress run measured 9.2 GB of
  *    vectors shipped for sub-threshold pairs without it). The ~3·10⁻⁷
  *    at-threshold tail this admits is an order below the ~1% LSH
  *    table-recall bound the operator already carries.
  *  - Verification joins the surviving pair ids back to dense SMALLINT
  *    vectors (counts are exact integers, so shorts halve the shuffled
  *    bytes with bit-identical cosines) and scores with the native
  *    codegen dot product ([[VectorSearch.cosine]] / graft_dot).
  *
  * Reference capability analog: the reference's nearest operator is
  * cosine_similarity over sparse maps (presto-main/src/main/java/com/
  * facebook/presto/operator/scalar/MathFunctions.java); it has no
  * LSH/near-dup operator — this is part of the training-data-pipeline
  * extension surface.
  */
object EmbeddingDedup {

  /** Hashed-TF embedding dimension. 256 keeps distinct trigram shingles
    * nearly collision-free at the test vocabulary and costs 512 B/doc as
    * smallint — at larger corpora raise it together with `planes`. */
  val Dim = 256

  /** Bytes per packed signature entry: bucket ids fit 2 bytes through
    * 16 planes (n ≈ 1M docs under the geometry rule) — the probe side
    * replicates the payload (1+planes/2)× per table, so the width is the
    * single biggest lever on the candidate join's shuffle. */
  private def packWidth(planes: Int): Int = if (planes <= 16) 2 else 4

  /** Conservative total-bit-hamming cap for the pre-verify filter: the
    * signature vectors hold B = planes·tables INDEPENDENT sign bits, so
    * a pair's bit-hamming fraction h/B estimates its angle/π with
    * binomial error σ = sqrt(f(1−f)/B). A pair AT the cosine threshold
    * has expected fraction f₀ = acos(minCosine)/π; capping at
    * f₀ + 5σ keeps every at-threshold pair except a ~3·10⁻⁷ one-sided
    * tail — an order below the LSH table-recall bound the geometry rule
    * already accepts (~1%) — while discarding the sub-threshold mass
    * whose true fraction sits many σ above the cap (the 40× stress
    * measured 28M agreement-passing pairs of cosine ≲ 0.6 dragging
    * 9.2 GB of dense vectors to verification; at B = 322 a cosine-0.5
    * pair sits 5.8σ above this cap). Returns B (= no filtering) when
    * the margin reaches past every possible hamming. */
  private[graft] def hammingCap(
      minCosine: Double, planes: Int, tables: Int): Int = {
    val b = planes * tables
    val f0 = math.acos(math.max(-1.0, math.min(1.0, minCosine))) / math.Pi
    val sigma = math.sqrt(f0 * (1 - f0) / b)
    math.min(b, math.ceil(b * (f0 + 5 * sigma)).toInt)
  }

  /** One narrow pass per document: (__id, __v dense smallint counts,
    * __sigs per-table LSH buckets, __sigp the packed signature payload).
    * No shuffle — the whole featurization is expressions inside one
    * whole-stage-codegen projection. */
  def featurize(
      df: DataFrame, idCol: String, textCol: String,
      planes: Int, tables: Int): DataFrame = {
    // r16: shingling + md5 histogram run FUSED in one native kernel
    // (graft_shingle_hist_text ≡ graft_shingle_hist ∘ shingles,
    // TextKernelsSpec) — no intermediate shingle-string array, no
    // interpreted HOF lambdas. Featurization stays a zero-shuffle
    // narrow projection at every corpus size (an input-spread
    // repartition for the 2-split fixture scan was A/B'd interleaved
    // and rejected — OPTIMIZATION_r16.md).
    df.select(col(idCol).as("__id"),
        call_function("graft_shingle_hist_text",
          col(textCol), lit(Dim)).as("__v"))
      .select(col("__id"), col("__v"),
        call_function("graft_lsh_sig",
          col("__v"), lit(planes), lit(tables)).as("__sigs"))
      .select(col("__id"), col("__v"), col("__sigs"),
        call_function("graft_pack_ints",
          col("__sigs"), lit(packWidth(planes))).as("__sigp"))
  }

  /** Arming threshold for the occupancy cap: suppression engages only
    * when over-cap cells carry at least this share of Σocc² (= matched
    * candidate rows — the decision kernel's input). Below it the skew
    * tail cannot repay the routed kernel's per-row liveness checks, and
    * the pipeline runs with an empty hot set: no suppression filters and
    * no liveness searches (the profile pass itself — one compact
    * aggregation — is always paid when a cap is requested; it is what
    * makes the decision data-driven).
    * Measured over-cap Σocc² shares on the stress corpus under the
    * geometry rule's cap (128): 0.233 at 10×, 0.392 at 40×, 0.575 at
    * 100×. The threshold is set from INTERLEAVED same-session A/Bs
    * (BASELINE.md round 15 and BENCH_r15_ab10/ab40/ab100.json: modes
    * alternating, per-leg canaries — the round-14 cross-artifact
    * comparisons that suggested a thin-tail loss did not survive
    * interleaving): at 10× the three modes are indistinguishable
    * at the host noise floor (medians uncapped 5.7 / capped 6.7 within a
    * 5.3–7.3 within-mode spread), at 40× the capped form WINS both
    * interleavings (34.7/35.0 vs 43.9/39.6), at 100× it wins 2.2×
    * (91–121 s vs 144–208) — pair retention 1.0000 in every leg of
    * every mode. 0.30 disarms only the one scale point where the win is
    * not established, keeping the measured 40×/100× wins armed. */
  val DefaultArmShare = 0.30

  /** All pairs (id1 < id2, cosine) with embedding cosine >= minCosine.
    * Output columns: id1, id2, cosine (rounded to 6 dp).
    *
    * SCALE THE GEOMETRY WITH THE CORPUS: the bucket count is 2^planes
    * PER TABLE, so with fixed defaults the per-bucket occupancy — and
    * with it the candidate-pair count — grows linearly in corpus size,
    * i.e. candidates grow QUADRATICALLY (the round-11 10× stress run
    * measured exactly that: 22 GB of spill at 50k docs on the 8-plane
    * default). Choose planes ≈ log2(n / 16) to hold occupancy, and grow
    * tables to hold recall as the per-table collision probability drops
    * (8 planes/8 tables at ≤5k docs → 12 planes/16 tables at 50k; see
    * ops/ScaleStress for the worked trade-off).
    *
    * `maxOccupancy > 0` requests the occupancy cap (see
    * [[occupancyCapFor]]); it arms only when the over-cap cells carry at
    * least `minHotShare` of Σocc² ([[occupancyProfile]]). */
  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String, minCosine: Double,
      planes: Int = 8, tables: Int = 8,
      maxOccupancy: Int = 0,
      minHotShare: Double = DefaultArmShare): DataFrame = {
    val base = featurize(df, idCol, textCol, planes, tables)
    // One persist backs everything downstream: the featurized frame
    // feeds both candidate-join sides and both verify-join vector
    // lookups — without it each consumer recomputes the shingle+kernel
    // projection (md5 per shingle dominates). Same explicit
    // persist/release lifecycle as MinHashLSH.nearDuplicates.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cached = base.persist(lvl)
    try {
      val hot =
        if (maxOccupancy > 0)
          occupancyProfile(cached, planes, maxOccupancy, minHotShare)._1
        else Array.empty[Int]
      pairsFrom(cached, minCosine, planes, tables, hot)
        .localCheckpoint(eager = true)
    } finally cached.unpersist(blocking = false)
  }

  /** The occupancy cap the stress pipeline applies at scale: 8× the
    * geometry rule's per-(table,bucket) occupancy target (planes ≈
    * log2(n/16) holds the MEAN at ~16; natural-text hashed-TF vectors
    * share a cone, so the TAIL grows with n regardless — the 100× probe
    * measured mean 16.9 / p99 143 / max 1812, Σocc² ≈ 4× uniform).
    * Candidate rows through a bucket grow as occ², so cells above ~8×
    * the mean are where the skew's matched-row mass lives while holding
    * a vanishing share of true-pair routes (a cosine-0.8 pair agrees in
    * most of the `tables` independent tables — losing the over-cap
    * routes moves its canonical table, it does not lose the pair). */
  def occupancyCapFor(n: Long, planes: Int): Int = {
    // clamp BEFORE narrowing: a mismatched geometry (huge n on few
    // planes) must saturate the cap, not wrap to a tiny one
    val mean = math.round(n.toDouble / (1L << planes))
    (8L * math.max(16L, math.min(mean, Int.MaxValue / 8L))).toInt
  }

  /** Occupancy profile of the featurized frame against a cap: one
    * compact aggregation (n·tables int keys, map-side partial agg,
    * ≤ tables·2^planes groups, persisted — it is tiny) yields BOTH the
    * over-cap share of Σocc² (matched candidate rows live in occ², so
    * this is the fraction of the decision kernel's input the cap would
    * remove) and, only when that share reaches `armShare`, the
    * over-cap cells as sorted packed keys. Returns (hotKeys, hotShare);
    * hotKeys is empty when the share is below the threshold — the
    * cost-based switch the round-14 verdict asked for (reference
    * analog: stats-driven strategy choice à la presto-main/.../
    * iterative/rule/DetermineJoinDistributionType.java). The driver
    * collect is only the over-cap tail, small BY CONSTRUCTION (cells
    * above 8× the mean hold ≪1% of cells — Σocc is fixed at n·tables);
    * the require is a tripwire for a miscalibrated cap. */
  private[graft] def occupancyProfile(
      base: DataFrame, planes: Int, cap: Int,
      armShare: Double): (Array[Int], Double) = {
    val counts = base
      .select(posexplode(col("__sigs")).as(Seq("__t", "__lsh")))
      .select((shiftleft(col("__t"), planes) + col("__lsh")).as("__k"))
      .groupBy("__k").count()
      .persist()
    try {
      val row = counts.agg(
        sum(col("count") * col("count")).as("tot"),
        sum(when(col("count") > cap, col("count") * col("count"))
          .otherwise(lit(0L))).as("hot")).collect()(0)
      val tot = if (row.isNullAt(0)) 0L else row.getLong(0)
      val hotMass = if (row.isNullAt(1)) 0L else row.getLong(1)
      val share = if (tot == 0L) 0.0 else hotMass.toDouble / tot
      if (share < armShare) (Array.empty[Int], share)
      else {
        val keys = counts.filter(col("count") > cap).select("__k")
          .collect().map(_.getInt(0))
        require(keys.length <= (1 << 20),
          s"occupancy cap $cap marks ${keys.length} hot cells — the cap " +
            "is below the occupancy distribution's body, raise it")
        java.util.Arrays.sort(keys)
        (keys, share)
      }
    } finally counts.unpersist(blocking = false)
  }

  /** LSH candidates -> exact-cosine verification, all decisions before
    * the verify join taken map-side (see the object scaladoc).
    *
    * Every matched row is decided by [[graft.functions.SigKeepRouted]].
    * A non-empty `hot` set (sorted packed (table,bucket) keys from
    * [[occupancyProfile]]) makes it the OCCUPANCY-CAPPED form: routes
    * through over-occupied cells are dropped on both join sides (probe
    * keys and build rows — the same [[graft.functions.KeyInSortedSet]]
    * predicate, so a route fully exists or fully doesn't), and the
    * kernel's canonical-owner rule is suppression-aware: the pair is
    * owned by its first agreeing table WITH A LIVE ROUTE. A pair is
    * lost only if EVERY agreeing table's routes are hot — for true
    * near-dups (which agree in most tables) a vanishing tail, bounded in
    * the SigKeepRoutedSpec property. */
  private def pairsFrom(
      base: DataFrame, minCosine: Double,
      planes: Int, tables: Int, hot: Array[Int]): DataFrame = {
    val width = packWidth(planes)
    // (table, bucket) packed into ONE int join key: t·2^planes + bucket
    // — 4 bytes instead of 8 on every probe-side row.
    require(planes + 32 - Integer.numberOfLeadingZeros(tables) <= 31,
      s"(tables=$tables) << (planes=$planes) must fit an int key")
    val hotLit = typedlit(hot)
    def dropHot(df: DataFrame): DataFrame =
      if (hot.isEmpty) df
      else df.filter(!call_function("graft_key_in_set", col("__k"), hotLit))
    // One candidate path at every geometry: the probe side emits own +
    // ZERO-bit flip keys (graft_lsh_probe_keys side 1), the build side
    // own keys only. A hamming-1 pair differs in exactly one bit, so
    // exactly one side holds a 0 there and probes into the other's cell
    // — every hamming≤1 pair collides in every agreeing table, while the
    // probe fan-out (the candidate join's dominant shuffle at stress
    // scale: rows × payload) is 1+zeros ≈ 1+planes/2 per (doc, table)
    // instead of 1+planes. graft_sig_keep_routed knows that only one
    // direction exists at a hamming-1 table and keeps each pair once.
    val probes = dropHot(base.select(col("__id").as("id1"),
      col("__sigp").as("__sp1"),
      explode(call_function("graft_lsh_probe_keys",
        col("__sigs"), lit(planes | (1 << 8)))).as("__k")))
    val build = dropHot(base.select(col("__id").as("id2"),
      col("__sigp").as("__sp2"),
      explode(call_function("graft_lsh_probe_keys",
        col("__sigs"), lit(planes | (2 << 8)))).as("__k")))
    // Per (pair, table) at most one probe can match (the build side's
    // bucket is a single value and the probe set is distinct), so a
    // matched row exists for table t (in at least one direction) iff the
    // pair's buckets are within hamming 1 there — what graft_sig_match counts
    // across ALL tables from the rows' packed signatures. agreement >= 2
    // (when tables >= 4) kills hash-accident candidates before any dense
    // vector ships; `this row's table == the canonical first agreeing
    // table` keeps each surviving pair exactly once. Both are map-side
    // filters on the join output: nothing shuffles between candidate
    // generation and verification.
    //
    // The build side is HINTED to a shuffled hash join: it is n·tables
    // compact rows against n·tables·(1+planes/2) probe rows — the default
    // sort-merge join SORTS the big probe side, which is pure overhead
    // (40× stress: 119 GB of sort spill); hashing the small build side
    // lets probes stream through unsorted.
    val minAgree = if (tables >= 4) 2 else 1
    val hMax = hammingCap(minCosine, planes, tables)
    // the kernel carries hMax in a 16-bit params field; a geometry with
    // planes·tables past 0xFFFF sign bits (far outside the planes +
    // log2(tables) <= 31 deployments) could overflow it — fail loudly
    // instead of silently truncating the field
    require(hMax <= 0xFFFF,
      s"hamming cap $hMax does not fit the kernel's 16-bit params field " +
        s"(planes=$planes, tables=$tables)")
    // the keep/drop decision is ONE fused kernel call
    // (graft_sig_keep_routed = graft_sig_match + the agreement, hamming
    // and canonical-owner filters, plus the early exits composition
    // cannot express). This row-decision is the pipeline's CPU center:
    // the 40× stress point runs it on 1.38e9 matched rows to keep 3.8e5.
    // The canonical owner row may have id1 > id2 (a hamming-1 table has
    // only the direction whose probe holds the 0; under a cap, the
    // larger id's route may be hot), so the id ordering lives INSIDE the
    // kernel (`routed` carries it) and the surviving pair is normalized
    // after. Self-matches (exact key, id1 == id2) are excluded here —
    // the kernel's direction rule alone would let them through. Fields
    // widen through Long shifts (an Int-packed intermediate would
    // sign-extend past bit 31 once hMax reaches 0x8000).
    val params = width.toLong | (minAgree.toLong << 8) |
      (hMax.toLong << 16) | (planes.toLong << 32)
    val routed = shiftleft(shiftright(col("__k"), planes), 1) +
      when(col("id1") < col("id2"), 1).otherwise(0)
    val cands = probes
      .join(build.hint("shuffle_hash"), Seq("__k"))
      .filter(col("id1") =!= col("id2") &&
        call_function("graft_sig_keep_routed", col("__sp1"),
          col("__sp2"), routed, hotLit, lit(params)))
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"))
    // the verify joins carry no hint: the shuffle_hash hint above is
    // load-bearing for the candidate join (SMJ would sort the giant probe
    // side), but on the vector-attach joins it FORCED both through
    // exchanges — the (id1, id2, __v1) intermediate then carried one
    // dense vector PER PAIR through a second exchange (163 MB at sf0.1
    // for 155k candidates). Un-hinted, AQE broadcasts the base side when
    // it fits and the whole verify chain collapses into the candidate
    // stage; past broadcast reach it plans sort-merge joins, which won
    // both interleaved 100× rounds against forced shuffle_hash
    // (OPTIMIZATION_r17.md §1; a wash at 40×).
    cands
      .join(base.select(col("__id").as("id1"), col("__v").as("__v1")), "id1")
      .join(base.select(col("__id").as("id2"), col("__v").as("__v2")), "id2")
      .withColumn("cosine", VectorSearch.cosine(col("__v1"), col("__v2")))
      .filter(col("cosine") >= minCosine)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
  }
}
