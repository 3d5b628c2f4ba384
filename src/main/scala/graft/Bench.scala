package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Benchmark runner following BASELINE.md's protocol (adopted from the
  * reference: presto-benchto-benchmarks/src/main/resources/benchmarks/
  * presto/tpch.yaml:3-5 — 2 prewarm runs + 6 measured runs per query);
  * reports the per-query MEDIAN so one GC pause or JIT warm-up can't fake
  * a regression. A failing query is reported in an "errors" field instead
  * of masquerading as a fast timing.
  */
object Bench {
  private val Prewarm = 2
  private val Measured = 6

  /** One headline query's measured runs: min, median, max and the
    * median planning share. */
  private[graft] final case class Headline(
      name: String, min: Double, med: Double, max: Double, planning: Double)

  /** One stress leg's measured runs (sorted), the ledger rows of those
    * runs and the leg's canary pairs before and after. */
  private[graft] final case class Leg(
      runs: Seq[Double], jobs: Seq[JobRow],
      pre: (Double, Double), post: (Double, Double))

  /** What a stress block measured besides its legs' timings. */
  private[graft] final case class StressFacts(
      scale: Int, rows: Long, geometry: (Int, Int),
      lshPairs1x: Long, lshPairsScaled: Long,
      d07xCap: Int, d07xHotCells: Int, d07xHotShare: Double,
      ivfRows: Long, ivfGeometry: (Int, Int), ivfRecall: Double,
      ivfScanFrac: Double, ivfLegSec: (Double, Double, Double),
      canaryPre: (Double, Double), canaryPost: (Double, Double))

  private def nums(ds: Double*): JArray = JArray(ds.map(JDouble(_)).toList)
  private def strs(ss: Seq[String]): JArray = JArray(ss.map(JString(_)).toList)
  private def minMedMax(sorted: Seq[Double]): JValue =
    if (sorted.isEmpty) JNull
    else nums(sorted.head, sorted(sorted.size / 2), sorted.last)
  private def canaries(pre: (Double, Double), post: (Double, Double),
      single: String, multi: String): List[JField] =
    List(single -> nums(pre._1, post._1), multi -> nums(pre._2, post._2))

  /** The streaming block: one `name: [min, med, max]` entry per timed
    * entry, then the total and the canary pairs. */
  private[graft] def streamBlock(rows: Seq[(String, Seq[Double])],
      pre: (Double, Double), post: (Double, Double)): JObject =
    JObject(rows.map { case (k, runs) => k -> minMedMax(runs) }.toList ++
      List("total_med" -> JDouble(rows.map { case (_, r) => r(r.size / 2) }.sum)) ++
      canaries(pre, post, "cpu_canary_sec", "cpu_canary_multi_sec"))

  /** One stress block: an entry per leg (timings, canaries, and shuffle
    * and spill bytes summed from the ledger rows of its measured runs),
    * then the block's audit facts. */
  private[graft] def stressBlock(legs: Seq[(String, Leg)], retried: Seq[String],
      f: StressFacts): JObject = {
    val legFields = legs.toList.map { case (name, l) =>
      def sum(g: JobRow => Long) = JLong(l.jobs.map(g).sum)
      name -> JObject(List("sec_min_med_max" -> minMedMax(l.runs)) ++
        canaries(l.pre, l.post, "canary_sec", "canary_multi_sec") ++ List(
        "shuffle_write_bytes" -> sum(_.shuffleWrite),
        "shuffle_read_bytes" -> sum(_.shuffleRead),
        "mem_spill_bytes" -> sum(_.memSpill),
        "disk_spill_bytes" -> sum(_.diskSpill)))
    }
    def ratio(perScale: Int) =
      if (f.lshPairs1x == 0) -1.0
      else f.lshPairsScaled.toDouble / f.lshPairs1x / perScale
    JObject(legFields ++ List(
      "d07x_cap" -> JInt(f.d07xCap), "d07x_hot_cells" -> JInt(f.d07xHotCells),
      "d07x_hot_share" -> JDouble(f.d07xHotShare),
      // null, not a fabricated false, when the profile errored — the
      // arming decision was never computed
      "d07x_cap_armed" -> (if (f.d07xHotShare < 0) JNull else JBool(
        f.d07xHotShare >= graft.ops.EmbeddingDedup.DefaultArmShare)),
      "ivf_rows" -> JLong(f.ivfRows), "ivf_lists" -> JInt(f.ivfGeometry._1),
      "ivf_nprobe" -> JInt(f.ivfGeometry._2),
      "ivf_recall_at5" -> JDouble(f.ivfRecall), "ivf_scan_frac" -> JDouble(f.ivfScanFrac),
      "ivf_train_sec" -> JDouble(f.ivfLegSec._1), "ivf_index_sec" -> JDouble(f.ivfLegSec._2),
      "ivf_search_sec" -> JDouble(f.ivfLegSec._3), "stress_retried" -> strs(retried),
      "scale" -> JInt(f.scale), "rows" -> JLong(f.rows),
      "planes" -> JInt(f.geometry._1), "tables" -> JInt(f.geometry._2),
      "lsh_pairs_1x" -> JLong(f.lshPairs1x), "lsh_pairs_scaled" -> JLong(f.lshPairsScaled),
      "lsh_pair_ratio" -> JDouble(ratio(1)),
      "lsh_pair_ratio_per_scale" -> JDouble(ratio(f.scale))) ++
      canaries(f.canaryPre, f.canaryPost, "cpu_canary_sec", "cpu_canary_multi_sec"))
  }

  /** The full artifact written to BENCH.json. */
  private[graft] def artifact(results: Seq[Headline],
      errors: Seq[(String, String)], sfDir: String, retried: Seq[String],
      streaming: JObject, stress10x: JObject, stressHi: JObject,
      canaryPre: (Double, Double), canaryPost: (Double, Double)): JObject = {
    def perQuery(g: Headline => JValue) = JObject(results.toList.map(r => r.name -> g(r)))
    JObject(List(
      "metric" -> JString("total"), "value" -> JDouble(results.map(_.med).sum),
      "unit" -> JString("sec"), "queries" -> perQuery(r => JDouble(r.med)),
      "planning_sec" -> perQuery(r => JDouble(r.planning)),
      "errors" -> JObject(errors.toList.map { case (k, v) => k -> JString(v) }),
      "sf" -> JString(sfDir),
      "total_min" -> JDouble(results.map(_.min).sum),
      "spread_min_med_max" -> perQuery(r => nums(r.min, r.med, r.max)),
      "retried" -> strs(retried),
      "streaming" -> streaming,
      "stress_10x" -> stress10x, "stress_hi" -> stressHi,
      "available_processors" -> JInt(Runtime.getRuntime.availableProcessors),
      // -1.0 if unavailable
      "load_average" -> JDouble(java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage)) ++
      canaries(canaryPre, canaryPost, "cpu_canary_sec", "cpu_canary_multi_sec"))
  }

  /** The one-line stdout summary of `full`: headline medians, errors,
    * canaries and each streaming median, rounded to ms, plus the path of
    * the full artifact. No spread, planning or stress maps. */
  private[graft] def headlineLine(full: JObject, artifactPath: String): JObject = {
    def r3(v: JValue): JValue = v match {
      case JDouble(d) => JDouble(math.rint(d * 1000) / 1000)
      case JArray(xs) => JArray(xs.map(r3))
      case JObject(fs) => JObject(fs.map { case (k, x) => k -> r3(x) })
      case x => x
    }
    val streaming = JObject(full \ "streaming" match {
      case JObject(fs) => fs.collect { case (k, JArray(List(_, med, _))) => k -> r3(med) }
      case _ => Nil
    })
    def keep(ks: String*) = ks.toList.map(k => k -> r3(full \ k))
    JObject(keep("metric", "value", "unit", "queries", "errors", "sf",
        "total_min", "retried") ++ List("streaming" -> streaming) ++
      keep("cpu_canary_sec", "cpu_canary_multi_sec") ++
      List("artifact" -> JString(artifactPath)))
  }

  /** The spread rule (BASELINE.md), for headline queries and stress legs
    * alike: sorted runs whose median exceeds 2× their min (the median
    * itself was measured through interference — BENCH_r10's d05 at a
    * 3.7× spread, round 13's recorded d05x at 3.3–96.6 s) or whose
    * max exceeds 4× it (BENCH_r11's ds03 hid a 4.99 s outlier behind a
    * clean-looking 1.10 s median) are re-measured once, at the END of
    * their block (the box has often drained by then), and the retried
    * names ship in the artifact. */
  private def contaminated(sorted: Seq[Double]): Boolean = sorted.nonEmpty &&
    (sorted(sorted.size / 2) > 2 * sorted.head || sorted.last > 4 * sorted.head)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cores = cpus, shufflePartitions = cpus)
    val sc = spark.sparkContext
    val ledger = JobLedger.install(sc)

    val defs = SparkEntry.benchDefs
    var errors = List.empty[(String, String)]
    def recordError(name: String, e: Throwable): Unit =
      // one error entry per query — repeated failures would otherwise
      // emit duplicate JSON keys
      if (!errors.exists(_._1 == name))
        errors ::= (name, Option(e.getMessage).getOrElse(e.getClass.getName))

    // Materialize through the noop sink, not count(): under count()
    // Catalyst prunes every column the final projection computes, so a
    // query ending in a pure projection would time only its scan. The
    // noop writer consumes full rows (all output columns evaluated) and
    // discards them — write-path overhead without any I/O.
    //
    // Returns (total, planning): DataFrame construction is EAGERLY
    // analyzed (Dataset.ofRows asserts analysis), so the first leg times
    // parse + analysis — where every injected resolution rule runs.
    // Construction that runs jobs (eager localCheckpoints, bounded
    // collects — d02/d05/d07/d09/v04) has them tagged in the ledger, and
    // planning is the construction wall minus the UNION of their
    // [start, end] intervals; the driver-side planning of those eager
    // actions counts as planning.
    val constructTag = "bench.construct"
    def timeOnce(q: Qdef): Option[(Double, Double)] = {
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = JobLedger.tagged(sc, constructTag)(q.run(spark, sfDir))
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        val total = (System.nanoTime() - t0) / 1e9
        val eagerMs = JobLedger.unionMs(
          ledger.take(constructTag).map(r => (r.startMs, r.endMs)), w0, w1)
        Some((total, math.max(0.0, (t1 - t0) / 1e9 - eagerMs / 1e3)))
      }
      catch { case e: Throwable =>
        ledger.take(constructTag); recordError(q.name, e); None
      }
    }

    // CPU canary PAIR (shared protocol — graft.Measure): the single-
    // thread ratio against a reference canary normalizes totals across
    // host-speed states the way load_average cannot, and the round-16
    // multi-core leg makes the multi-core-only throttle (1.3–1.7× on
    // untouched queries at a 1.1× single ratio, BASELINE.md round-15
    // host-state note) self-flagging instead of folklore.
    val canaryPre = Measure.canaryPair()

    // min/median/max: the spread is the contention detector — on a
    // quiet box min≈median; a loaded box shows median/min ratios of 2-3×
    // on queries whose code didn't change, so a slow total self-flags as
    // environment rather than reading as a regression.
    def measure(q: Qdef): Option[Headline] = {
      (1 to Prewarm).foreach(_ => timeOnce(q))
      val pairs = (1 to Measured).flatMap(_ => timeOnce(q))
      if (pairs.isEmpty) None
      else {
        val runs = pairs.map(_._1).sorted
        val plans = pairs.map(_._2).sorted
        Some(Headline(q.name, runs.head, runs(runs.size / 2), runs.last,
          plans(plans.size / 2)))
      }
    }
    val firstPass = defs.flatMap(measure)

    // contention retry: the lower-median pass ships
    val retried = firstPass.filter(r => contaminated(Seq(r.min, r.med, r.max)))
      .map(_.name)
    val byName = defs.map(q => q.name -> q).toMap
    val retryPass = retried.flatMap(n => measure(byName(n))).map(r => r.name -> r).toMap
    val results = firstPass.map { r =>
      retryPass.get(r.name).filter(_.med < r.med).getOrElse(r)
    }
    val canaryPost = Measure.canaryPair()

    // ---- streaming block (round-17, verdict #2): the r16 streaming
    // optimizations (checkpoint-checksum writer off, input-sized state
    // partitions) were measured only by one-off probes — the bench had no
    // streaming legs, so no driver artifact could confirm them or catch
    // a regression. ADDITIONS-ONLY: the headline `queries` map and
    // `value` total are untouched (streaming medians ride in their own
    // maps) so round-over-round totals stay comparable. Lighter
    // protocol (1 prewarm + 3 measured, min/med/max), canary-bracketed:
    // each entry replays a small fixture end-to-end — the headline
    // 2+6 protocol would double the bench wall for no extra signal.
    // SPARK_GRAFT_STREAM_BENCH=0 skips the block.
    val streaming =
      if (sys.env.getOrElse("SPARK_GRAFT_STREAM_BENCH", "1") == "0") JObject()
      else {
        val sPre = Measure.canaryPair()
        val sRows = SparkEntry.streamingDefs.flatMap { q =>
          timeOnce(q) // prewarm
          val runs = (1 to 3).flatMap(_ => timeOnce(q)).map(_._1).sorted
          if (runs.isEmpty) None else Some(q.name -> runs)
        }
        streamBlock(sRows, sPre, Measure.canaryPair())
      }

    // ---- scale-stress of the dedup/ANN pillar (round-10 plan #3): the
    // corpus is multiplied with disjoint replica shingle spaces
    // (ops/ScaleStress), materialized once so the timings measure the
    // OPERATORS, then each leg runs 1 prewarm + 3 measured passes
    // (lighter than the headline protocol — these are minutes-scale
    // inputs; BASELINE.md documents the deviation) with shuffle and
    // spill bytes read from the ledger rows of the measured runs.
    // The LSH contract rides along: candidate pairs at 10× must stay
    // ~linear vs 1× (quadratic growth = a hot-bucket/clique failure).
    def runStressBlock(scale: Int): JObject = {
      val docs = Tables.load(spark, sfDir, "documents")
      val legs = new graft.ops.ScaleStress.Legs(
        docs, Tables.load(spark, sfDir, "embeddings"), scale)
      val pairs1x = graft.ops.ScaleStress.lshCandidateCount(docs)
      val pairsKx = graft.ops.ScaleStress.lshCandidateCount(legs.docs)
      val geom = legs.geometry
      // Per-block canary pair: the headline canaries bracket the whole
      // suite, but the stress block runs minutes later — its own pair
      // lets a contended stress number (BENCH_r11's d07x 60.7 s vs
      // 39.4 s drained) be normalized without guessing host state.
      val cPre = Measure.canaryPair()
      // one measured pass of a stress leg: prewarm + 3 runs tagged in
      // the ledger. Each leg carries its OWN canary pair (round-14
      // verdict #2: a uniformly-slow host window passed the per-leg
      // spread rule — BENCH_r14_hi100_capped's d02x/d05x read ~1.6×
      // another artifact's on pipelines the change didn't touch, and
      // only the block-level pair hinted at it); with per-leg pairs
      // every cross-artifact leg comparison is canary-attributable.
      def measureLeg(name: String): Leg = {
        val tag = s"bench.stress/$name"
        def once(): Option[Double] = {
          val t0 = System.nanoTime()
          try {
            legs.build(name).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable => recordError(name, e); None }
        }
        once() // prewarm
        val pre = Measure.canaryPair()
        val runs = JobLedger.tagged(sc, tag)((1 to 3).flatMap(_ => once())).sorted
        val post = Measure.canaryPair()
        Leg(runs, ledger.take(tag), pre, post)
      }
      // contention retry: the lower-max pass ships
      val firstLegs = graft.ops.ScaleStress.LegNames.map(n => n -> measureLeg(n))
      val stressRetried = firstLegs.collect { case (n, l) if contaminated(l.runs) => n }
      val finalLegs = firstLegs.map { case (name, first) =>
        lazy val second = measureLeg(name)
        name -> (if (contaminated(first.runs) && second.runs.nonEmpty &&
          second.runs.last < first.runs.last) second else first)
      }
      // the occupancy cap's audit facts (round 14, extended round 15):
      // the cap value the geometry rule derives at this scale, how many
      // (table,bucket) cells it marks hot, the over-cap Σocc² share, and
      // whether the adaptive rule ARMED suppression at this scale — so a
      // cone-density regression (hot-cell blowup), a silently-disengaged
      // cap, or a wrong arming decision is visible in the artifact, not
      // only in Profile output. One extra featurize+aggregate pass, AFTER
      // every timed leg.
      val d07xCap = graft.ops.EmbeddingDedup.occupancyCapFor(legs.rows, geom._1)
      val (d07xHotCells, d07xHotShare) = try {
        val (keys, share) = graft.ops.EmbeddingDedup.occupancyProfile(
          graft.ops.EmbeddingDedup.featurize(
            legs.docs, "doc_id", "text", geom._1, geom._2),
          geom._1, d07xCap, armShare = 0.0)
        (keys.length, share)
      } catch { case e: Throwable => recordError("d07x_hot_cells", e); (-1, -1.0) }
      // the ANN audit, also after every timed leg (so its walls are warm):
      // one train + index, timed per leg (train / index / search) so the
      // train leg's scale behavior is an artifact fact, not a share of the
      // end-to-end median, plus recall@5 and the scanned fraction so the
      // sublinear-scan claim is auditable next to the timing
      val (ivfRecall, ivfScanFrac, ivfLegSec) =
        try graft.ops.ScaleStress.ivfAudit(legs.emb, legs.ivfGeometry._1,
          legs.ivfGeometry._2)
        catch { case e: Throwable =>
          recordError("v04x_ivf_audit", e); (-1.0, -1.0, (-1.0, -1.0, -1.0))
        }
      val cPost = Measure.canaryPair()
      legs.release()
      stressBlock(finalLegs, stressRetried, StressFacts(scale, legs.rows, geom,
        pairs1x, pairsKx, d07xCap, d07xHotCells, d07xHotShare, legs.embRows,
        legs.ivfGeometry, ivfRecall, ivfScanFrac, ivfLegSec, cPre, cPost))
    }

    val stress10x =
      if (sys.env.getOrElse("SPARK_GRAFT_STRESS", "1") == "0") JObject()
      else runStressBlock(10)
    // Opt-in deep-scale point (e.g. SPARK_GRAFT_STRESS_HI=40): verifies
    // the planes ≈ log2(n/16) geometry rule holds CONTINUOUSLY, not just
    // at 10×. Off by default so the driver's bench stays bounded.
    val stressHi = sys.env.get("SPARK_GRAFT_STRESS_HI") match {
      case Some(s) if s.matches("[0-9]+") && s.toInt > 1 => runStressBlock(s.toInt)
      case _ => JObject()
    }

    // errors are rendered AFTER the stress block so stress leg failures
    // (recorded inside runStressBlock) reach the artifact.
    val full = artifact(results, errors.reverse, sfDir, retried, streaming,
      stress10x, stressHi, canaryPre, canaryPost)
    val fullJson = compact(full)

    // The full artifact goes to a FILE; stdout carries one COMPACT
    // headline line. Round-15's driver record was `parsed: null` because
    // the 6.5 KB single-line artifact (stress blocks inline) overflowed
    // the driver's 2 000-char stdout capture tail — the compact line
    // (queries + errors + canaries, no spread/planning/stress maps)
    // stays well under that bound, and the file keeps everything.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"BENCH.json write failed: ${e.getMessage}")
      System.err.println(fullJson) // the full artifact must survive somewhere
    }
    println(compact(headlineLine(full, new java.io.File(outPath).getAbsolutePath)))
    ledger.close()
    spark.stop()
  }
}
