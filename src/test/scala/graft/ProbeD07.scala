package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the d07x 100× watch item (BASELINE.md round 14):
  * decomposes the embedding-dedup stress pipeline at a given scale into
  * featurize / candidate-join / decision / verify legs, counts matched
  * rows directly, and reports the per-(table,bucket) occupancy
  * distribution — testing whether the 8× wall at 100× is candidate-row
  * growth (model predicts ~5×) or per-row cost. Run:
  * `SPARK_GRAFT_PROBE_SCALE=100 sbt "Test/runMain graft.ProbeD07"`.
  */
object ProbeD07 {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALE", "40").toInt
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.load(spark, sfDir, "documents")
    val docsK = graft.ops.ScaleStress.multiplyDocs(docs, scale).persist(lvl)
    val n = docsK.count()
    val (planes, tables) = graft.ops.ScaleStress.geometryFor(n)
    println(s"scale=$scale n=$n planes=$planes tables=$tables")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val base = graft.ops.EmbeddingDedup
      .featurize(docsK, "doc_id", "text", planes, tables).persist(lvl)
    timed("featurize+persist")(base.count())

    val assign = base.select(col("__id"), col("__sigp"),
      posexplode(col("__sigs")).as(Seq("__t", "__lsh")))
    // occupancy distribution per (table, bucket)
    val occ = assign.groupBy("__t", "__lsh").count()
    val st = timed("occupancy stats")(occ.agg(
      count(lit(1)).as("buckets"), max("count").as("max"),
      avg("count").as("avg"),
      expr("percentile(count, 0.99)").as("p99"),
      sum(col("count") * col("count")).as("sum_occ2")).head())
    println(s"  buckets=${st.getLong(0)} maxOcc=${st.getLong(1)} " +
      f"avgOcc=${st.getDouble(2)}%.2f p99=${st.getDouble(3)}%.1f sumOcc2=${st.getLong(4)}")

    // hot-bucket anatomy: who lives in the biggest buckets?
    val hot = occ.orderBy(desc("count")).limit(3).collect()
    for (r <- hot) {
      val (t, b, c) = (r.getInt(0), r.getInt(1), r.getLong(2))
      val members = assign.filter(col("__t") === t && col("__lsh") === b)
        .select("__id")
      val profile = members.join(docsK.select(col("doc_id").as("__id"),
          length(col("text")).as("len")), "__id")
        .agg(count(lit(1)), avg("len"), min("len"), max("len"),
          expr("percentile(len, 0.5)")).head()
      println(s"  hot bucket t=$t b=$b occ=$c " +
        f"lenAvg=${profile.getDouble(1)}%.0f lenMin=${profile.getInt(2)} " +
        f"lenMax=${profile.getInt(3)} lenMed=${profile.getDouble(4)}%.0f")
      val nv = members.join(base.select("__id", "__v"), "__id")
        .agg(countDistinct(to_json(struct(col("__v")))).as("nv")).head()
      println(s"    distinct vectors in bucket: ${nv.getLong(0)}")
    }

    // the pipeline's candidate join sides: own + zero-bit flip keys on
    // the probe side, own keys on the build side
    def keys(side: Int) = explode(call_function("graft_lsh_probe_keys",
      col("__sigs"), lit(planes | (side << 8)))).as("__k")
    val probes = base.select(col("__id").as("id1"),
      col("__sigp").as("__sp1"), keys(1))
    val build = base.select(col("__id").as("id2"),
      col("__sigp").as("__sp2"), keys(2))

    val matched = timed("candidate join COUNT only")(
      probes.select("__k").join(build.select("__k").hint("shuffle_hash"), Seq("__k"))
        .count())
    println(s"  matched rows = $matched")

    val minAgree = if (tables >= 4) 2 else 1
    val hMax = 62 // representative cap; exact value immaterial for timing
    val params = 2L | (minAgree.toLong << 8) | (hMax.toLong << 16) |
      (planes.toLong << 32)
    val survivors = timed("join + keep decision")(
      probes.join(build.hint("shuffle_hash"), Seq("__k"))
        .filter(col("id1") =!= col("id2") &&
          call_function("graft_sig_keep_routed", col("__sp1"), col("__sp2"),
            shiftleft(shiftright(col("__k"), planes), 1) +
              when(col("id1") < col("id2"), 1).otherwise(0),
            typedlit(Array.empty[Int]), lit(params)))
        .count())
    println(s"  survivors = $survivors")

    val uncapped = timed("full nearDuplicates")(
      graft.ops.EmbeddingDedup.nearDuplicates(
        docsK, "doc_id", "text", 0.8, planes, tables).count())

    // ---- the occupancy-capped path (round-14 skew fix): hot cells out,
    // canonical ownership moves to the first agreeing table with a live
    // route (functions/EmbeddingKernels.SigKeepRouted)
    val cap = graft.ops.EmbeddingDedup.occupancyCapFor(n, planes)
    val (hotSet, hotShare) = graft.ops.EmbeddingDedup
      .occupancyProfile(base, planes, cap, armShare = 0.0)
    println(f"cap=$cap hotCells=${hotSet.length} hotOcc2Share=$hotShare%.4f " +
      s"armedAtDefault=${hotShare >= graft.ops.EmbeddingDedup.DefaultArmShare}")
    val hotLit = typedlit(hotSet)
    def liveSide(df: org.apache.spark.sql.DataFrame) =
      df.filter(!call_function("graft_key_in_set", col("__k"), hotLit))
    val matchedCapped = timed("CAPPED candidate join COUNT")(
      liveSide(probes.select("__k"))
        .join(liveSide(build.select("__k")).hint("shuffle_hash"), Seq("__k"))
        .count())
    println(s"  capped matched rows = $matchedCapped " +
      f"(${matchedCapped.toDouble / matched}%.3f of uncapped)")
    val capped = timed("full nearDuplicates CAPPED")(
      graft.ops.EmbeddingDedup.nearDuplicates(
        docsK, "doc_id", "text", 0.8, planes, tables,
        maxOccupancy = cap, minHotShare = 0.0).count()) // forced armed
    println(f"  pairs: uncapped=$uncapped capped=$capped " +
      f"retained=${capped.toDouble / math.max(uncapped, 1)}%.4f")
    spark.stop()
  }
}
