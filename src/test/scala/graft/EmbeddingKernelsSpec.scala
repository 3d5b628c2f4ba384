package graft

import graft.ops.{EmbeddingDedup, MinHashLSH, VectorSearch}
import org.apache.spark.sql.functions._

/** The map-side embedding-dedup kernels (functions/EmbeddingKernels)
  * and the redesigned pipeline they carry (ops/EmbeddingDedup): each
  * kernel must reproduce, bit for bit, the declarative formula it
  * replaced, and the end-to-end pair set must equal brute force.
  */
class EmbeddingKernelsSpec extends QueryAssertions {

  private def docs = Tables.load(spark, sfDir, "documents")

  test("graft_shingle_hist equals the md5-hex SQL formula per bucket") {
    // The DuckDB oracle replays conv(substring(md5(g),1,4),16,10) % 256;
    // the kernel must agree on every (doc, bucket, count) triple.
    val sample = docs.limit(60)
    val viaSql = sample
      .select(col("doc_id"), explode(MinHashLSH.shingles(col("text"))).as("g"))
      .select(col("doc_id"),
        (conv(substring(md5(col("g")), 1, 4), 16, 10).cast("int")
          % EmbeddingDedup.Dim).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).cast("int").as("c"))
    val viaKernel = sample
      .select(col("doc_id"),
        call_function("graft_shingle_hist",
          MinHashLSH.shingles(col("text")), lit(EmbeddingDedup.Dim)).as("v"))
      .select(col("doc_id"), posexplode(col("v")).as(Seq("b", "c")))
      .filter(col("c") > 0)
      .select(col("doc_id"), col("b"), col("c").cast("int").as("c"))
    assert(viaSql.exceptAll(viaKernel).isEmpty && viaKernel.exceptAll(viaSql).isEmpty,
      "kernel histogram diverged from the declarative formula")
  }

  test("graft_lsh_probe_keys: side 1 keeps own + zero-bit flips, side 2 " +
      "keeps own keys, and every all-flip collision survives") {
    val (planes, tables) = (6, 3)
    val base = EmbeddingDedup.featurize(docs.limit(50), "doc_id", "text",
      planes, tables).persist()
    try {
      def kernelKeys(side: Int) = base.select(col("__id"),
        explode(call_function("graft_lsh_probe_keys",
          col("__sigs"), lit(planes | (side << 8)))).as("k"))
      // side 2: exactly the own-bucket keys
      val ownKeys = base
        .select(col("__id"), posexplode(col("__sigs")).as(Seq("t", "lsh")))
        .select(col("__id"),
          (shiftleft(col("t"), planes) + col("lsh")).as("k"))
      assert(ownKeys.exceptAll(kernelKeys(2)).isEmpty &&
        kernelKeys(2).exceptAll(ownKeys).isEmpty,
        "side 2 diverged from the own-bucket keys")
      // side 1: own keys + flips that SET a zero bit (collected
      // reference reconstruction per row)
      val got = kernelKeys(1).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val want = base.select(col("__id"), col("__sigs")).collect().flatMap { r =>
        val id = r.getLong(0)
        val sigs = r.getSeq[Int](1)
        sigs.zipWithIndex.flatMap { case (b, t) =>
          val own = (t << planes) | b
          own +: (0 until planes).collect {
            case j if ((b >> j) & 1) == 0 => (t << planes) | (b | (1 << j))
          }
        }.map(k => (id, k))
      }.sorted.toSeq
      assert(got == want, "side 1 diverged from the zero-bit reference")
      // the r16 all-flip probe expression (own + every 1-bit flip per
      // table) as the reference for reach: every (doc, doc, table) it
      // makes collide — i.e. every hamming<=1 table of every pair — must
      // collide under zero-bit keys in at least one direction
      val allFlip = base
        .select(col("__id"), posexplode(col("__sigs")).as(Seq("t", "lsh")))
        .select(col("__id"), explode(array(
          (shiftleft(col("t"), planes) + col("lsh")) +: (0 until planes)
            .map(j => shiftleft(col("t"), planes) +
              col("lsh").bitwiseXOR(lit(1 << j))): _*)).as("k"))
      def collisions(probe: org.apache.spark.sql.DataFrame) =
        probe.select(col("__id").as("p"), col("k"))
          .join(ownKeys.select(col("__id").as("b"), col("k")), "k")
          .filter(col("p") =!= col("b"))
          .select(col("p"), col("b"), shiftright(col("k"), planes).as("t"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val reach = collisions(allFlip)
      val zero = collisions(kernelKeys(1))
      assert(reach.nonEmpty, "fixture produced no hamming<=1 collisions")
      val lost = reach.filterNot { case (p, b, t) =>
        zero.contains((p, b, t)) || zero.contains((b, p, t))
      }
      assert(lost.isEmpty, s"zero-bit keys lost ${lost.size} collisions, " +
        s"e.g. ${lost.take(3)}")
      assert(zero.subsetOf(reach), "zero-bit keys collide beyond hamming 1")
      // any other side value fails loudly
      val e = intercept[Exception](base.select(call_function(
        "graft_lsh_probe_keys", col("__sigs"), lit(planes))).collect())
      def chain(t: Throwable): List[String] =
        if (t == null) Nil else t.getMessage :: chain(t.getCause)
      assert(chain(e).exists(m => m != null &&
        m.contains("graft_lsh_probe_keys side must be 1")),
        s"expected the side error, got: ${e.getMessage}")
    } finally base.unpersist(blocking = false)
  }

  test("graft_lsh_sig equals the declarative sign-projection buckets") {
    val (planes, tables) = (6, 3)
    val base = EmbeddingDedup.featurize(docs.limit(40), "doc_id", "text",
      planes, tables)
    val viaKernel = base.select(col("__id"),
      posexplode(col("__sigs")).as(Seq("t", "lsh")))
    // declarative replay: per table, bit j set iff sum(c * sign) > 0 —
    // the exact formula the round-11 lshBuckets computed via a broadcast
    // sign-matrix join
    val viaSql = (0 until tables).map { t =>
      val signs = VectorSearch.planeSigns(planes, EmbeddingDedup.Dim, t)
      val bucket = (0 until planes).map { j =>
        val planeLit = array(signs(j).toIndexedSeq.map(lit): _*)
        val dot = expr(s"aggregate(zip_with(__v, ${planeLit.toString}, " +
          "(c, s) -> CAST(c AS DOUBLE) * s), CAST(0 AS DOUBLE), (a, x) -> a + x)")
        when(dot > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
      base.select(col("__id"), lit(t).as("t"), bucket.as("lsh"))
    }.reduce(_ unionAll _)
    assert(viaSql.exceptAll(viaKernel).isEmpty && viaKernel.exceptAll(viaSql).isEmpty,
      "kernel signatures diverged from the declarative projection")
  }

  test("graft_lsh_sig_vec equals the declarative float-vector buckets") {
    val (planes, tables, dim) = (8, 3, 64)
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val viaKernel = emb.select(col("vec_id"),
      posexplode(call_function("graft_lsh_sig_vec",
        col("v"), lit(planes), lit(tables))).as(Seq("t", "b")))
    val viaSql = (0 until tables).map { t =>
      emb.select(col("vec_id"), lit(t).as("t"),
        VectorSearch.bucketOf(col("v"),
          VectorSearch.planeSigns(planes, dim, t)).as("b"))
    }.reduce(_ unionAll _)
    assert(viaSql.exceptAll(viaKernel).isEmpty && viaKernel.exceptAll(viaSql).isEmpty,
      "float-vector kernel buckets diverged from the declarative projection")
  }

  test("graft_lsh_sig_vec rejects arities other than 3 or 4") {
    for (n <- Seq(2, 5)) {
      val e = intercept[Exception](spark.sql(
        s"SELECT graft_lsh_sig_vec(${Seq.fill(n)("8").mkString(", ")})").collect())
      assert(e.getMessage.contains(s"takes 3 or 4 arguments (vector, planes, tables[, dim]), got $n"),
        e.getMessage)
    }
  }

  test("graft_pack_ints / graft_sig_match: agreement count and canonical table") {
    for (w <- Seq(2, 4)) {
      val rows = spark.sql(
        s"""SELECT
          |  graft_sig_match(graft_pack_ints(array(5, 9, 12), $w),
          |                  graft_pack_ints(array(5, 9, 12), $w), $w) AS all_agree,
          |  graft_sig_match(graft_pack_ints(array(5, 9, 12), $w),
          |                  graft_pack_ints(array(4, 2, 12), $w), $w) AS ham1_and_exact,
          |  graft_sig_match(graft_pack_ints(array(5, 9, 12), $w),
          |                  graft_pack_ints(array(6, 2, 3), $w), $w) AS none,
          |  graft_sig_match(graft_pack_ints(array(7, 9), $w),
          |                  graft_pack_ints(array(3, 0), $w), $w) AS first_only
          |""".stripMargin).head()
      // (totalBitHamming << 16) | (agree << 8) | firstAgreeingTable;
      // 0xFF in the low byte marks "no agreeing table"
      assert(rows.getInt(0) == (3 << 8 | 0), s"w=$w: identical sigs agree everywhere")
      // 5 vs 4 = hamming 1 (agrees), 9 vs 2 = hamming 3 (no), 12 vs 12
      // exact; total bits differing = 1 + 3 + 0 = 4
      assert(rows.getInt(1) == (4 << 16 | 2 << 8 | 0),
        s"w=$w: hamming-1 counts as agreement, total hamming rides high")
      // 5^6=3 (2 bits), 9^2=11 (3), 12^3=15 (4): total 9, zero agreement
      assert(rows.getInt(2) == (9 << 16 | 0xFF), s"w=$w: disjoint sigs: zero agreement")
      // 7 vs 3 = hamming 1 (table 0), 9 vs 0 = hamming 2 (no): total 3
      assert(rows.getInt(3) == (3 << 16 | 1 << 8 | 0),
        s"w=$w: canonical table is the first")
    }
    // a 16-bit-plus bucket id refuses 2-byte packing loudly
    val e = intercept[Exception](
      spark.sql("SELECT graft_pack_ints(array(70000), 2)").collect())
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("2-byte packing")),
      s"expected the packing-width error, got: ${e.getMessage}")
  }

  test("hammingCap: 5-sigma margins at the corpus and stress geometries") {
    // independently computed: f0 = acos(0.8)/pi = 0.204833,
    // sigma = sqrt(f0(1-f0)/B); cap = ceil(B(f0 + 5 sigma))
    assert(EmbeddingDedup.hammingCap(0.8, 8, 8) == 30)    // B = 64
    assert(EmbeddingDedup.hammingCap(0.8, 14, 23) == 103) // B = 322
    // never filters when the margin reaches past every hamming
    assert(EmbeddingDedup.hammingCap(-1.0, 8, 8) == 64)
    // tightens monotonically with the threshold
    assert(EmbeddingDedup.hammingCap(0.94, 14, 23) <
      EmbeddingDedup.hammingCap(0.8, 14, 23))
  }

  test("nearDuplicates equals brute-force exact cosine at threshold 0.8") {
    val got = EmbeddingDedup.nearDuplicates(docs, "doc_id", "text", 0.8)
      .orderBy("id1", "id2").collect().map(_.toString).toSeq
    val base = EmbeddingDedup.featurize(docs, "doc_id", "text", 8, 8)
      .select(col("__id"), col("__v")).cache()
    val brute = base.select(col("__id").as("id1"), col("__v").as("v1"))
      .join(base.select(col("__id").as("id2"), col("__v").as("v2")),
        col("id1") < col("id2"))
      .withColumn("cosine", VectorSearch.cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= 0.8)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id1", "id2").collect().map(_.toString).toSeq
    base.unpersist(blocking = false)
    assert(got.nonEmpty, "fixture corpus must contain planted near-dups")
    assert(got == brute,
      s"pair sets diverged: got ${got.size}, brute ${brute.size}")
  }

  test("featurization is a narrow plan: zero exchanges before the self-join") {
    val base = EmbeddingDedup.featurize(docs, "doc_id", "text", 8, 8)
    val plan = base.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"featurization must not shuffle:\n${plan.take(2000)}")
  }

  test("graft_sig_keep_routed with an empty hot set equals " +
      "graft_sig_match + the three filters on a randomized signature sweep") {
    // 5 000 random (sig1, sig2, rowTable, probeSmaller) rows at the
    // 40×-stress geometry (14 planes × 23 tables, 2-byte packing,
    // minAgree 2, hMax from the 5σ rule), seeded for reproducibility.
    // The fused kernel may only change evaluation ORDER, never the
    // boolean: first agreeing table == rowTable, agreement >= minAgree,
    // hamming <= hMax, and the id ordering (probeSmaller) decides the
    // direction at hamming-0 rows — a hamming-1 row is its table's only
    // direction and owns the pair either way.
    val planes = 14
    val tables = 23
    val minAgree = 2
    val hMax = graft.ops.EmbeddingDedup.hammingCap(0.8, planes, tables)
    val params = (2 | (minAgree << 8) | (hMax << 16)).toLong |
      (planes.toLong << 32)
    // biased generator: per table a third of the buckets are equal, a
    // third one bit apart and a third random, so the first-table,
    // minAgree and hamming-1 direction branches all fire
    val rows = spark.range(5000).select(
      expr(s"""transform(sequence(0, ${tables - 1}), t ->
        CAST(pmod(hash(id, t, 1), ${1 << planes}) AS INT))""").as("s1raw"),
      expr(s"""transform(sequence(0, ${tables - 1}), t ->
        CAST(CASE pmod(hash(id, t, 7), 3)
          WHEN 0 THEN pmod(hash(id, t, 1), ${1 << planes})
          WHEN 1 THEN pmod(hash(id, t, 1), ${1 << planes}) ^
            shiftleft(1, pmod(hash(id, t, 5), $planes))
          ELSE pmod(hash(id, t, 2), ${1 << planes}) END AS INT))""")
        .as("s2raw"),
      expr(s"CAST(pmod(hash(id, 3), $tables) AS INT)").as("rowT"),
      expr("pmod(hash(id, 11), 2) = 0").as("probeSmaller"))
      .select(
        call_function("graft_pack_ints", col("s1raw"), lit(2)).as("p1"),
        call_function("graft_pack_ints", col("s2raw"), lit(2)).as("p2"),
        expr("bit_count(element_at(s1raw, rowT + 1) ^ " +
          "element_at(s2raw, rowT + 1)) = 1").as("ham1"),
        col("rowT"), col("probeSmaller"))
    val cmp = rows.select(
      call_function("graft_sig_keep_routed", col("p1"), col("p2"),
        shiftleft(col("rowT"), 1) + when(col("probeSmaller"), 1).otherwise(0),
        typedlit(Array.empty[Int]), lit(params)).as("fused"),
      call_function("graft_sig_match", col("p1"), col("p2"), lit(2))
        .as("m"), col("rowT"), col("ham1"), col("probeSmaller"))
      .select(col("fused"),
        (col("m").bitwiseAND(lit(255)) === col("rowT") &&
          shiftright(col("m"), 8).bitwiseAND(lit(255)) >= minAgree &&
          shiftright(col("m"), 16) <= hMax &&
          (col("probeSmaller") || col("ham1"))).as("composed"),
        col("ham1"), col("probeSmaller"))
      .persist()
    try {
      assert(cmp.filter(col("fused") =!= col("composed")).count() == 0)
      // the sweep must exercise both outcomes, and the hamming-1 row that
      // owns its pair against the id ordering
      assert(cmp.filter(col("fused")).count() > 0, "no keep cases generated")
      assert(cmp.filter(!col("fused")).count() > 0, "no drop cases generated")
      assert(cmp.filter(col("fused") && col("ham1") && !col("probeSmaller"))
        .count() > 0, "no hamming-1 reverse-direction keeps generated")
    } finally cmp.unpersist(blocking = false)
  }

  test("histogram overflow fails loudly instead of wrapping") {
    val e = intercept[Exception] {
      // dim = 1 funnels every shingle into one bucket; 40k distinct
      // shingles overflow smallint there
      spark.range(1).select(call_function("graft_shingle_hist",
        expr("transform(sequence(1, 40000), i -> CAST(i AS STRING))"),
        lit(1))).collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("overflows smallint")),
      s"expected the overflow error, got: ${e.getMessage}")
  }
}
