package graft

import graft.ops.ScaleStress
import org.apache.spark.sql.functions._

/** The 10× corpus multiplier and the LSH linearity contract it exists
  * to check (ops/ScaleStress; Bench carries the sf0.1 measurement).
  */
class ScaleStressSpec extends QueryAssertions {

  private def docs = Tables.load(spark, sfDir, "documents")

  test("multiplyDocs: 10x rows, unique ids, disjoint replica shingle spaces") {
    val k = 10
    val base = docs
    val mult = ScaleStress.multiplyDocs(base, k)
    val n = base.count()
    assert(mult.count() == k * n)
    assert(mult.select("doc_id").distinct().count() == k * n,
      "replica ids must stay unique")
    // replicas of one document must NOT be near-duplicates of each other
    // (that would manufacture k-cliques and make the linearity contract
    // unfalsifiable): word-prefixing gives replicas zero shingle overlap
    val one = mult.filter(col("doc_id") % 1000000000000L === 7L)
    val grams = one.select(col("doc_id"),
      graft.ops.MinHashLSH.shingles(col("text")).as("sh"))
    val a = grams.select(col("doc_id").as("ida"), col("sh").as("sha"))
    val b = grams.select(col("doc_id").as("idb"), col("sh").as("shb"))
    val overlaps = a.join(b, col("ida") < col("idb"))
      .select(size(array_intersect(col("sha"), col("shb"))).as("common"))
      .agg(max("common")).head().getInt(0)
    assert(overlaps == 0, s"replica shingle spaces must be disjoint, got $overlaps")
  }

  test("LSH contract: candidate pairs grow ~linearly under 10x corpus") {
    val pairs1 = ScaleStress.lshCandidateCount(docs)
    val pairs10 = ScaleStress.lshCandidateCount(ScaleStress.multiplyDocs(docs, 10))
    assert(pairs1 > 0, "fixture corpus must produce candidates")
    // linear contract: ~10x, never quadratic (~100x). The bound is
    // generous (15x) because replica shingle distributions shift hash
    // bucket boundaries slightly.
    assert(pairs10 <= 15 * pairs1,
      s"candidate pairs grew super-linearly: $pairs1 -> $pairs10")
    assert(pairs10 >= 5 * pairs1,
      s"candidate pairs grew sub-linearly (replicas lost their dups): $pairs1 -> $pairs10")
  }

  private def emb = Tables.load(spark, sfDir, "embeddings")

  /** Every message down `t`'s cause chain. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("multiplyEmbeddings: kx rows, unique ids, orthogonal per-replica " +
      "transforms (norms exactly preserved, cross-replica copies shifted)") {
    val k = 5
    val mult = ScaleStress.multiplyEmbeddings(emb, k)
    val n = emb.count()
    assert(mult.count() == k * n)
    assert(mult.select("vec_id").distinct().count() == k * n,
      "replica ids must stay unique")
    // a circular shift preserves the multiset of components exactly —
    // every replica of a vector has the SAME sorted component list but
    // (for shift ≠ 0 mod dim) a different first component than replica 0
    val reps = mult.filter(col("vec_id") % 1000000000000L === 3L)
      .select((col("vec_id") / 1000000000000L).cast("int").as("r"),
        array_sort(col("embedding")).as("sorted"),
        element_at(col("embedding"), 1).as("first"))
    assert(reps.select(countDistinct("sorted")).head().getLong(0) == 1,
      "shift must preserve the component multiset")
    assert(reps.select(countDistinct("first")).head().getLong(0) > 1,
      "replicas must actually be shifted into different bases")
  }

  test("ivfGeometryFor: sqrt(n) lists, bounded nprobe, monotone") {
    // nprobe carries the round-16 small-count boost (r15 verdict #6):
    // the probed fraction is ~0.18 at 142 lists, decays linearly, and
    // is extinct past 512 lists where the 1/8 asymptote rules
    assert(ScaleStress.ivfGeometryFor(2000) == (45, 9))
    assert(ScaleStress.ivfGeometryFor(20000) == (142, 25))
    assert(ScaleStress.ivfGeometryFor(200000) == (448, 60))
    // past the boost horizon the fraction is pure 1/8
    val (bigLists, bigProbe) = ScaleStress.ivfGeometryFor(1000000)
    assert(bigLists == 1000 && bigProbe == 125)
    val pts = Seq(100L, 1000L, 10000L, 100000L, 1000000L)
      .map(ScaleStress.ivfGeometryFor)
    assert(pts.map(_._1) == pts.map(_._1).sorted, "lists must be monotone")
    pts.foreach { case (l, p) =>
      assert(p <= l)
      // the fraction cap applies where the rule (not the nprobe=8
      // floor, which dominates tiny corpora) decides
      if (p > 8)
        assert(p.toDouble / l <= 0.21, s"probed fraction $p/$l above the cap")
    }
  }

  test("IVF bounded-sample training: deterministic, actually engages, " +
      "and its quantizer still recalls") {
    import graft.ops.{IvfIndex, VectorSearch}
    // force the sample path at fixture scale (the production rule
    // max(256k, 1e5) only engages past 1e5 rows)
    val cap = 100L
    val c1 = IvfIndex.train(emb, "vec_id", "embedding", k = 16, sampleCap = cap)
    val c2 = IvfIndex.train(emb, "vec_id", "embedding", k = 16, sampleCap = cap)
    def centroidMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toList).toMap
    assert(centroidMap(c1) == centroidMap(c2),
      "sampled training must be deterministic given the ids")
    // the cap engaged: sampled centroids differ from full-corpus Lloyd's
    val full = IvfIndex.train(emb, "vec_id", "embedding", k = 16)
    assert(centroidMap(c1) != centroidMap(full),
      "a 100-row cap over the fixture corpus must change the quantizer")
    // neither the shuffle partition count nor the input's split count
    // changes a centroid, sampled or not
    def trainedAt(parts: Int, inputParts: Option[Int], sampleCap: Long) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val e = Tables.load(s, sfDir, "embeddings")
      centroidMap(IvfIndex.train(inputParts.fold(e)(e.repartition(_)),
        "vec_id", "embedding", k = 16, sampleCap = sampleCap))
    }
    for ((parts, input) <- Seq((1, None), (7, None), (7, Some(5)))) {
      assert(trainedAt(parts, input, cap) == centroidMap(c1), (parts, input))
      assert(trainedAt(parts, input, 0L) == centroidMap(full), (parts, input))
    }
    // the sampled quantizer still supports the v04 recall floor
    val queries = emb.filter(col("vec_id") < 5)
    val indexed = IvfIndex.index(emb, "vec_id", "embedding", c1)
    val exact = VectorSearch.cosineTopK(queries, emb, "vec_id", "embedding", 5)
      .select(col("qid").as("eqid"), col("nid").as("enid"))
    val approx = IvfIndex.search(queries, "vec_id", "embedding", indexed, c1,
      k = 5, nprobe = 8)
    val hits = approx.join(exact,
      col("qid") === col("eqid") && col("nid") === col("enid")).count()
    val total = exact.count()
    assert(total > 0 && hits.toDouble / total >= 0.5,
      s"recall@5 with sample-trained centroids collapsed: $hits/$total")
  }

  test("IVF: a NULL vector fails train and index, naming the vector column") {
    import graft.ops.IvfIndex
    val holed = emb.withColumn("embedding",
      when(col("vec_id") === 7L, lit(null)).otherwise(col("embedding")))
    val want = "NULL vector in column 'embedding'"
    val inTrain = intercept[Exception](
      IvfIndex.train(holed, "vec_id", "embedding", k = 16))
    assert(messages(inTrain).contains(want), messages(inTrain))
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 16)
    val inIndex = intercept[Exception](
      IvfIndex.index(holed, "vec_id", "embedding", centroids))
    assert(messages(inIndex).contains(want), messages(inIndex))
  }

  test("IVF: a NULL component or a short vector fails train and index") {
    import graft.ops.IvfIndex
    val sf = Tables.load(spark, new java.io.File(sfDir).getParent + "/sf0.01", "embeddings")
    val centroids = IvfIndex.train(sf, "vec_id", "embedding", k = 16)
    val dim = sf.select(size(col("embedding"))).first().getInt(0)
    val bad = Seq(
      "transform(embedding, (x, i) -> IF(i = 0, CAST(NULL AS FLOAT), x))" ->
        "has a NULL component at element 1",
      "slice(embedding, 1, size(embedding) - 1)" ->
        s"has ${dim - 1} components, the centroids $dim")
    bad.foreach { case (vec, want) =>
      val holed = sf.withColumn("embedding",
        when(col("vec_id") === 7L, expr(vec)).otherwise(col("embedding")))
      val inTrain = messages(intercept[Exception](
        IvfIndex.train(holed, "vec_id", "embedding", k = 16)))
      assert(inTrain.contains(s"IvfIndex: vector in column 'embedding' $want"), inTrain)
      val inIndex = messages(intercept[Exception](
        IvfIndex.index(holed, "vec_id", "embedding", centroids)))
      assert(inIndex.contains(s"graft_nearest_list: vector $want"), inIndex)
    }
  }

  test("IVF stress quality: recall@5 holds and the scan is a bounded " +
      "corpus fraction at 5x") {
    val mult = ScaleStress.multiplyEmbeddings(emb, 5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = mult.count()
      val (lists, nprobe) = ScaleStress.ivfGeometryFor(rows)
      val (recall, scanFrac, (train, index, search)) =
        ScaleStress.ivfAudit(mult, lists, nprobe)
      assert(train > 0 && index > 0 && search > 0,
        s"leg walls must be measured: $train / $index / $search")
      assert(recall >= 0.5,
        s"recall@5 collapsed under the scaled geometry: $recall")
      assert(scanFrac <= 2.5 * nprobe.toDouble / lists,
        s"scan fraction $scanFrac far exceeds nprobe/lists = ${
          nprobe.toDouble / lists} — lists are badly unbalanced")
      assert(scanFrac > 0, "candidates must be non-empty")
    } finally { mult.unpersist(blocking = false); () }
  }
}
