package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic corpus multiplier for scale-stressing the dedup/ANN pillar
  * beyond the largest fixture (round-10 plan item: run d02/d05/d07/d09
  * at ~10× sf0.1 rows and check the LSH contract — candidate pairs grow
  * LINEARLY in corpus size).
  *
  * The multiplier must not manufacture k-cliques: naively replicating
  * each document k times makes every replica a near-duplicate of every
  * other, so the "duplicate" pair count grows quadratically in k no
  * matter how good the LSH is — the contract would be unfalsifiable.
  * Instead replica r prefixes every word with `r<r>x`, which makes the
  * replica shingle spaces pairwise DISJOINT: the original corpus's
  * near-dup cluster structure repeats k times, which is exactly the
  * regime where candidate pairs must scale ~k. doc_ids offset by
  * r·10¹² stay unique and keep their low bits (hash distributions
  * unchanged).
  */
object ScaleStress {

  def multiplyDocs(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"multiplier must be positive, got $k")
    docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), explode(sequence(lit(0), lit(k - 1))).as("__r"))
      .select(
        (col("doc_id") + col("__r").cast("long") * lit(1000000000000L)).as("doc_id"),
        when(col("__r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(^| )"),
            concat(lit("$1r"), col("__r"), lit("x")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      // spread the multiplied corpus like a real one: the sf0.1 fixture
      // parquet is 2 splits, and an explode preserves its parent's
      // partitioning — without this every "map-side" stress claim was
      // being measured on 2 of 32 cores (a 100-TB corpus arrives in
      // thousands of splits; 2 is an artifact of the tiny fixture). One
      // bounded shuffle, paid once before the persist().
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
  }

  /** The sign-LSH geometry rule as a CONTINUOUS function of corpus size,
    * so any stress scale point (10×, 40×, …) picks its planes/tables the
    * same way a 100-TB deployment would, instead of hand-chosen constants
    * per point:
    *  - planes ≈ log2(n/16) holds per-bucket occupancy ~constant (the
    *    round-11 stress run measured what fixed buckets do: occupancy
    *    ×10 → candidate pairs ×100, 22 GB spill);
    *  - tables = the count that keeps ≥99% recall for a cosine-0.8 pair
    *    under 1-bit multiprobe, derived from the collision probability
    *    q = 1 - acos(0.8)/π per plane: P(hamming≤1) = q^p + p·q^(p-1)(1-q),
    *    tables = ⌈ln(0.01)/ln(1-P)⌉.
    * At 50k docs this yields (12, 16) — exactly the pair the round-11
    * fix hand-derived; at 200k it yields (14, 23). */
  def geometryFor(rows: Long): (Int, Int) = {
    val planes = math.max(8,
      math.ceil(math.log(math.max(rows, 32).toDouble / 16) / math.log(2)).toInt)
    val q = 1 - math.acos(0.8) / math.Pi
    val pHit = math.pow(q, planes) +
      planes * math.pow(q, planes - 1) * (1 - q)
    val tables = math.max(8, math.ceil(math.log(0.01) / math.log(1 - pHit)).toInt)
    (planes, tables)
  }

  /** Names of the timed stress legs, in the order they run. */
  val LegNames: Seq[String] = Seq("d02x_minhash", "d05x_training_pipeline",
    "d07x_embedding", "d09x_components", "v04x_ivf")

  /** Every timed stress leg at one scale over the 1× `docs1x` and `emb1x`
    * fixtures: the same public operators the corpus entries d02/d05/d07/
    * d09/v04 run, so a stress regression IS an operator regression. Each
    * input is multiplied, persisted and counted once, on first use — no
    * TIMED leg pays a corpus pass for its geometry, and a caller that
    * builds only dedup legs never multiplies the embeddings. */
  final class Legs(docs1x: DataFrame, emb1x: DataFrame, scale: Int) {
    private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    private var persisted = List.empty[DataFrame]
    private def persist(df: DataFrame): DataFrame = {
      persisted ::= df.persist(lvl); df
    }
    lazy val docs: DataFrame = persist(multiplyDocs(docs1x, scale))
    lazy val rows: Long = docs.count()
    lazy val geometry: (Int, Int) = geometryFor(rows)
    lazy val emb: DataFrame = persist(multiplyEmbeddings(emb1x, scale))
    lazy val embRows: Long = emb.count()
    lazy val ivfGeometry: (Int, Int) = ivfGeometryFor(embRows)

    /** The leg's DataFrame, built fresh (a timed run includes every
      * eager job its construction starts). */
    def build(name: String): DataFrame = name match {
      case "d02x_minhash" => MinHashLSH.nearDuplicates(docs, "doc_id", "text", 0.5)
      case "d05x_training_pipeline" =>
        val quality = docs
          .withColumn("n_words", size(split(col("text"), " ")))
          .filter(col("n_words").between(20, 100))
        val dupes = MinHashLSH.nearDuplicates(quality, "doc_id", "text", 0.5)
          .select(col("id2").as("drop_id")).distinct()
        quality.join(dupes, col("doc_id") === col("drop_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("bigint").as("total_chars"))
      // The stress run SCALES THE LSH GEOMETRY with the corpus: the first
      // stress measurement ran the 1× defaults (8 planes = 256 fixed
      // buckets) and caught quadratic candidate growth — bucket occupancy
      // rose 10×, candidate pairs ~100×, 22 GB of spill, 103 s. The
      // [[geometryFor]] rule fixes it continuously: planes ~ log2(n/16)
      // holds occupancy, tables rise to hold ≥99% recall.
      // The occupancy CAP rides along with the geometry rule: the rule
      // holds the MEAN occupancy, the cap cuts the cone-skew TAIL that
      // the 100× run measured at Σocc² ≈ 4× uniform (p99 143 / max 1812
      // against a mean of 16.9) — matched candidate rows through a cell
      // grow as occ², so the tail was carrying ~3/4 of the decision
      // kernel's input while holding ≪1% of true-pair routes.
      case "d07x_embedding" =>
        val (p, t) = geometry
        EmbeddingDedup.nearDuplicates(docs, "doc_id", "text", 0.8,
          planes = p, tables = t,
          maxOccupancy = EmbeddingDedup.occupancyCapFor(rows, p))
      case "d09x_components" =>
        DupComponents.components(
          MinHashLSH.nearDuplicates(docs, "doc_id", "text", 0.5)
            .select(col("id1").as("a"), col("id2").as("b")))
      case "v04x_ivf" => ivfPipeline(emb, ivfGeometry._1, ivfGeometry._2)
      case n => throw new IllegalArgumentException(
        s"no stress leg named $n (legs: ${LegNames.mkString(", ")})")
    }

    def release(): Unit = persisted.foreach(_.unpersist(blocking = false))
  }

  /** LSH candidate-pair count for the linearity check (the contract:
    * count(k·docs) ≈ k·count(docs) when clusters stay constant-sized). */
  def lshCandidateCount(docs: DataFrame): Long = {
    val prepared = MinHashLSH.prepare(docs, "doc_id", "text")
    try MinHashLSH.candidatePairs(prepared).count()
    finally prepared.unpersist(blocking = false)
  }

  // ---- ANN (IVF) stress surface: the similarity pillar's analog of
  // multiplyDocs + geometryFor. Same falsifiability requirement: the
  // multiplier must not let replicas collapse onto each other (which
  // would hand the index free recall from k identical copies of every
  // neighborhood), and the index geometry must come from a CONTINUOUS
  // rule, not per-scale hand constants.

  /** Multiply an embeddings frame k× with each replica's vectors run
    * through a DIFFERENT orthogonal transform — a circular coordinate
    * shift of (r·7 mod dim) positions. A shift is orthogonal, so all
    * intra-replica angles (and therefore the neighborhood structure the
    * index must capture) are EXACTLY preserved, while cross-replica
    * cosines decorrelate (components meet misaligned coordinates) — the
    * corpus's cluster geometry repeats k times in k different bases,
    * the same "repeat, don't densify" regime as [[multiplyDocs]]'s
    * disjoint shingle spaces. vec_ids offset by r·10¹² stay unique. */
  def multiplyEmbeddings(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"multiplier must be positive, got $k")
    val dim = size(col("embedding"))
    val shift = (col("__r") * lit(7)) % dim
    emb
      .select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(0), lit(k - 1))).as("__r"))
      .select(
        (col("vec_id") + col("__r").cast("long") * lit(1000000000000L))
          .as("vec_id"),
        when(col("__r") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), lit(1), shift))).as("embedding"),
        col("label"))
      // same split-count realism as multiplyDocs: the fixture parquet is
      // 2 splits and explode inherits them, serializing the map-side
      // assignment kernels onto 2 cores
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
  }

  /** IVF geometry as a continuous function of corpus size: lists = ⌈√n⌉
    * (the classic IVF-Flat balance point — per-list size and list count
    * both grow as √n) and nprobe from a probed-list fraction that
    * ASYMPTOTES to 1/8 but rises at small list counts:
    *
    *   nprobe = max(8, ⌈lists/8 + max(0, (512−lists)/512) · lists/16⌉)
    *
    * Why a fraction and not a fixed nprobe: the fixture embeddings are
    * near-UNIFORM on the sphere — ANN's information-theoretic worst
    * case, where recall at a fixed probe COUNT decays as lists grow
    * (measured at 20 000 rows / 142 lists: recall@5 0.44 at nprobe 9,
    * 0.57 at 16, 0.66 at 24). Why the small-count boost (round 16,
    * r15 verdict #6): at the pure 1/8 fraction the 10× stress point
    * read recall@5 0.58 against the 0.5 property floor — one bad
    * fixture from red — exactly at the scale a first user tests, while
    * 40×/100× read 0.69/0.81 (recall at a FIXED fraction rises with n
    * as lists separate). The boost lifts the 10× point to the ~0.17
    * fraction the measured ladder puts at recall ≈ 0.66, decays
    * linearly, and is extinct past 512 lists — the 100-TB asymptote
    * stays 1/8, scanned share ≤ ~0.2 at every scale. At the fixture
    * scales: 2 000 rows → (45, 9); 20 000 → (142, 25); 80 000 →
    * (283, 44); 200 000 → (448, 60). Real clustered corpora sit far
    * from this worst case and hold higher recall at smaller fractions;
    * the fraction is the knob a 100-TB deployment tunes against ITS
    * data's clusteredness. */
  def ivfGeometryFor(rows: Long): (Int, Int) = {
    val lists = math.max(16, math.ceil(math.sqrt(rows.toDouble)).toInt)
    val smallBoost = math.max(0.0, (512.0 - lists) / 512.0) * lists / 16.0
    val nprobe = math.max(8, math.ceil(lists / 8.0 + smallBoost).toInt)
    (lists, math.min(nprobe, lists))
  }

  /** The timed ANN stress pipeline: full train → index → top-5 search
    * for the 20 original-replica queries, end to end (the same
    * whole-operator contour as the dedup pipelines — a regression in
    * Lloyd, assignment, or probe pruning all land in this number). */
  def ivfPipeline(emb: DataFrame, lists: Int, nprobe: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < 20)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = lists)
    val indexed = IvfIndex.index(emb, "vec_id", "embedding", centroids)
    IvfIndex.search(queries, "vec_id", "embedding", indexed, centroids,
      k = 5, nprobe = nprobe)
  }

  /** The ANN audit for the stress JSON, from ONE train and index of
    * [[ivfPipeline]]'s shape: per-leg walls (train, index, search) so the
    * train leg's scaling is an artifact fact rather than a share of an
    * end-to-end number, then recall@5 against the exact brute-force
    * top-5 and the max per-query scanned fraction of the corpus — what
    * makes the sublinear-scan claim auditable (a fast index with silent
    * recall collapse is not a result). train() collects its centroids
    * and index() ends in an eager checkpoint, so their call wall IS their
    * execution wall; search is
    * forced through the noop sink. Returns (recall, scanFrac, (train,
    * index, search) seconds). */
  def ivfAudit(emb: DataFrame, lists: Int,
      nprobe: Int): (Double, Double, (Double, Double, Double)) = {
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val queries = emb.filter(col("vec_id") < 20)
    val (centroids, tTrain) =
      timed(IvfIndex.train(emb, "vec_id", "embedding", k = lists))
    val (indexed, tIndex) =
      timed(IvfIndex.index(emb, "vec_id", "embedding", centroids))
    val approx = IvfIndex.search(queries, "vec_id", "embedding",
      indexed, centroids, k = 5, nprobe = nprobe)
    val (_, tSearch) =
      timed(approx.write.format("noop").mode("overwrite").save())
    val exact = VectorSearch.cosineTopK(queries, emb, "vec_id", "embedding", 5)
      .select(col("qid").as("eqid"), col("nid").as("enid"))
    val hits = approx.join(exact,
      col("qid") === col("eqid") && col("nid") === col("enid")).count()
    val total = exact.count()
    val scanned = IvfIndex.candidates(queries, "vec_id", "embedding",
        indexed, centroids, nprobe = nprobe)
      .groupBy("qid").agg(count(lit(1)).as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    val corpusN = emb.count()
    (if (total == 0) 0.0 else hits.toDouble / total,
      scanned.toDouble / corpusN, (tTrain, tIndex, tSearch))
  }
}
