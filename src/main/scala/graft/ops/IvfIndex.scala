package graft.ops

import graft.functions.NearestList
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import scala.collection.immutable.ArraySeq

/** IVF (inverted-file) approximate nearest neighbor — the second ANN
  * path next to [[VectorSearch.annTopK]]'s sign-LSH: a coarse k-means
  * quantizer partitions the corpus into k inverted lists; a query probes
  * only the `nprobe` lists whose centroids are nearest, then scores
  * exact cosine inside them. Scan fraction ≈ nprobe/k on balanced lists
  * (the classic IVF-Flat layout of the FAISS line of work).
  *
  *  - Training ([[train]]) runs deterministic Lloyd passes over a
  *    BOUNDED sample with the k centroids held on the driver; each pass
  *    is one Spark job that Catalyst never plans. Only centroids ever
  *    reach the driver (the same bounded-model contour as
  *    [[VectorSearch.planeSigns]]), never the corpus.
  *  - Indexing ([[index]]) embeds the trained centroids as flat literal
  *    arrays in the `graft_nearest_list` codegen kernel: one map-side
  *    pass over the corpus, no exchange.
  *  - Search is one plan: query → nprobe nearest centroids (broadcast
  *    k rows + rank window) → equi-join on the cluster id against the
  *    assigned corpus → exact cosine → top-k window. Each corpus vector
  *    lives in exactly ONE list, so no candidate dedup is needed
  *    (unlike multi-table LSH).
  *
  * A NULL vector fails [[train]] and [[index]] with a message naming the
  * vector column; so does, in [[train]], a vector with a NULL component
  * or of another length than the centroids, which [[index]] fails in
  * `graft_nearest_list` with the element's position. None is ever filed
  * into a list.
  *
  * The reference has no ANN operator (its nearest relative is
  * cosine_similarity over sparse maps, presto-main/.../operator/scalar/
  * MathFunctions.java); this is part of the training-data-pipeline
  * extension surface.
  */
object IvfIndex {

  /** Squared L2 distance between two float-array columns via the native
    * codegen dot product: ||a-b||² = a·a − 2a·b + b·b. */
  private def sqDist(a: String, b: String) =
    expr(s"graft_dot($a, $a) - 2 * graft_dot($a, $b) + graft_dot($b, $b)")

  /** Lloyd passes per [[train]]. */
  private val Iters = 2

  private val CentroidSchema = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("centroid", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  private def nullVector(vecCol: String): String =
    s"IvfIndex: NULL vector in column '$vecCol'"

  /** Train k centroids with [[Iters]] Lloyd passes over a BOUNDED
    * deterministic sample. Returns a local k-row frame
    * (cluster INT, centroid ARRAY<FLOAT>).
    *
    * Lloyd runs on ≈ max(256·k, 10⁵) rows, not the corpus — the
    * standard IVF training recipe (k-means quality needs O(points per
    * centroid), and 256/centroid is the classic FAISS default). With
    * the √n lists rule this makes training 256·k² = 256·n flops —
    * LINEAR in corpus size — where full-corpus Lloyd is n·k = n^1.5. The
    * sample is chosen by a MAP-SIDE md5-threshold filter (md5 hex is
    * uniform, so keeping hashes lexicographically below cap/n of the
    * space yields ≈cap rows) and is eagerly checkpointed when it
    * engages, so the passes re-read ~cap bounded rows, not the corpus.
    *
    * Jobs: the bounded over-cap probe, the seed take (the k smallest
    * md5(id), numbered 0..k-1 on the driver), then one job per Lloyd
    * pass (plus the sample's count and barrier when the cap engages).
    * A pass reads the vectors through the one plan built before the
    * loop; each partition assigns its rows to the nearest centroid
    * ([[graft.functions.NearestList.argmin]]) and emits (cluster →
    * double sums, n) partials, `reduceByKey` brings them to at most k
    * rows, and the driver divides and rounds each component like
    * Spark's `round(x / n, 6)` before narrowing to float, so
    * shuffle-order float jitter cannot flip an assignment between runs.
    * Ties go to the smallest cluster id; a cluster whose list empties
    * drops out and the survivors keep their ids. Training is fully
    * DETERMINISTIC given the ids. A NULL vector or component, or a
    * vector of another length, fails the pass.
    *
    * The result is a LocalRelation: consumers see a constant-size leaf
    * with no training lineage, and its size statistics let the join
    * planner broadcast it (and dynamic partition pruning fire on it).
    * `sampleCap = 0` means the auto rule max(256·k, 10⁵); specs pass a
    * small cap to exercise the sampled path at fixture scale. */
  def train(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleCap: Long = 0L): DataFrame = {
    val c0 = corpus
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__h", md5(col("__id").cast("string")))
    val cap = if (sampleCap > 0) sampleCap else math.max(256L * k, 100000L)
    // Bounded over-cap probe instead of an unconditional full count():
    // each partition of a zero-column scan stops after cap+1 rows, so a
    // bounded corpus (every n ≤ cap caller) answers in O(cap) work per
    // split regardless of corpus size, in one job. Only an over-cap
    // corpus pays the full count — which the threshold fraction
    // genuinely needs, and which is then the train's only full corpus
    // pass besides the sample filter itself.
    val capI = math.min(cap, Int.MaxValue - 1L).toInt
    val over = c0.select(lit(1)).queryExecution.toRdd
      .mapPartitions(rows => Iterator(rows.take(capI + 1).size.toLong))
      .fold(0L)(_ + _) > cap
    val c =
      if (!over) c0
      else {
        val n = c0.count()
        // top 60 bits of the md5 hex, compared lexicographically (the
        // hex alphabet is order-preserving): keep ≈ cap/n of the space
        val thresh = (cap.toDouble / n * math.pow(2, 60)).toLong
        // repartition: the filter inherits the corpus's split count —
        // thousands of near-empty partitions at 100 TB, each scheduling
        // a task per Lloyd pass. ≈cap rows is one trivial shuffle.
        val sampled = c0.filter(col("__h") < lit(f"$thresh%015x"))
          .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
        // the sample is ≈cap rows — bounded, so materializing it is the
        // bounded-model contour, not a corpus copy
        sampled.localCheckpoint(eager = true)
      }
    // sort + limit collects in md5 order, which numbers the seeds
    var cents = c.orderBy("__h").limit(k)
      .select(col("__v").cast("array<float>")).collect().zipWithIndex
      .map { case (r, i) =>
        require(!r.isNullAt(0), nullVector(vecCol))
        (i, r.getSeq[Float](0).toArray)
      }
    require(cents.nonEmpty, "IvfIndex.train needs a non-empty corpus")
    val rows = c.select(col("__v").cast("array<float>")).queryExecution.toRdd
    for (_ <- 0 until Iters) cents = lloydPass(rows, vecCol, cents)
    corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(cents.map { case (id, v) =>
        Row(id, ArraySeq.unsafeWrapArray(v)) }: _*),
      CentroidSchema)
  }

  /** The k (id, centroid) pairs, sorted by id, as the nearest-list
    * kernel's operands: row-major floats zero-padded to the widest
    * centroid, and the squared norms. */
  private def pack(cents: Array[(Int, Array[Float])]): (Array[Float], Array[Double]) = {
    val dim = cents.map(_._2.length).max
    val flat = new Array[Float](cents.length * dim)
    cents.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, flat, i * dim, v.length)
    }
    (flat, cents.map(_._2.foldLeft(0.0)((s, x) => s + x.toDouble * x)))
  }

  /** One Lloyd pass, one job: assign each vector to its nearest centroid
    * and return the new centroids of the non-empty clusters, sorted by
    * id. Sums are doubles over float components; their merge order
    * across partitions follows the shuffle, which the 6-dp rounding
    * absorbs. A NULL vector, a NULL component or a length other than
    * the centroids' fails the pass, naming `vecCol`. */
  private def lloydPass(
      rows: RDD[InternalRow], vecCol: String,
      cents: Array[(Int, Array[Float])]): Array[(Int, Array[Float])] = {
    val (flat, norms) = pack(cents)
    val ids = cents.map(_._1)
    val k = ids.length
    val dim = flat.length / k
    val what = s"IvfIndex: vector in column '$vecCol'"
    def add(into: Array[Double], from: Array[Double]): Array[Double] = {
      var d = 0
      while (d < dim) { into(d) += from(d); d += 1 }
      into
    }
    rows.mapPartitions { it =>
      val sums = new Array[Array[Double]](k)
      val ns = new Array[Long](k)
      it.foreach { r =>
        if (r.isNullAt(0)) throw new IllegalArgumentException(nullVector(vecCol))
        val v = r.getArray(0)
        val c = NearestList.argmin(flat, norms, v, what)
        if (sums(c) == null) sums(c) = new Array[Double](dim)
        val s = sums(c)
        var d = 0
        while (d < dim) { s(d) += v.getFloat(d); d += 1 }
        ns(c) += 1
      }
      (0 until k).iterator.filter(ns(_) > 0).map(c => (ids(c), (sums(c), ns(c))))
    }.reduceByKey((a, b) => (add(a._1, b._1), a._2 + b._2),
        math.min(k, rows.sparkContext.defaultParallelism))
      .collect()
      .sortBy(_._1)
      .map { case (id, (s, n)) => (id, s.map(x => round6(x / n).toFloat)) }
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP over the decimal
    * rendering of x, NaN and infinities unchanged. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Nearest-centroid assignment, MAP-SIDE: the centroids (k bounded
    * rows of a local frame) are embedded as two flat literal arrays —
    * row-major floats and squared norms — in the `graft_nearest_list`
    * codegen kernel, so each corpus row computes its argmin in one
    * primitive k·dim loop with no exchange. (A broadcast join of the
    * centroids min_by-grouped over n×k rows measured 2.4 GB of spill at
    * 40×; an aggregate() HOF over a struct literal ran ~3× slower.)
    * Surviving cluster ids need not be consecutive after a Lloyd pass
    * drops an emptied list, so the argmin INDEX maps back through a
    * companion id literal; the literal is sorted by id and the kernel
    * keeps the first minimum, so ties break to the smallest cluster. A
    * NULL vector raises an error naming `vecCol`; the kernel fails a
    * NULL component or a wrong length itself. */
  private def assignTo(
      c: DataFrame, vecCol: String, centroids: DataFrame): DataFrame = {
    val cents = centroids
      .select(col("cluster").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignTo needs at least one centroid")
    val (flat, norms) = pack(cents)
    val idx = call_function("graft_nearest_list",
      col("__v").cast("array<float>"), typedlit(flat), typedlit(norms))
    c.withColumn("__cluster",
      when(col("__v").isNull, raise_error(lit(nullVector(vecCol))))
        .otherwise(element_at(typedlit(cents.map(_._1)), idx + lit(1))))
  }

  /** The inverted file: (id, vec, cluster) — cluster is the partition /
    * bucketing key a 100-TB layout would persist by (see the PlanSpec
    * partitioned-write test). It ends in an eager localCheckpoint
    * barrier, so callers probing the index more than once
    * (recall + scan-fraction branches, repeated searches) pay the
    * assignment pass exactly once. */
  def index(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignTo(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")), vecCol,
      centroids)
      .select(col("__id").as("nid"), col("__v").as("nv"),
        col("__cluster").as("ncluster"))
      .localCheckpoint(eager = true)

  /** Probe the `nprobe` nearest lists per query and return exact-cosine
    * top-k within them — the [[VectorSearch.cosineTopK]] output shape
    * (qid, rank, nid, score). */
  def search(
      queries: DataFrame, idCol: String, vecCol: String,
      indexed: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    candidates(queries, idCol, vecCol, indexed, centroids, nprobe)
      .withColumn("score", VectorSearch.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"),
        round(col("score"), 4).as("score"))
  }

  /** Candidate lists without scoring (qid, qv, nid, nv): each query
    * against every vector of its `nprobe` nearest lists. [[search]]
    * scores these; alone they bound the scan fraction. */
  def candidates(
      queries: DataFrame, idCol: String, vecCol: String,
      indexed: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy("qid")
      .orderBy(col("__qdist"), col("cluster"))
    q.crossJoin(broadcast(centroids))
      .withColumn("__qdist", sqDist("qv", "centroid"))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("qid"), col("qv"), col("cluster"))
      .join(indexed, col("cluster") === col("ncluster") && col("qid") =!= col("nid"))
      .select(col("qid"), col("qv"), col("nid"), col("nv"))
  }
}
