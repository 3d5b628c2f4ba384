package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second ANN
  * path next to [[VectorSearch.annTopK]]'s sign-LSH: a coarse k-means
  * quantizer partitions the corpus into k inverted lists; a query probes
  * only the `nprobe` lists whose centroids are nearest, then scores
  * exact cosine inside them. Scan fraction ≈ nprobe/k on balanced lists
  * (the classic IVF-Flat layout of the FAISS line of work).
  *
  * Everything is expressed as DataFrame ops that survive 100 TB:
  *  - Training iterates Lloyd's algorithm over a BOUNDED deterministic
  *    sample (≈ max(256·k, 10⁵) rows — see [[train]]; 256·n flops total
  *    under the √n lists rule, vs n^1.5 for full-corpus Lloyd) with the
  *    k centroids embedded as FLAT LITERAL arrays — assignment is a
  *    MAP-SIDE codegen argmin kernel ([[graft.functions.NearestList]]:
  *    zero exchange, rows stay n; see [[assignTo]] for the n×k-row
  *    broadcast-join design the 40× stress run retired), the update an
  *    element-wise [[graft.functions.VecSum]]
  *    aggregate (k·dim shuffled values; the posexplode-by-dimension
  *    update it replaced exchanged sample·dim ROWS). Only the k centroid
  *    rows ever reach the driver (the same bounded-model contour as
  *    [[VectorSearch.planeSigns]]), never the corpus.
  *  - Init and iteration are DETERMINISTIC: seeds are the k vectors
  *    with the smallest md5(id) in the sample, and every centroid
  *    component is rounded to 6 dp after each update so shuffle-order
  *    float jitter cannot flip assignments between runs.
  *  - Search is one plan: query → nprobe nearest centroids (broadcast
  *    k rows + rank window) → equi-join on the cluster id against the
  *    assigned corpus → exact cosine → top-k window. Each corpus vector
  *    lives in exactly ONE list, so no candidate dedup is needed
  *    (unlike multi-table LSH).
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

  /** Train k centroids with [[Iters]] Lloyd passes over a BOUNDED
    * deterministic sample. Returns a k-row frame (cluster, centroid)
    * where centroid is Array[Float]; only these k rows are collected.
    *
    * Lloyd runs on ≈ max(256·k, 10⁵) rows, not the corpus — the
    * standard IVF training recipe (k-means quality needs O(points per
    * centroid), and 256/centroid is the classic FAISS default). With
    * the √n lists rule this makes training 256·k² = 256·n flops —
    * LINEAR in corpus size — where full-corpus Lloyd is n·k = n^1.5
    * (measured before this change: 3.7 s @10× → 27.5 s @40×, right on
    * the n·√n curve; catastrophic at 10⁹ vectors). The sample is chosen
    * by a MAP-SIDE md5-threshold filter (md5 hex is uniform, so keeping
    * hashes lexicographically below cap/n of the space yields ≈cap
    * rows) — no sort, no TakeOrdered single-partition bottleneck — and
    * is eagerly checkpointed when it engages, so the Lloyd passes
    * re-read ~cap bounded rows, not the corpus. Seeds are the k
    * smallest md5 within the sample; every centroid component is
    * rounded to 6 dp after each update so shuffle-order float jitter
    * cannot flip assignments between runs — training is fully
    * DETERMINISTIC given the ids.
    *
    * The centroid update aggregates with [[graft.functions.VecSum]]
    * (element-wise array sum, map-side combinable): the update shuffles
    * k·dim partial values instead of the sample·dim rows the previous
    * posexplode-by-dimension design exchanged.
    *
    * Every Lloyd pass ends in a MATERIALIZATION BARRIER (an eager
    * localCheckpoint of the k bounded rows — the same lifecycle as
    * [[MinHashLSH.nearDuplicates]] / [[EmbeddingDedup.nearDuplicates]];
    * a 100-TB pipeline writes them to reliable storage instead). Without
    * the barrier the returned frame's lineage holds every full
    * assignment pass, and EVERY downstream consumer (index, each probe,
    * each search) silently re-executes the whole training — a ~(passes ×
    * consumers)× multiplier on the most expensive stage at scale. With it,
    * training runs exactly once: one sample pass per iteration, k rows
    * checkpointed, and consumers see a constant-size leaf.
    * `sampleCap = 0` means the auto rule max(256·k, 10⁵); specs pass a
    * small cap to exercise the sampled path at fixture scale. */
  def train(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleCap: Long = 0L): DataFrame = {
    val c0 = corpus
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__h", md5(col("__id").cast("string")))
    val cap = if (sampleCap > 0) sampleCap else math.max(256L * k, 100000L)
    // Bounded over-cap probe instead of an unconditional full count(): a
    // zero-column LocalLimit scan stops after cap+1 rows, so a bounded
    // corpus (every n ≤ cap caller) answers in O(cap) work regardless
    // of corpus size. Only an over-cap corpus pays the full count —
    // which the threshold fraction genuinely needs, and which is then
    // the train's only full corpus pass besides the sample filter itself.
    val capI = math.min(cap, Int.MaxValue - 1L).toInt
    val over = c0.select(lit(1).as("__one")).limit(capI + 1).count() > cap
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
    var centroids = c
      .orderBy("__h").limit(k)
      .select(
        (row_number().over(Window.orderBy("__h")) - 1).as("cluster"),
        col("__v").cast("array<float>").as("centroid"))
    for (_ <- 0 until Iters) {
      val assigned = assignTo(c, centroids)
      val updated = assigned
        .groupBy(col("__cluster").as("cluster"))
        .agg(graft.functions.VecSum.sum(col("__v").cast("array<float>"))
            .as("__sum"),
          count(lit(1)).as("__n"))
        // 6-dp rounding: shuffle-order float jitter in the double sums
        // must not be able to flip a near-tie assignment between runs
        .select(col("cluster"),
          transform(col("__sum"), x => round(x / col("__n"), 6).cast("float"))
            .as("centroid"))
      // per-iteration barrier: iteration i+1's assignment must not drag
      // iteration i's sample pass along in its lineage
      centroids = updated.localCheckpoint(eager = true)
    }
    centroids
  }

  /** Nearest-centroid assignment, MAP-SIDE: the k centroids are
    * collected (k bounded rows — the same driver-size contract as the
    * trained model itself) and embedded as a LITERAL array, so each
    * corpus row computes its argmin in one codegen'd HOF pass over k
    * structs. The first design broadcast-JOINED the centroid frame and
    * min_by-grouped the n×k result — same flops, but it MATERIALIZED
    * and shuffled n×k rows carrying two dense vectors each; the 40×
    * ANN stress run measured what that does (80 000 × 283 ≈ 23 M
    * ~600-byte rows → 2.4 GB of spill, 78 s). Map-side, rows stay n
    * and assignment needs no exchange at all. Per-centroid squared
    * norms ride in the literal so the squared distance costs ONE dot
    * product per (row, centroid): ‖c−v‖² = ‖c‖² − 2c·v + ‖v‖², with
    * ‖v‖² hoisted out of the per-centroid lambda. Ties break to the
    * smallest cluster id via struct ordering, exactly like the min_by
    * form did. */
  private def assignTo(c: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids
      .select(col("cluster").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignTo needs at least one centroid")
    // the k centroids ride as TWO FLAT literal primitive arrays (row-major
    // floats + squared norms) into the graft_nearest_list codegen kernel:
    // one primitive k·dim multiply-add loop per row, where the previous
    // aggregate()-HOF form paid a struct access + nested-ArrayData view +
    // lambda dispatch per centroid (measured ~3× slower on the 40× stress
    // train leg). ‖v‖² is dropped from the distance entirely: it is
    // constant per row, so argmin(‖c‖² − 2c·v) = argmin(‖c−v‖²). The
    // kernel's strict `<` keeps the FIRST minimum and the literal is
    // sorted by cluster id — ties break to the smallest cluster, exactly
    // like the min_by(struct(d, cl)) form. Surviving cluster ids need not
    // be consecutive after a Lloyd pass drops an emptied list, so the
    // argmin INDEX maps back through a companion id literal.
    val dim = cents.map(_._2.length).max
    val flat = new Array[Float](cents.length * dim)
    cents.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, flat, i * dim, v.length)
    }
    val norms = cents.map(_._2.foldLeft(0.0)((s, x) => s + x.toDouble * x))
    val ids = cents.map(_._1)
    val idx = call_function("graft_nearest_list",
      col("__v").cast("array<float>"), typedlit(flat), typedlit(norms))
    c.withColumn("__cluster", element_at(typedlit(ids), idx + lit(1)))
  }

  /** The inverted file: (id, vec, cluster) — cluster is the partition /
    * bucketing key a 100-TB layout would persist by (see the PlanSpec
    * partitioned-write test). It ends in the same eager localCheckpoint
    * barrier as [[train]], so callers probing the index more than once
    * (recall + scan-fraction branches, repeated searches) pay the
    * assignment pass exactly once. */
  def index(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignTo(
      corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")), centroids)
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
