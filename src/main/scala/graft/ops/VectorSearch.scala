package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search over an Array[Float] embedding column.
  *
  * Two paths (SURVEY §7 Phase 5, the north-star similarity extension):
  *  - `cosineTopK`: exact brute force — the small-query-set baseline.
  *    Queries broadcast, corpus streamed, per-query top-k via
  *    WindowGroupLimit. Scales with |corpus|×|queries|.
  *  - `annTopK`: sign-random-projection LSH — each vector lands in a
  *    2^planes bucket; searches probe the query's bucket (plus 1-bit
  *    neighbors), so the scan fraction is ≈ (1+planes)/2^planes. The
  *    hyperplanes are deterministic ±1 matrices derived from md5 so any
  *    engine (and any rerun) reproduces the same buckets.
  *
  * The reference's nearest relative is cosine_similarity over sparse maps
  * (reference: presto-main/.../operator/scalar/MathFunctions.java); it
  * has no ANN operator.
  */
object VectorSearch {

  /** Cosine similarity between two equal-length float-array columns,
    * accumulated in double, left-to-right (bit-reproducible). Uses the
    * native codegen DotProductFloat expression (registered as graft_dot
    * by Engine.session) — a primitive loop with no intermediate arrays. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: String, y: String) = expr(s"graft_dot($x, $y)")
    val an = a.toString; val bn = b.toString
    dot(an, bn) / (sqrt(dot(an, an)) * sqrt(dot(bn, bn)))
  }

  /** Exact top-k neighbors for each query row (brute force).
    * Output: qid, rank (1..k), nid, score (rounded to 4 dp). */
  def cosineTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = broadcast(q).join(c, col("qid") =!= col("nid"))
      .withColumn("score", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
  }

  /** Deterministic ±1 hyperplane matrix: sign(plane j, dim d) follows the
    * high bit of a hex digit of md5("t_j_d") — public, reproducible,
    * engine-independent. `table` seeds independent hash tables for
    * multi-table LSH. */
  def planeSigns(planes: Int, dim: Int, table: Int = 0): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dim) { (j, d) =>
      val key = if (table == 0) s"${j}_$d" else s"${table}_${j}_$d"
      val hex = md.digest(key.getBytes("UTF-8"))
      if ((hex(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  /** LSH bucket id (0 until 2^planes) for a vector column — the
    * declarative REFERENCE form (specs replay it); the pipeline runs the
    * bit-identical native kernel below (r16: the aggregate/zip_with
    * lambdas are interpreted HOFs — two lambda dispatches per (row,
    * plane, dimension); EmbeddingKernelsSpec pins kernel ≡ this). */
  def bucketOf(vec: Column, signs: Array[Array[Double]]): Column = {
    val bits = signs.zipWithIndex.map { case (plane, j) =>
      val planeLit = array(plane.toIndexedSeq.map(lit): _*)
      val d = expr(
        s"aggregate(zip_with(${vec.toString}, ${planeLit.toString}, " +
          "(p, q) -> CAST(p AS DOUBLE) * q), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
      when(d > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** Bucket assignments for one vector column across `tables` independent
    * LSH tables: array of per-table bucket ids (0 until 2^planes),
    * through the native graft_lsh_sig_vec kernel (same planeSigns
    * matrices, same left-to-right double accumulation — see
    * [[graft.functions.LshSignatureVec]]). The configured `dim` rides
    * along so a vector of a different length fails loudly instead of
    * silently hashing under an unintended plane geometry (ADVICE r16). */
  private def bucketsOf(
      vec: Column, planes: Int, dim: Int, tables: Int): Column =
    call_function("graft_lsh_sig_vec", vec, lit(planes), lit(tables), lit(dim))

  /** Approximate top-k via multi-table sign-random-projection LSH:
    * `tables` independent plane sets; a candidate qualifies by sharing the
    * query's bucket — or any bucket at hamming distance 1 (multiprobe) —
    * in ANY table. Multiple tables are the standard recall lever: a true
    * neighbor is missed only if it misses in every table, so recall is
    * 1-(1-r)^L for per-table recall r, while the scan fraction stays
    * ≈ L·(1+planes)/2^planes. Corpus rows replicate once per table
    * (the classic LSH space/recall trade); candidate dedup happens on
    * (qid, nid) before scoring. Returns the cosineTopK shape. */
  def annCandidates(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, dim: Int = 64, tables: Int = 1): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("nb", bucketsOf(col("nv"), planes, dim, tables))
      .select(col("nid"), col("nv"),
        posexplode(col("nb")).as(Seq("nt", "nbucket")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("qb", bucketsOf(col("qv"), planes, dim, tables))
      .select(col("qid"), col("qv"), posexplode(col("qb")).as(Seq("qt", "qbucket")))
      // multiprobe: own bucket + each 1-bit flip, per table
      .withColumn("probe", explode(expr(
        s"array_union(array(qbucket), transform(sequence(0, ${planes - 1}), " +
          "j -> CAST(qbucket AS INT) ^ shiftleft(1, j)))")))
    broadcast(q).join(c,
        col("qt") === col("nt") && col("probe") === col("nbucket") &&
        col("qid") =!= col("nid"))
      // a pair can match in several tables/probes — keep each pair once
      .groupBy("qid", "nid")
      .agg(first("qv").as("qv"), first("nv").as("nv"))
  }

  /** Score + rank an annCandidates frame — split out so a caller that
    * already has the candidates (e.g. to bound the scan) doesn't pay the
    * probe join twice. */
  def annTopKFrom(cands: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = cands.withColumn("score", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
  }

  def annTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int = 8, dim: Int = 64, tables: Int = 1): DataFrame =
    annTopKFrom(
      annCandidates(queries, corpus, idCol, vecCol, planes, dim, tables), k)
}
