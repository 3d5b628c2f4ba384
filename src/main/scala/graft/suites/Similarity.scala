package graft.suites

import graft.{Qdef, Tables}
import graft.ops.{IvfIndex, VectorSearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector-similarity corpus over `embeddings` (north-star LLM-pipeline
  * ops, SURVEY §7 Phase 5): exact cosine top-k as the baseline, LSH and
  * IVF ANN as the scale paths with recall property checks.
  */
object Similarity {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // Brute-force cosine top-5 for 5 query vectors; DuckDB verifies with
    // its native list_cosine_similarity. Scores rounded to 4 dp; rank
    // ties broken by neighbor id on both sides.
    Qdef.duckOnly(
      "v01_cosine_topk",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |           WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, c.vec_id AS nid,
        |         list_cosine_similarity(q.qv, c.embedding) AS s
        |  FROM q JOIN embeddings c ON c.vec_id <> q.qid),
        |ranked AS (
        |  SELECT qid, nid, s,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank
        |  FROM scored)
        |SELECT qid, rank, nid, round(s, 4) AS score
        |FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      VectorSearch.cosineTopK(
          emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 5)
        .orderBy("qid", "rank")
    },

    // LSH ANN: recall@5 against the exact top-5, plus a candidate-scan
    // bound — property checks, because bucket membership is the
    // approximation under test (deterministic given the md5 planes).
    // The whole check is ONE plan (joins + aggregates); no driver-side
    // counts. planes=8 × tables=8 multiprobe: measured recall 0.60
    // (sf0.001) / 0.56 (sf0.01) with max scan fraction ~0.3 — both
    // deterministic, so the 0.5 floor cannot flake.
    Qdef(
      "v02_ann_recall",
      "SELECT true AS recall_ok, true AS scan_bounded") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = VectorSearch.cosineTopK(queries, emb, "vec_id", "embedding", 5)
        .select(col("qid").as("eqid"), col("nid").as("enid"))
      val cands = VectorSearch.annCandidates(
        queries, emb, "vec_id", "embedding", planes = 8, tables = 8)
      val approx = VectorSearch.annTopKFrom(cands, 5)
        .select(col("qid"), col("nid"))
      val recall = approx.join(exact,
          col("qid") === col("eqid") && col("nid") === col("enid"))
        .agg(count(lit(1)).cast("double").as("hits"))
        .crossJoin(exact.agg(count(lit(1)).cast("double").as("total")))
        .select((col("hits") / col("total")).as("recall"))
      val scan = cands.groupBy("qid").agg(count(lit(1)).as("cand_n"))
        .agg(max("cand_n").cast("double").as("max_cand"))
        .crossJoin(emb.agg(count(lit(1)).cast("double").as("corpus_n")))
        .select((col("max_cand") / col("corpus_n")).as("scan_frac"))
      recall.crossJoin(scan)
        .select(
          (col("recall") >= 0.5).as("recall_ok"),
          (col("scan_frac") <= 0.6).as("scan_bounded"))
    },

    // IVF ANN: k-means inverted lists, nprobe nearest probed, exact
    // cosine inside. Same property contour as v02 — recall@5 vs the
    // exact top-5 plus a scan bound, all ONE plan. Deterministic:
    // md5-ordered seeds, 6-dp-rounded Lloyd updates (see IvfIndex).
    // The only crossJoins are k-row centroid broadcasts. Measured at
    // k=16/nprobe=8: recall 0.80 (both sf0.001 and sf0.01), max scan
    // fraction 0.52-0.53 — floors at 0.5/0.65 cannot flake.
    Qdef(
      "v04_ivf_recall",
      "SELECT true AS recall_ok, true AS scan_bounded") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = VectorSearch.cosineTopK(queries, emb, "vec_id", "embedding", 5)
        .select(col("qid").as("eqid"), col("nid").as("enid"))
      // train returns a local k-row frame (no Lloyd lineage downstream);
      // the inverted file is materialized ONCE and shared by the recall
      // and scan-fraction branches below — without this, each of the four
      // consumers would re-run assignment from scratch
      val centroids = IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      val indexed = IvfIndex.index(emb, "vec_id", "embedding", centroids)
      val cands = IvfIndex.candidates(
        queries, "vec_id", "embedding", indexed, centroids, nprobe = 8)
      val approx = IvfIndex.search(
          queries, "vec_id", "embedding", indexed, centroids, k = 5, nprobe = 8)
        .select(col("qid"), col("nid"))
      val recall = approx.join(exact,
          col("qid") === col("eqid") && col("nid") === col("enid"))
        .agg(count(lit(1)).cast("double").as("hits"))
        .crossJoin(exact.agg(count(lit(1)).cast("double").as("total")))
        .select((col("hits") / col("total")).as("recall"))
      val scan = cands.groupBy("qid").agg(count(lit(1)).as("cand_n"))
        .agg(max("cand_n").cast("double").as("max_cand"))
        .crossJoin(emb.agg(count(lit(1)).cast("double").as("corpus_n")))
        .select((col("max_cand") / col("corpus_n")).as("scan_frac"))
      recall.crossJoin(scan)
        .select(
          (col("recall") >= 0.5).as("recall_ok"),
          (col("scan_frac") <= 0.65).as("scan_bounded"))
    },

    // Per-label vector statistics — the aggregate side of embedding
    // pipelines (norms, centroid components), double-accumulated
    // left-to-right on both engines.
    Qdef.duckOnly(
      "v03_vector_stats",
      """SELECT label,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(avg(sqrt(list_dot_product(embedding, embedding))), 4) AS avg_norm,
        |  round(avg(CAST(embedding[1] AS DOUBLE)), 4) AS centroid_d1,
        |  round(avg(CAST(embedding[2] AS DOUBLE)), 4) AS centroid_d2
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .groupBy("label")
        .agg(
          count(lit(1)).as("n"),
          // native codegen dot product — same left-to-right double
          // accumulation as the lambda form, minus the lambda overhead
          round(avg(sqrt(expr("graft_dot(embedding, embedding)"))), 4)
            .as("avg_norm"),
          round(avg(element_at(col("embedding"), 1).cast("double")), 4).as("centroid_d1"),
          round(avg(element_at(col("embedding"), 2).cast("double")), 4).as("centroid_d2"))
        .orderBy("label")
    }
  )
}
