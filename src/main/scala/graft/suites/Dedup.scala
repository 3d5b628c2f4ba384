package graft.suites

import graft.{Qdef, Tables}
import graft.ops.{EmbeddingDedup, MinHashLSH, SimHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication corpus over `documents` (north-star LLM-pipeline ops,
  * SURVEY §7 Phase 5): exact dedup, MinHash+LSH near-dup, SimHash
  * fingerprints, n-gram Jaccard, embedding-cosine near-dup. Everything
  * is shuffle-on-key — no all-pairs joins, no driver-side collects.
  */
object Dedup {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // Exact dedup: hash-groupBy on a normalization key, keep min doc_id.
    // kept_id_sum is a deterministic checksum of WHICH rows survived.
    Qdef(
      "d01_exact_dedup",
      """SELECT count(*) AS n_groups,
        |  CAST(sum(keep_id) AS BIGINT) AS kept_id_sum,
        |  CAST(sum(dupes) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT min(doc_id) AS keep_id, count(*) AS dupes
        |  FROM documents
        |  GROUP BY md5(lower(substr(text, 1, 30)))
        |) g""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(lower(substring(col("text"), 1, 30))).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dupes"))
        .agg(
          count(lit(1)).as("n_groups"),
          sum("keep_id").cast("bigint").as("kept_id_sum"),
          sum("dupes").cast("bigint").as("n_docs"))
    },

    // MinHash + banded LSH near-duplicates, verified by exact shingle
    // Jaccard ≥ 0.5. The oracle brute-forces all pairs (fine at sf0.01);
    // the engine only ever examines LSH candidates.
    Qdef.duckOnly(
      "d02_minhash_near_dup",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
        |    i -> w[i] || '_' || coalesce(w[i+1], '') || '_' || coalesce(w[i+2], ''))) AS t
        |  FROM sp)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.t, b.t))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.t, b.t))) >= 0.5
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      MinHashLSH.nearDuplicates(t(s, dir, "documents"), "doc_id", "text", 0.5)
        .select(col("id1"), col("id2"), col("jaccard"))
        .orderBy("id1", "id2")
    },

    // SimHash fingerprints with a dialect-neutral md5-derived hash family
    // — bit-for-bit verifiable by the oracle.
    Qdef.duckOnly(
      "d03_simhash",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |  WHERE doc_id < 50),
        |sums AS (
        |  SELECT doc_id,
        |""".stripMargin +
        (1 to SimHash.Bits).map(j =>
          s"    sum(CASE WHEN strpos('89abcdef', substr(md5(tok), $j, 1)) > 0" +
            s" THEN 1 ELSE -1 END) AS b$j").mkString(",\n") +
        """
        |  FROM toks WHERE tok <> '' GROUP BY doc_id)
        |SELECT doc_id, """.stripMargin +
        (1 to SimHash.Bits).map(j =>
          s"(CASE WHEN b$j > 0 THEN '1' ELSE '0' END)").mkString(" || ") +
        """ AS simhash
        |FROM sums ORDER BY doc_id""".stripMargin) { (s, dir) =>
      SimHash.signatures(
          t(s, dir, "documents").filter(col("doc_id") < 50), "doc_id", "text")
        .orderBy("doc_id")
    },

    // End-to-end training-data pipeline: quality filter → exact dedup →
    // LSH near-dup removal (drop the higher doc_id of each verified pair)
    // → per-language corpus stats. The oracle replays the same pipeline
    // with brute-force pair search; every stage is shuffle-on-key on the
    // engine side.
    Qdef.duckOnly(
      "d05_training_pipeline",
      """WITH quality AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    len(string_split(text, ' ')) AS n_words
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 100),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |      i -> string_split(text, ' ')[i] || '_' ||
        |           coalesce(string_split(text, ' ')[i+1], '') || '_' ||
        |           coalesce(string_split(text, ' ')[i+2], ''))) AS t
        |  FROM quality),
        |dupes AS (
        |  SELECT DISTINCT b.doc_id AS drop_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.t, b.t))) >= 0.5)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM quality
        |WHERE doc_id NOT IN (SELECT drop_id FROM dupes)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val quality = t(s, dir, "documents")
        .withColumn("n_words", size(split(col("text"), " ")))
        .filter(col("n_words").between(20, 100))
      val dupes = MinHashLSH.nearDuplicates(quality, "doc_id", "text", 0.5)
        .select(col("id2").as("drop_id")).distinct()
      quality
        .join(dupes, col("doc_id") === col("drop_id"), "left_anti")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("bigint").as("total_chars"))
        .orderBy("lang")
    },

    // Character n-gram Jaccard on a bounded pair set (same source bucket)
    // — the exact-similarity primitive near-dup pipelines verify with.
    Qdef.duckOnly(
      "d04_ngram_jaccard",
      """WITH g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, length(text) - 2),
        |      i -> substr(text, i, 3))) AS grams
        |  FROM documents WHERE doc_id < 60)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jac
        |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val g = t(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("source"),
          array_distinct(expr(
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
            .as("grams"))
      val a = g.select(col("doc_id").as("id1"), col("source").as("src1"),
        col("grams").as("g1"))
      val b = g.select(col("doc_id").as("id2"), col("source").as("src2"),
        col("grams").as("g2"))
      a.join(b, col("src1") === col("src2") && col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(size(array_intersect(col("g1"), col("g2"))).cast("double") /
            size(array_union(col("g1"), col("g2"))), 6).as("jac"))
        .orderBy("id1", "id2")
    },

    // Deterministic uniform k-sample as a mergeable bottom-k hash sketch
    // (training pipelines sample corpora constantly; RNG reservoirs can't
    // be oracle-checked or retried idempotently — hash-ordering can).
    // DuckDB replays the EXACT sample: the k values with the smallest
    // md5 prefix. Input repartitioned 64 ways so the merge path is
    // exercised, which must not change the result.
    Qdef.duckOnly(
      "d06_bottom_k_sample",
      """SELECT CAST(doc_id AS VARCHAR) AS did
        |FROM documents
        |ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 16)
        |LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .repartition(64)
        .agg(expr("bottom_k_sample(CAST(doc_id AS STRING), 10L)").as("sample"))
        .select(explode(col("sample")).as("did"))
    },

    // Duplicate-CLUSTER assignment: connected components over the
    // n-gram-Jaccard pair graph (threshold 0.45 on the d04 pair set) by
    // distributed min-label propagation (`ops/DupComponents`) — the
    // transitive-closure step real dedup pipelines run after pair
    // detection (A≈B, B≈C must collapse even though A,C never paired;
    // the fixture yields 3-doc chains, so multi-round propagation is
    // exercised). DuckDB replays the exact closure with a RECURSIVE
    // CTE; singleton docs keep themselves as representative via the
    // left join.
    Qdef.duckOnly(
      "d09_dup_clusters",
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, length(text) - 2),
        |      i -> substr(text, i, 3))) AS grams
        |  FROM documents WHERE doc_id < 60),
        |pairs AS (
        |  SELECT x.doc_id AS ia, y.doc_id AS ib
        |  FROM g x JOIN g y ON x.source = y.source AND x.doc_id < y.doc_id
        |  WHERE CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
        |        / len(list_distinct(list_concat(x.grams, y.grams))) >= 0.45),
        |edges AS (SELECT ia AS src, ib AS dst FROM pairs
        |          UNION SELECT ib, ia FROM pairs),
        |reach(node, other) AS (
        |  SELECT doc_id, doc_id FROM g
        |  UNION
        |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.other = e.src)
        |SELECT node AS doc_id, CAST(min(other) AS BIGINT) AS rep
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val g = t(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), col("source"),
          array_distinct(expr(
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
            .as("grams"))
      val x = g.select(col("doc_id").as("a"), col("source").as("src1"),
        col("grams").as("g1"))
      val y = g.select(col("doc_id").as("b"), col("source").as("src2"),
        col("grams").as("g2"))
      // raw (unrounded) ratio on BOTH engines so the threshold crossing
      // is decided identically
      val pairs = x.join(y, col("src1") === col("src2") && col("a") < col("b"))
        .filter(size(array_intersect(col("g1"), col("g2"))).cast("double") /
          size(array_union(col("g1"), col("g2"))) >= 0.45)
        .select(col("a"), col("b"))
      val comp = graft.ops.DupComponents.components(pairs)
      g.select(col("doc_id"))
        .join(comp, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).cast("bigint").as("rep"))
        .orderBy("doc_id")
    },

    // Domain-mixture sampling: the pretraining step that downsamples each
    // source to a target mixture (web 10%, books 75%, ... — here a CASE
    // rate spec). The keep decision is a deterministic per-doc hash
    // against a per-source threshold: substr(md5(doc_id), 1, 4) is 16
    // uniform bits, kept iff below the source's hex threshold (rate =
    // hexval/65536) — purely map-side (no join, no shuffle beyond the
    // count aggregation), idempotent across retries, exactly replayable
    // by any engine, and the sample composes with d06/d08 (different
    // hash keys = independent draws). Counts are exact on both engines.
    Qdef(
      "d10_domain_mixture",
      """SELECT source, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE substr(md5(CAST(doc_id AS STRING)), 1, 4) <
        |    CASE source WHEN 'src1' THEN '1000' WHEN 'src2' THEN '4000'
        |      WHEN 'src3' THEN '8000' WHEN 'src4' THEN 'c000'
        |      WHEN 'src5' THEN 'f000' ELSE '6000' END) AS BIGINT) AS n_kept
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, dir) =>
      val thr = when(col("source") === "src1", "1000")
        .when(col("source") === "src2", "4000")
        .when(col("source") === "src3", "8000")
        .when(col("source") === "src4", "c000")
        .when(col("source") === "src5", "f000")
        .otherwise("6000")
      t(s, dir, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(substring(md5(col("doc_id").cast("string")), 1, 4) < thr, 1))
            .as("n_kept"))
        .orderBy("source")
    },

    // SEEDED reservoir sample (reference: operator/aggregation/
    // reservoirsample/ — a uniform k-sample maintained under merge; ours
    // replaces the reference's unseeded RNG with a (seed, value)-keyed
    // digest so the sample is reproducible, idempotent across retries,
    // and independent per seed). DuckDB replays the EXACT sample from
    // the same seed; repartition(64) exercises the distributed merge,
    // which must not change the result.
    Qdef.duckOnly(
      "d08_reservoir_sample",
      """SELECT CAST(doc_id AS VARCHAR) AS did
        |FROM documents
        |ORDER BY substr(md5('graft-r9:' || CAST(doc_id AS VARCHAR)), 1, 16)
        |LIMIT 12""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .repartition(64)
        .agg(expr("reservoir_sample(CAST(doc_id AS STRING), 12L, 'graft-r9')")
          .as("sample"))
        .select(explode(col("sample")).as("did"))
    },

    // Embedding-cosine near-duplicates: hashed-TF shingle embeddings
    // (256 buckets, first-4-md5-hex-digits hash — engine-independent),
    // sign-LSH candidates, exact-cosine verification at 0.8. Counts are
    // integers, so both engines' dot products and norms are EXACT and
    // the oracle's brute-force replay (bucket-join sparse dot) matches
    // bit-for-bit. The `embeddings` table can't host this entry: its
    // vectors are random near-orthogonal (max pairwise cosine 0.51), so
    // any sensible threshold returns zero rows.
    Qdef.duckOnly(
      "d07_embedding_near_dup",
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  unnest(list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
        |    i -> w[i] || '_' || coalesce(w[i+1], '') || '_' || coalesce(w[i+2], '')))) AS g
        |  FROM sp),
        |cnt AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(g), 1, 4)) AS INTEGER) % 256 AS bucket,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM sh GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(c*c)) AS nr FROM cnt GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.c*b.c) AS d
        |  FROM cnt a JOIN cnt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, round(cos, 6) AS cosine
        |FROM (SELECT id1, id2, d/(na.nr*nb.nr) AS cos
        |      FROM dots JOIN nrm na ON id1 = na.doc_id
        |                JOIN nrm nb ON id2 = nb.doc_id)
        |WHERE cos >= 0.8
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      EmbeddingDedup.nearDuplicates(t(s, dir, "documents"), "doc_id", "text", 0.8)
        .orderBy("id1", "id2")
    }
  )
}
