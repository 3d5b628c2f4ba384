package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded-LSH near-duplicate detection, built scale-first:
  * signatures are computed once per row and PERSISTED before fan-out
  * (without the boundary, Catalyst's CollapseProject inlines the
  * signature expression into every band — a 64× recompute), candidate
  * generation shuffles on the band key only, and exact-Jaccard
  * verification touches candidate pairs only — never all pairs. At
  * 100 TB this is the standard shingle→minhash→band→bucket-join
  * pipeline (persist becomes a checkpoint to reliable storage);
  * nothing here is O(n²).
  *
  * The sensql reference has no near-dup operator (its closest relative is
  * cosine_similarity over sparse maps, reference: presto-main/.../
  * operator/scalar/MathFunctions.java cosineSimilarity); this is one of
  * the north-star LLM-pipeline extensions (SURVEY §7 Phase 5).
  */
object MinHashLSH {

  /** Signature length. rows=2 → 32 bands; the miss probability for a
    * true Jaccard-0.8 pair is (1-0.8²)^32 ≈ 7e-15 — deterministic in
    * practice, and fixed seeds make reruns identical. 64 hashes (not
    * 128) because the extra 32 bands buy nothing below the 1e-14 miss
    * floor while doubling signature compute and band-shuffle bytes —
    * the cost that scales with corpus size. */
  private val NumHashes = 64

  /** Signature rows per LSH band. */
  private val RowsPerBand = 2

  /** Distinct word n-gram shingles of a text column. Out-of-range
    * positions pad with '' so 1-2-word documents still shingle.
    *
    * The word array is bound ONCE through a single-element `transform`
    * lambda (SQL's poor-man's let-binding) — referencing `split(...)`
    * textually at each position would re-tokenize the whole document per
    * shingle, an O(words²) blow-up that dominated the pipeline (measured
    * 4.3 s of the 4.5 s prepare stage at sf0.1). */
  def shingles(text: Column, n: Int = 3): Column = {
    require(n == 3, "word-trigram shingles only (matches the oracle)")
    // Column-API lambdas, not spliced SQL text: an arbitrary caller
    // Column (quotes, keywords, derived expressions) composes safely.
    element_at(
      transform(array(split(text, " ")), ws =>
        array_distinct(transform(
          sequence(lit(1), greatest(size(ws) - 2, lit(1))),
          i => concat(
            try_element_at(ws, i), lit("_"),
            coalesce(try_element_at(ws, i + 1), lit("")), lit("_"),
            coalesce(try_element_at(ws, i + 2), lit("")))))),
      1)
  }

  /** MinHash signature from PRE-HASHED shingles: sig[i] = min over
    * shingles of xxhash64(baseHash, i). Hashing the 8-byte base hash per
    * index instead of the shingle string cuts the inner-loop bytes ~3×;
    * minima over the hash multiset equal minima over the distinct set, so
    * correctness is unchanged. Computed in codegen, no shuffle.
    *
    * This is the declarative REFERENCE form (specs replay it); the
    * pipeline itself runs the bit-identical native kernel
    * [[graft.functions.MinHashSig]] (r16: the nested transform/array_min
    * lambdas are HigherOrderFunctions, which Catalyst evaluates
    * INTERPRETED — per-element lambda dispatch + boxing in the hottest
    * loop; TextKernelsSpec pins kernel ≡ this expression). */
  def signature(hashCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hashCol, h => xxhash64(h, i))))

  /** (__id, __sh, __sig) computed in ONE whole-stage-codegen projection,
    * ZERO shuffles: shingles, base hashes and the signature all come
    * from the native kernels (graft_word_shingles / graft_xxhash64_arr /
    * graft_minhash_sig — bit-identical to the declarative forms,
    * TextKernelsSpec). The kernels evaluate their children exactly once
    * per row, so the CollapseProject re-inlining hazard the old shape
    * guarded against with an arrays-then-repartition barrier (a
    * measured 64× recompute of the signature input) cannot arise:
    * codegen subexpression elimination shares the single __sh subtree
    * between the output column and the signature chain. That removes
    * the unconditional repartition the old shape paid — a full shuffle
    * of the shingle+hash arrays at EVERY corpus size (the 40× stress
    * leg shuffled those arrays once per run for barrier reasons alone).
    * An input-spread variant (round-robin repartition of the raw text
    * when the scan has fewer splits than cores) was A/B'd interleaved
    * and REJECTED: with the kernels the per-row work no longer repays
    * the shuffle + sort-before-repartition even on the 2-split fixture
    * scan (d07 2.8–3.3 s spread vs 1.6–2.1 s unspread; x06 3.0 vs 1.7 —
    * OPTIMIZATION_r16.md). persist() still pins the result for the
    * multiple downstream consumers. */
  def prepare(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).as("__id"),
        call_function("graft_word_shingles", col(textCol)).as("__sh"))
      .withColumn("__sig",
        call_function("graft_minhash_sig",
          call_function("graft_xxhash64_arr", col("__sh")), lit(NumHashes)))
      .select("__id", "__sh", "__sig")
      .persist()
  }

  /** Candidate near-dup pairs from a prepare()d frame: docs sharing at
    * least one LSH band. The band count derives from the ACTUAL signature
    * length (graft_lsh_bands reads size(__sig)), so it cannot drift out
    * of sync with prepare()'s [[NumHashes]]. */
  def candidatePairs(prepared: DataFrame): DataFrame = {
    // band keys through the native kernel (bit-identical to the
    // transform/named_struct/xxhash64 expression it replaced —
    // TextKernelsSpec pins it; the expression form evaluated the
    // per-band lambda interpreted with try_element_at boxing)
    val bands = prepared.select(
      col("__id"),
      explode(call_function("graft_lsh_bands",
        col("__sig"), lit(RowsPerBand))).as("b"))
      .select(col("__id"), col("b.band_idx"), col("b.band_val"))
    // One shuffle on the band key, then pairs expand WITHIN each bucket —
    // vs a band self-join this drops a whole shuffle side, and the
    // quadratic expansion is bounded by bucket size (hash buckets hold a
    // handful of near-identical docs; a genuinely hot bucket surfaces in
    // the size(ids) filter and is AQE-splittable upstream).
    bands.groupBy("band_idx", "band_val")
      .agg(sort_array(collect_set(col("__id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(sequence(i + 1, size(ids)),
          |    j -> named_struct('id1', try_element_at(ids, i),
          |                      'id2', try_element_at(ids, j)))))
          |""".stripMargin)).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
  }

  /** Verified near-duplicates: LSH candidates whose EXACT shingle Jaccard
    * meets the threshold. The exact check runs only on candidates and
    * reuses the persisted shingle sets. */
  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val prepared = prepare(df, idCol, textCol)
    try {
      val cands = candidatePairs(prepared)
      val left = prepared.select(col("__id").as("id1"), col("__sh").as("sh1"))
      val right = prepared.select(col("__id").as("id2"), col("__sh").as("sh2"))
      val pairs = cands.join(left, "id1").join(right, "id2")
        .withColumn("jaccard",
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))))
        .filter(col("jaccard") >= threshold)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      // Materialize the (small) verified-pair set now so the big persisted
      // signature frame can be released before returning — a persist with
      // no matching release leaks a cached copy per invocation. At 100 TB
      // this eager step is a checkpoint to reliable storage with the same
      // explicit lifecycle.
      pairs.localCheckpoint(eager = true)
    } finally prepared.unpersist(blocking = false)
  }
}
