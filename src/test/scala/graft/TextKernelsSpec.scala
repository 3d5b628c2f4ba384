package graft

import graft.ops.MinHashLSH
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r16 fused text kernels (functions/TextKernels) each replace a
  * declarative expression in a dedup/text hot loop; the optimization
  * contract is VALUE EQUALITY, element for element (order included),
  * against the exact expression replaced — over the fixture corpus plus
  * adversarial shapes (empty text, lone/leading/trailing/consecutive
  * spaces, sub-3-char texts, multi-byte UTF-8). Any divergence would
  * change MinHash signatures, band keys, LSH buckets or gram streams —
  * i.e. silently alter d02/d05/d07/x06 results the DuckDB oracle pins.
  */
class TextKernelsSpec extends QueryAssertions {

  private def corpus: DataFrame = {
    val adversarial = Seq(
      "", " ", "  ", "   ", "a", "ab", "abc", "ab cd", "a b c",
      "a b c d e", " leading", "trailing ", " both ", "a  b   c",
      "héllo wörld déjà vu encore", "緑の 木々 が 風に 揺れる",
      "mixed ascii と 日本語 tokens here", "tab\tis not a space",
      "x" * 500, ("word " * 80).trim)
      .zipWithIndex.map { case (t, i) => (i.toLong + 1000000L, t) }
    val adv = spark.createDataFrame(adversarial).toDF("doc_id", "text")
    Tables.load(spark, sfDir, "documents").select("doc_id", "text")
      .unionAll(adv)
  }

  private def assertColsEqual(
      df: DataFrame, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, hint: String): Unit = {
    val bad = df.select(col("doc_id"), a.as("__a"), b.as("__b"))
      .filter(not(col("__a") <=> col("__b")))
    val rows = bad.take(3)
    assert(rows.isEmpty,
      s"[$hint] kernel diverged from the expression form on " +
        rows.map(_.toString).mkString("; "))
  }

  test("graft_word_shingles equals MinHashLSH.shingles, order included") {
    assertColsEqual(corpus,
      call_function("graft_word_shingles", col("text")),
      MinHashLSH.shingles(col("text")),
      "word_shingles")
  }

  test("graft_xxhash64_arr equals transform(xxhash64), incl. empty tokens") {
    assertColsEqual(
      corpus.select(col("doc_id"),
        MinHashLSH.shingles(col("text")).as("__sh")),
      call_function("graft_xxhash64_arr", col("__sh")),
      expr("transform(__sh, s -> xxhash64(s))"),
      "xxhash64_arr")
  }

  test("graft_minhash_sig equals the transform/array_min signature") {
    val prepared = corpus.select(col("doc_id"),
      expr("transform(graft_word_shingles(text), s -> xxhash64(s))").as("__hs"))
    for (numHashes <- Seq(8, 64)) {
      assertColsEqual(prepared,
        call_function("graft_minhash_sig", col("__hs"), lit(numHashes)),
        MinHashLSH.signature(col("__hs"), numHashes),
        s"minhash_sig($numHashes)")
    }
  }

  test("graft_minhash_sig takes a nullable array<bigint>, failing a NULL element") {
    // CAST(... AS ARRAY<BIGINT>) types the literal containsNull = true
    val hs = spark.sql(
      "SELECT 1L AS doc_id, CAST(array(11, -22, 33) AS ARRAY<BIGINT>) AS __hs")
    assertColsEqual(hs, call_function("graft_minhash_sig", col("__hs"), lit(8)),
      MinHashLSH.signature(col("__hs"), 8), "minhash_sig(nullable literal)")
    // analysis accepts the array; the row with a NULL fails when it runs
    val e = intercept[Exception](spark.sql(
      "SELECT graft_minhash_sig(array(11L, CAST(NULL AS BIGINT), 33L), 8)").collect())
    assert(e.getMessage.contains("graft_minhash_sig: NULL hash at index 2"),
      e.getMessage)
  }

  test("graft_lsh_bands equals the banded xxhash64 transform") {
    val numHashes = 64
    val rowsPerBand = 2
    val numBands = numHashes / rowsPerBand
    val sigs = corpus.select(col("doc_id"),
      call_function("graft_minhash_sig",
        expr("transform(graft_word_shingles(text), s -> xxhash64(s))"),
        lit(numHashes)).as("__sig"))
    assertColsEqual(sigs,
      call_function("graft_lsh_bands", col("__sig"), lit(rowsPerBand)),
      expr(
        s"""transform(sequence(0, ${numBands - 1}),
           |  j -> named_struct(
           |    'band_idx', j,
           |    'band_val', xxhash64(${(0 until rowsPerBand).map(r =>
                  s"try_element_at(__sig, $rowsPerBand * j + ${r + 1})").mkString(", ")}, j)))
           |""".stripMargin),
      "lsh_bands")
  }

  test("graft_shingle_hist_text equals graft_shingle_hist over shingles") {
    assertColsEqual(corpus,
      call_function("graft_shingle_hist_text", col("text"), lit(256)),
      call_function("graft_shingle_hist",
        MinHashLSH.shingles(col("text")), lit(256)),
      "shingle_hist_text")
  }

  test("graft_char_gram_set equals array_distinct of the gram expression") {
    assertColsEqual(corpus,
      call_function("graft_char_gram_set", col("text")),
      array_distinct(expr(
        """case when length(text) < 3 then cast(array() as array<string>)
          |else transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))
          |end""".stripMargin)),
      "char_gram_set")
  }

  test("graft_word_grams equals x09's guarded slice/concat_ws transform") {
    val withWords = corpus.withColumn("words", split(col("text"), " "))
    for (n <- Seq(2, 5)) {
      assertColsEqual(withWords,
        call_function("graft_word_grams", col("text"), lit(n)),
        expr(
          s"""case when size(words) < $n then cast(array() as array<string>)
             |else transform(sequence(1, size(words) - ${n - 1}),
             |  i -> concat_ws(' ', slice(words, i, $n)))
             |end""".stripMargin),
        s"word_grams($n)")
    }
  }

  test("graft_char_grams equals x06's guarded substring transform") {
    assertColsEqual(corpus,
      call_function("graft_char_grams", col("text")),
      expr(
        """case when length(text) < 3 then cast(array() as array<string>)
          |else transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))
          |end""".stripMargin),
      "char_grams")
  }
}
