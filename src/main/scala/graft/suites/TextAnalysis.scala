package graft.suites

import graft.{Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis corpus over `documents` (north-star LLM-pipeline ops,
  * SURVEY §7 Phase 5): char/word statistics, quality scoring, token
  * classes, content fingerprinting, stopword profiling. All distributed
  * scans + aggregations; no UDFs — everything stays in codegen.
  */
object TextAnalysis {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // Char/word statistics; also validates the n_chars metadata column.
    Qdef(
      "x01_text_stats",
      """SELECT doc_id,
        |  length(text) AS n_char,
        |  CAST(length(text) = n_chars AS BOOLEAN) AS n_chars_ok,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_words,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / (length(text) - length(replace(text, ' ', '')) + 1), 6)
        |    AS avg_word_len
        |FROM documents
        |WHERE doc_id < 40
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val nWords = length(col("text")) - length(regexp_replace(col("text"), lit(" "), lit(""))) + 1
      t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(
          col("doc_id"),
          length(col("text")).as("n_char"),
          (length(col("text")) === col("n_chars")).as("n_chars_ok"),
          nWords.cast("bigint").as("n_words"),
          round(length(regexp_replace(col("text"), lit(" "), lit(""))).cast("double") /
            nWords, 6).as("avg_word_len"))
        .orderBy("doc_id")
    },

    // Quality score: stopword ratio + length band — the scoring heuristic
    // pretraining filters use, as a pure-codegen expression.
    Qdef.duckOnly(
      "x02_quality_score",
      """WITH w AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id, lang,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  round(CAST(len(list_filter(words, x -> x IN ('the', 'a', 'of', 'and')))
        |      AS DOUBLE) / len(words), 6) AS stopword_ratio,
        |  CAST(len(words) BETWEEN 20 AND 100 AS BOOLEAN) AS length_ok
        |FROM w
        |WHERE doc_id < 40
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 40)
        .withColumn("words", split(col("text"), " "))
        .select(
          col("doc_id"), col("lang"),
          size(col("words")).cast("bigint").as("n_words"),
          round(size(expr(
            "filter(words, x -> x IN ('the', 'a', 'of', 'and'))")).cast("double") /
            size(col("words")), 6).as("stopword_ratio"),
          size(col("words")).between(20, 100).as("length_ok"))
        .orderBy("doc_id")
    },

    // Token-class counts via regex stripping (vowels / spaces / rare
    // chars) — the regex engine differences are neutralized by counting.
    Qdef.duckOnly(
      "x03_token_classes",
      """SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
        |    AS BIGINT) AS n_vowels,
        |  CAST(length(text) - length(regexp_replace(text, '[bcdfg]', '', 'g'))
        |    AS BIGINT) AS n_bcdfg,
        |  CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS BIGINT)
        |    AS n_other
        |FROM documents
        |WHERE doc_id < 40
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(
          col("doc_id"),
          (length(col("text")) -
            length(regexp_replace(col("text"), lit("[aeiou]"), lit(""))))
            .cast("bigint").as("n_vowels"),
          (length(col("text")) -
            length(regexp_replace(col("text"), lit("[bcdfg]"), lit(""))))
            .cast("bigint").as("n_bcdfg"),
          length(regexp_replace(col("text"), lit("[a-z ]"), lit("")))
            .cast("bigint").as("n_other"))
        .orderBy("doc_id")
    },

    // Content fingerprint (md5 of normalized text) + per-source collision
    // stats — the cheap exact-dup detector every ingestion pipeline runs.
    Qdef(
      "x04_fingerprint",
      """SELECT source,
        |  count(*) AS n_docs,
        |  count(DISTINCT md5(lower(text))) AS n_unique,
        |  count(DISTINCT md5(lower(substr(text, 1, 20)))) AS n_prefix_unique
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(lower(col("text")))).as("n_unique"),
          countDistinct(md5(lower(substring(col("text"), 1, 20))))
            .as("n_prefix_unique"))
        .orderBy("source")
    },

    // Per-language marker-token occurrence profile (substring-count via
    // length arithmetic — dialect-neutral).
    Qdef(
      "x05_stopword_profile",
      """SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum((length(text) - length(replace(text, ' the ', ''))) / 5)
        |    AS BIGINT) AS the_occurrences,
        |  CAST(sum((length(text) - length(replace(text, 'data', ''))) / 4)
        |    AS BIGINT) AS data_occurrences
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), lit(" the "), lit("")))) / 5)
            .cast("bigint").as("the_occurrences"),
          sum((length(col("text")) -
            length(regexp_replace(col("text"), lit("data"), lit("")))) / 4)
            .cast("bigint").as("data_occurrences"))
        .orderBy("lang")
    },

    // Language-ID by character-trigram profile (the Cavnar-Trenkle 1994
    // n-gram heuristic, distilled to an exactly-replayable form): train
    // top-50 trigram profiles per language on the even doc_ids, classify
    // the odd ones by distinct-trigram overlap, argmax with a
    // deterministic (score DESC, lang ASC) tie-break. Output is the
    // confusion matrix. HONEST CAVEAT: the synthetic corpus draws every
    // language from one shared vocabulary, so there is no real language
    // signal and accuracy sits near chance — what the oracle certifies is
    // the CLASSIFIER (profile selection incl. count-ties, scoring,
    // argmax), replayed prediction-for-prediction by DuckDB. Every stage
    // is a shuffle on (lang, gram) / (doc, lang); the profile and
    // language tables are broadcast-sized.
    Qdef.duckOnly(
      "x06_language_id",
      """WITH grams AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, greatest(length(text) - 2, 0)),
        |      i -> substr(text, i, 3))) AS g
        |  FROM documents),
        |profile AS (
        |  SELECT lang, g FROM (
        |    SELECT lang, g, row_number() OVER (
        |      PARTITION BY lang ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM grams WHERE doc_id % 2 = 0 GROUP BY lang, g) p
        |  WHERE rn <= 50),
        |test AS (
        |  SELECT DISTINCT doc_id, lang AS actual, g
        |  FROM grams WHERE doc_id % 2 = 1),
        |langs AS (SELECT DISTINCT lang FROM profile),
        |scores AS (
        |  SELECT t.doc_id, t.actual, l.lang,
        |    count(p.g) AS score
        |  FROM (SELECT DISTINCT doc_id, actual FROM test) t
        |  CROSS JOIN langs l
        |  LEFT JOIN test tg ON tg.doc_id = t.doc_id
        |  LEFT JOIN profile p ON p.lang = l.lang AND p.g = tg.g
        |  GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT doc_id, actual, lang AS predicted FROM (
        |    SELECT doc_id, actual, lang, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
        |    FROM scores) r
        |  WHERE rn = 1)
        |SELECT actual, predicted, count(*) AS n
        |FROM pred GROUP BY actual, predicted
        |ORDER BY actual, predicted""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      // Guard the WHOLE expression: Spark's sequence(1, 0) is [1, 0]
      // (step -1 inferred when start > stop), so greatest(…, 0) alone
      // cannot produce an empty gram list for short texts the way
      // DuckDB's generate_series(1, 0) does.
      // Each parity half is exploded by its own branch (filter BELOW the
      // explode): the profile subtree reads only the even docs, the test
      // branch only the odd — vs the original shape where both branches
      // exploded the WHOLE corpus and filtered after. Deliberately NO
      // materialization barrier: an interleaved A/B (BASELINE.md round
      // 15, "x06 one-pass grams", variant a) measured the
      // eager-checkpoint variant SLOWER (3.6 vs 2.5 s) — the barrier
      // serializes the two halves' explodes, which the lazy composition
      // overlaps across cores inside one job; the langs branch's
      // re-derivation of the profile subtree is parallel slack, not
      // critical path.
      // r16: grams through the native graft_char_grams kernel (≡ the
      // guarded substring/transform expression it replaced —
      // TextKernelsSpec). The expression form re-scanned the string
      // from index 0 at every position (substring(text, i, 3) is
      // O(i) on UTF-8 bytes → O(len²) per document) under an
      // interpreted HOF lambda; the kernel walks code-point offsets
      // once. An input-spread repartition of the 2-split fixture scan
      // was ALSO tried and rejected by interleaved A/B (x06 3.0 s
      // spread vs 1.7 s unspread — OPTIMIZATION_r16.md).
      def gramsOf(parity: Int) = docs
        .filter(col("doc_id") % 2 === parity)
        .select(col("doc_id"), col("lang"),
          explode(call_function("graft_char_grams", col("text"))).as("g"))
      val profW = Window.partitionBy("plang")
        .orderBy(col("cnt").desc, col("g").asc)
      val profile = gramsOf(0)
        .groupBy(col("lang").as("plang"), col("g"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(profW))
        .filter(col("rn") <= 50)
        .select(col("plang"), col("g"))
      // Dedup BEFORE the profile join, exactly like the oracle: the
      // join-first-then-countDistinct alternative measured 1.7× SLOWER
      // interleaved (BASELINE.md round 15, "x06 one-pass grams", variant
      // b) — common grams match several languages'
      // profiles, so joining non-deduped grams fans the aggregate input
      // out by up to |langs| before any dedup can bite.
      // r16: the dedup moved INTO the row (graft_char_gram_set emits
      // per-doc DISTINCT grams — ≡ array_distinct of the gram array,
      // TextKernelsSpec), and since doc_id is unique per row, per-doc
      // distinct IS the oracle's global DISTINCT (doc_id, lang, g) —
      // the .distinct() exchange + final dedup stage are gone outright
      // (guide §2.4: a distinct on data that is already unique).
      val test = docs
        .filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang").as("actual"),
          explode(call_function("graft_char_gram_set", col("text"))).as("g"))
      val langs = profile.select(col("plang").as("cand")).distinct()
      val overlap = test.join(broadcast(profile),
          test("g") === profile("g"), "inner")
        .groupBy(col("doc_id"), col("actual"), col("plang").as("cand"))
        .agg(count(lit(1)).as("score"))
      // The scored-document base is (doc_id, lang) of the odd half —
      // available straight from the documents scan. Deriving it as
      // test.select(...).distinct() (the oracle's spelling) would
      // re-execute the whole gram explosion + distinct a second time;
      // the only divergence to preserve is that a doc too short for any
      // gram is absent from the oracle's test CTE, hence the length
      // filter.
      val scores = docs
        .filter(col("doc_id") % 2 === 1 && length(col("text")) >= 3)
        .select(col("doc_id"), col("lang").as("actual"))
        .crossJoin(broadcast(langs))
        .join(overlap, Seq("doc_id", "actual", "cand"), "left")
        .select(col("doc_id"), col("actual"), col("cand"),
          coalesce(col("score"), lit(0L)).as("score"))
      val predW = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cand").asc)
      scores
        .withColumn("rn", row_number().over(predW))
        .filter(col("rn") === 1)
        .groupBy(col("actual"), col("cand").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy("actual", "predicted")
    },

    // BPE-ish token counting: the GPT-2-style pretokenizer contour —
    // leading-space-merged letter runs / digit runs / punctuation runs —
    // as a codegen'd regexp_extract_all. Counting (not the token texts)
    // neutralizes engine corner cases, same policy as x03.
    Qdef.duckOnly(
      "x07_bpe_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
        |    AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, ' ?[a-z]+')) AS BIGINT)
        |    AS n_word_tokens,
        |  CAST(len(regexp_extract_all(text, ' ?[0-9]+')) AS BIGINT)
        |    AS n_digit_tokens,
        |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g'))
        |    + 1 AS BIGINT) AS n_whitespace_tokens
        |FROM documents
        |WHERE doc_id < 40
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(
          col("doc_id"),
          size(expr("regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)"))
            .cast("bigint").as("n_tokens"),
          size(expr("regexp_extract_all(text, ' ?[a-z]+', 0)"))
            .cast("bigint").as("n_word_tokens"),
          size(expr("regexp_extract_all(text, ' ?[0-9]+', 0)"))
            .cast("bigint").as("n_digit_tokens"),
          (length(col("text")) -
            length(regexp_replace(col("text"), lit(" "), lit(""))) + 1)
            .cast("bigint").as("n_whitespace_tokens"))
        .orderBy("doc_id")
    },

    // Rolling-hash fingerprinting (winnowing, Schleimer et al. 2003):
    // 5-gram polynomial hashes (base 31 over the byte codes — the sum
    // maxes at ~2.4e8, so BIGINT arithmetic is exact and both engines
    // agree bit-for-bit), then the distinct window-of-4 minima form the
    // document's fingerprint set. The same sketch MOSS uses for
    // plagiarism/near-dup detection; here the per-doc summary stats are
    // the exactly-replayable certificate.
    Qdef.duckOnly(
      "x08_rolling_fingerprint",
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(length(text) - 4, 0)),
        |      i -> ascii(substr(text, i, 1)) * 923521
        |         + ascii(substr(text, i+1, 1)) * 29791
        |         + ascii(substr(text, i+2, 1)) * 961
        |         + ascii(substr(text, i+3, 1)) * 31
        |         + ascii(substr(text, i+4, 1))) AS hashes
        |  FROM documents WHERE doc_id < 40),
        |fp AS (
        |  SELECT doc_id, hashes,
        |    list_distinct(list_transform(generate_series(1, greatest(len(hashes) - 3, 0)),
        |      i -> list_min(hashes[i:i+3]))) AS fps
        |  FROM h)
        |SELECT doc_id,
        |  CAST(len(hashes) AS BIGINT) AS n_kgrams,
        |  CAST(len(fps) AS BIGINT) AS n_fps,
        |  CAST(list_min(fps) AS BIGINT) AS fp_min,
        |  CAST(list_max(fps) AS BIGINT) AS fp_max,
        |  CAST(list_sum(fps) AS BIGINT) AS fp_sum
        |FROM fp
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 40)
        // whole-expression guards — Spark sequence(1, 0) is [1, 0], see x06
        .withColumn("hashes", expr(
          """case when length(text) < 5 then cast(array() as array<bigint>)
            |else transform(sequence(1, length(text) - 4),
            |  i -> cast(ascii(substring(text, i, 1)) * 923521
            |     + ascii(substring(text, i+1, 1)) * 29791
            |     + ascii(substring(text, i+2, 1)) * 961
            |     + ascii(substring(text, i+3, 1)) * 31
            |     + ascii(substring(text, i+4, 1)) as bigint))
            |end""".stripMargin))
        .withColumn("fps", expr(
          """case when size(hashes) < 4 then cast(array() as array<bigint>)
            |else array_distinct(transform(sequence(1, size(hashes) - 3),
            |  i -> array_min(slice(hashes, i, 4))))
            |end""".stripMargin))
        .select(
          col("doc_id"),
          size(col("hashes")).cast("bigint").as("n_kgrams"),
          size(col("fps")).cast("bigint").as("n_fps"),
          array_min(col("fps")).cast("bigint").as("fp_min"),
          array_max(col("fps")).cast("bigint").as("fp_max"),
          expr("aggregate(fps, 0L, (a, x) -> a + x)").cast("bigint").as("fp_sum"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination — the training-pipeline step that removes
    // training documents sharing any word n-gram with a held-out eval set
    // (the GPT-3/PaLM "13-gram overlap" protocol, shortened to 5-grams for
    // the synthetic docs; doc_id % 20 == 0 stands in for the benchmark).
    // Scale shape: eval sets are SMALL regardless of corpus size, so the
    // distinct eval-gram set builds cheaply and BROADCASTS; the training
    // side explodes to grams map-side, hash-joins the broadcast set, and
    // contracts to distinct contaminated doc_ids before the anti join —
    // at 100 TB nothing shuffles except gram hits and doc ids, and the
    // corpus itself is touched by exactly one scan per side.
    // TextDecontaminationSpec value-asserts against an independent
    // driver-side recomputation (duckOnly entries are only
    // frame-executed by CorpusSpec).
    Qdef.duckOnly(
      "x09_decontamination",
      """WITH gr AS (
        |  SELECT doc_id, source,
        |    list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
        |      i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')) AS grams
        |  FROM documents),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM gr WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM gr
        |        WHERE doc_id % 20 <> 0) t
        |  WHERE gram IN (SELECT gram FROM eval_grams))
        |SELECT source,
        |  count(*) AS n_train,
        |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM hits))
        |    AS BIGINT) AS n_removed,
        |  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM hits))
        |    AS BIGINT) AS n_clean
        |FROM documents
        |WHERE doc_id % 20 <> 0
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // r16: grams through the native graft_word_grams kernel (≡ the
      // guarded split/slice/concat_ws expression it replaced —
      // TextKernelsSpec; each gram is a zero-copy byte-range view of
      // the text, where the expression form re-assembled every 5-word
      // window through an interpreted HOF lambda).
      def withGrams(df: DataFrame): DataFrame = df
        .withColumn("grams",
          call_function("graft_word_grams", col("text"), lit(5)))
      val evalGrams = withGrams(docs.filter(col("doc_id") % 20 === 0))
        .select(explode(col("grams")).as("gram")).distinct()
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      val hits = withGrams(train)
        .select(col("doc_id").as("hit_id"), explode(col("grams")).as("gram"))
        .join(broadcast(evalGrams), "gram")
        .select("hit_id").distinct()
      train
        .join(hits, col("doc_id") === col("hit_id"), "left_outer")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_train"),
          count(col("hit_id")).as("n_removed"),
          sum(when(col("hit_id").isNull, 1).otherwise(0))
            .cast("bigint").as("n_clean"))
        .orderBy("source")
    },

    // PII detection + redaction — the scrubbing pass every training-data
    // pipeline runs before release. The corpus text is synthetic word
    // soup, so each doc gets a deterministic email/IP/phone APPENDED in
    // the query (both engines build the identical string), then the
    // redactor counts and masks with the same RE2-compatible patterns.
    // Order matters and is pinned: email first (its charset overlaps
    // IP/phone digits), then IP, then phone. Map-side only — at 100 TB
    // this is a pure projection, no shuffle.
    Qdef.duckOnly(
      "x10_pii_redaction",
      """WITH enriched AS (
        |  SELECT doc_id, source,
        |    text || ' mail u' || doc_id || '@ex' || (doc_id % 7) ||
        |    '.org ip 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
        |    '.4 tel 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(pii,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(pii,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM enriched
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      t(s, dir, "documents")
        .withColumn("pii", concat(
          col("text"), lit(" mail u"), col("doc_id"),
          lit("@ex"), col("doc_id") % 7,
          lit(".org ip 10."), col("doc_id") % 256,
          lit("."), (col("doc_id") * 7) % 256,
          lit(".4 tel 555-867-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("pii"), lit(emailRe), lit(0)))
            .cast("bigint").as("n_email"),
          size(regexp_extract_all(col("pii"), lit(ipRe), lit(0)))
            .cast("bigint").as("n_ip"),
          size(regexp_extract_all(col("pii"), lit(phoneRe), lit(0)))
            .cast("bigint").as("n_phone"),
          regexp_replace(regexp_replace(regexp_replace(col("pii"),
            emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>")
            .as("redacted"))
        .orderBy("doc_id")
    },

    // Gopher/MassiveText repetition filters (Rae et al. 2021 §A1.1): the
    // fraction of characters in the most frequent word 2-gram, and the
    // duplicate-"line" fraction over 5-word chunks. The top gram is made
    // DETERMINISTIC by the (count desc, length desc, gram) tiebreak both
    // engines apply; fractions divide exact integers, so the doubles are
    // bit-identical. Scale shape: gram explosion is map-side; the per-doc
    // aggregation shuffles once on doc_id; nothing is ever all-pairs.
    Qdef.duckOnly(
      "x11_repetition_filter",
      """WITH base AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS nw
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, nw - 1),
        |            i -> ws[i] || ' ' || ws[i + 1])) AS g
        |        FROM base) t
        |  GROUP BY doc_id, g),
        |top AS (
        |  SELECT doc_id, c, length(g) AS glen
        |  FROM (SELECT doc_id, g, c,
        |          row_number() OVER (PARTITION BY doc_id
        |            ORDER BY c DESC, length(g) DESC, g) AS rn
        |        FROM grams) WHERE rn = 1),
        |chunks AS (
        |  SELECT doc_id, count(*) AS n_lines, count(DISTINCT l) AS n_dist
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, CAST(nw / 5 AS INT)),
        |            j -> array_to_string(ws[(j - 1) * 5 + 1 : j * 5], ' '))) AS l
        |        FROM base) t
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(COALESCE(t.c * t.glen, 0) AS DOUBLE) / b.n_chars AS top2_frac,
        |  CAST(COALESCE(c2.n_lines - c2.n_dist, 0) AS DOUBLE)
        |    / COALESCE(c2.n_lines, 1) AS dup5_frac,
        |  COALESCE(t.c * t.glen, 0) * 5 <= b.n_chars
        |    AND COALESCE(c2.n_lines - c2.n_dist, 0) * 10
        |      <= COALESCE(c2.n_lines, 1) * 3 AS keep
        |FROM base b
        |LEFT JOIN top t ON b.doc_id = t.doc_id
        |LEFT JOIN chunks c2 ON b.doc_id = c2.doc_id
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("nw", size(col("ws")))
      val grams = base
        .select(col("doc_id"), explode(expr(
          """case when nw < 2 then cast(array() as array<string>)
            |else transform(sequence(1, nw - 1),
            |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
            |end""".stripMargin)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("c").desc, length(col("g")).desc, col("g"))
      val top = grams.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id").as("t_id"), col("c"), length(col("g")).as("glen"))
      val chunks = base
        .select(col("doc_id"), explode(expr(
          """case when nw < 5 then cast(array() as array<string>)
            |else transform(sequence(1, CAST(nw / 5 AS INT)),
            |  j -> concat_ws(' ', slice(ws, (j - 1) * 5 + 1, 5)))
            |end""".stripMargin)).as("l"))
        .groupBy(col("doc_id").as("c_id"))
        .agg(count(lit(1)).as("n_lines"), countDistinct(col("l")).as("n_dist"))
      base.select("doc_id", "n_chars")
        .join(top, col("doc_id") === col("t_id"), "left_outer")
        .join(chunks, col("doc_id") === col("c_id"), "left_outer")
        .select(
          col("doc_id"),
          (coalesce(col("c") * col("glen"), lit(0L)).cast("double") /
            col("n_chars")).as("top2_frac"),
          (coalesce(col("n_lines") - col("n_dist"), lit(0L)).cast("double") /
            coalesce(col("n_lines"), lit(1L))).as("dup5_frac"),
          (coalesce(col("c") * col("glen"), lit(0L)) * 5 <= col("n_chars") &&
            coalesce(col("n_lines") - col("n_dist"), lit(0L)) * 10 <=
              coalesce(col("n_lines"), lit(1L)) * 3).as("keep"))
        .orderBy("doc_id")
    },

    // Bigram language-model scoring — the CCNet/KenLM-style perplexity
    // proxy every quality filter runs: train bigram MLE counts on the
    // corpus itself, score each document by its mean bigram
    // log-likelihood ln(c(w1,w2)/c(w1)). The UNIGRAM table is
    // vocabulary-sized and broadcast; the BIGRAM table grows toward
    // min(grams, V²) with corpus content, so that join is left to the
    // optimizer (broadcast at small SF, shuffle-hash at scale — forcing
    // a broadcast would OOM the driver at 100 TB). Scores round to 6 places
    // like k02's entropy (per-doc sums of ~30 logs are ULP-order-
    // sensitive; the rounding is the documented float-stability rule).
    Qdef.duckOnly(
      "x12_bigram_lm_score",
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS nw
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, g.w1, g.w2
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, nw - 1),
        |            i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS g
        |        FROM base) t),
        |lm AS (
        |  SELECT w1, w2, count(*) AS c12 FROM grams GROUP BY w1, w2),
        |uni AS (
        |  SELECT w1, sum(c12) AS c1 FROM lm GROUP BY w1)
        |SELECT g.doc_id,
        |  count(*) AS n_grams,
        |  round(avg(ln(CAST(lm.c12 AS DOUBLE) / uni.c1)), 6) AS mean_ll
        |FROM grams g
        |JOIN lm ON g.w1 = lm.w1 AND g.w2 = lm.w2
        |JOIN uni ON g.w1 = uni.w1
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
      val grams = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("nw", size(col("ws")))
        .select(col("doc_id"), explode(expr(
          """case when nw < 2 then cast(array() as array<struct<w1: string, w2: string>>)
            |else transform(sequence(1, nw - 1),
            |  i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))
            |end""".stripMargin)).as("g"))
        .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      val lm = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val uni = lm.groupBy(col("w1").as("u1")).agg(sum("c12").as("c1"))
      grams
        .join(lm, Seq("w1", "w2"))
        .join(broadcast(uni), col("w1") === col("u1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          round(avg(log(col("c12").cast("double") / col("c1"))), 6)
            .as("mean_ll"))
        .orderBy("doc_id")
    }
  )
}
