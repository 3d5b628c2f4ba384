package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

/** Scalar functions from the reference's catalog that Spark lacks,
  * registered as Scala UDFs (none are hot-path per-row operators in the
  * corpus; the codegen-native route is reserved for the ones that are —
  * see DotProductFloat / PrestoFunctions).
  *
  *   hmac_md5 / hmac_sha1 / hmac_sha256 / hmac_sha512
  *     (reference: presto-main/.../operator/scalar/HmacFunctions.java)
  *   ngrams(array, n)          (reference: scalar/ArrayNgramsFunction.java)
  *   combinations(array, n)    (reference: scalar/ArrayCombinationsFunction.java)
  *   array_normalize(array, p) (reference: scalar/ArrayNormalizeFunction.java)
  *   cosine_similarity(map, map) — SPARSE form
  *     (reference: scalar/MathFunctions.java cosineSimilarity; the dense
  *      float-array form is the native graft_dot expression)
  *   multimap_from_entries     (reference: scalar/MultimapFromEntriesFunction.java)
  */
object ScalarPack {

  private def hmac(algo: String, data: Array[Byte], key: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance(algo)
    mac.init(new javax.crypto.spec.SecretKeySpec(key, algo))
    mac.doFinal(data)
  }

  /** n-element sliding windows; empty past the end (Presto returns the
    * whole array as the only ngram when n > length). */
  def ngrams[A](xs: Seq[A], n: Int): Seq[Seq[A]] =
    if (xs == null) null
    else if (n >= xs.length) Seq(xs)
    else xs.sliding(math.max(n, 1)).toSeq

  /** n-combinations in lexicographic index order, matching the reference's
    * iteration; n capped at 5 like ArrayCombinationsFunction. */
  def combinations[A](xs: Seq[A], n: Int): Seq[Seq[A]] =
    if (xs == null) null
    else if (n < 0 || n > 5) throw new IllegalArgumentException(
      s"combinations n must be in [0, 5], got $n")
    // POSITIONAL n-choose-k (reference: ArrayCombinationsFunction.java):
    // duplicate VALUES produce duplicate combinations — Scala's
    // Seq.combinations dedups multisets, so combine indices instead
    else xs.indices.combinations(n).map(_.map(xs)).toSeq

  // boxed elements: a NULL element makes the whole result NULL
  // (reference ArrayNormalizeFunction.java returns null on the first
  // null entry) — an unboxed Seq[Double] signature would instead fail
  // the encoder's non-null assert before the function ever ran
  def arrayNormalize(
      xs: Seq[java.lang.Double], p: Double): Seq[java.lang.Double] =
    if (xs == null || xs.contains(null)) null
    else if (p < 0) throw new IllegalArgumentException("p must be >= 0")
    else if (p == 0) xs
    else {
      val norm =
        math.pow(xs.map(x => math.pow(math.abs(x.doubleValue), p)).sum, 1 / p)
      if (norm == 0) xs
      else xs.map(x => java.lang.Double.valueOf(x.doubleValue / norm))
    }

  /** Sparse cosine over map term-vectors: only shared keys contribute to
    * the dot product; norms run over each map's own values. */
  def cosineSimilarity(a: Map[String, Double], b: Map[String, Double]): Double =
    if (a == null || b == null) Double.NaN
    else {
      val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
      var dot = 0.0
      small.foreach { case (k, v) =>
        large.get(k) match { case Some(w) => dot += v * w; case None => }
      }
      val na = math.sqrt(a.values.map(v => v * v).sum)
      val nb = math.sqrt(b.values.map(v => v * v).sum)
      if (na == 0 || nb == 0) Double.NaN else dot / (na * nb)
    }

  /** Presto parse_duration('5.5m') → interval (reference: operator/
    * scalar/ParseDurationFunction.java — airlift Duration's
    * number+unit grammar: ns, us, ms, s, m, h, d). */
  def parseDuration(s: String): java.time.Duration = {
    if (s == null) return null
    val m = "^\\s*(\\d+(?:\\.\\d+)?)\\s*(ns|us|ms|s|m|h|d)\\s*$".r
      .findFirstMatchIn(s)
      .getOrElse(throw new IllegalArgumentException(s"duration is not valid: $s"))
    val v = m.group(1).toDouble
    val nanosPerUnit = m.group(2) match {
      case "ns" => 1L
      case "us" => 1000L
      case "ms" => 1000L * 1000
      case "s"  => 1000L * 1000 * 1000
      case "m"  => 60L * 1000 * 1000 * 1000
      case "h"  => 3600L * 1000 * 1000 * 1000
      case "d"  => 24L * 3600 * 1000 * 1000 * 1000
    }
    // the reference converts through airlift Duration.toMillis — the
    // interval carries MILLISECOND precision ('42.8ms' rounds to 43 ms)
    java.time.Duration.ofMillis(math.round(v * nanosPerUnit / 1e6))
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("parse_duration", udf(parseDuration _)),
    FunctionEntry.udf("hmac_md5",
      udf((d: Array[Byte], k: Array[Byte]) => hmac("HmacMD5", d, k))),
    FunctionEntry.udf("hmac_sha1",
      udf((d: Array[Byte], k: Array[Byte]) => hmac("HmacSHA1", d, k))),
    FunctionEntry.udf("hmac_sha256",
      udf((d: Array[Byte], k: Array[Byte]) => hmac("HmacSHA256", d, k))),
    FunctionEntry.udf("hmac_sha512",
      udf((d: Array[Byte], k: Array[Byte]) => hmac("HmacSHA512", d, k))),
    FunctionEntry.udf("ngrams",
      udf((xs: Seq[String], n: Int) => ngrams(xs, n))),
    FunctionEntry.udf("combinations",
      udf((xs: Seq[String], n: Int) => combinations(xs, n))),
    FunctionEntry.udf("array_normalize",
      udf((xs: Seq[java.lang.Double], p: Double) => arrayNormalize(xs, p))),
    FunctionEntry.udf("cosine_similarity",
      udf((a: Map[String, Double], b: Map[String, Double]) => cosineSimilarity(a, b))),
    // map_normalize (reference: scalar/MapNormalizeFunction.java): values
    // scaled so they sum to 1; null values ignored in the sum like the
    // reference.
    FunctionEntry.udf("map_normalize",
      udf((m: Map[String, Double]) =>
        if (m == null) null
        else {
          val total = m.values.sum
          if (total == 0) m else m.map { case (k, v) => k -> v / total }
        })),
    // to_iso8601 (reference: DateTimeFunctions.java:244-286). Renders the
    // wall clock in the SESSION zone — Timestamp.toLocalDateTime would use
    // the JVM default zone, shifting values on a non-UTC host. Zone read
    // per call (Engine.currentZone) so SET session.timeZone takes effect.
    FunctionEntry.udf("to_iso8601",
      udf((ts: java.sql.Timestamp) =>
        if (ts == null) null
        else ts.toInstant.atZone(graft.Engine.currentZone).toLocalDateTime
          .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME))),
    // url_encode/url_decode (reference: UrlFunctions.java:151-169 — form
    // escaping: space→+, "-_.*" safe; URLDecoder semantics on decode)
    FunctionEntry.udf("url_encode",
      udf((s: String) =>
        if (s == null) null
        else java.net.URLEncoder.encode(s, "UTF-8"))),
    FunctionEntry.udf("url_decode",
      udf((s: String) =>
        if (s == null) null
        else java.net.URLDecoder.decode(s, "UTF-8"))),
    FunctionEntry.udf("multimap_from_entries",
      udf((entries: Seq[(String, String)]) =>
        if (entries == null) null
        else entries.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) })),
    // hamming_distance (reference: scalar/StringFunctions.java
    // hammingDistance — codepoint-wise, throws on unequal lengths)
    FunctionEntry.udf("hamming_distance",
      udf((a: String, b: String) =>
        if (a == null || b == null) null
        else {
          val ca = a.codePoints.toArray
          val cb = b.codePoints.toArray
          require(ca.length == cb.length,
            "The input strings to hamming_distance function must have the same length")
          java.lang.Long.valueOf(
            ca.iterator.zip(cb.iterator).count { case (x, y) => x != y }.toLong)
        })),
    // normalize(s, form) (reference: scalar/StringFunctions.java normalize
    // — java.text.Normalizer, same forms NFC/NFD/NFKC/NFKD). The 1-arg
    // NFC default is dispatched in plans/PrestoFunctions.
    FunctionEntry.udf("unicode_normalize",
      udf((s: String, form: String) =>
        if (s == null || form == null) null
        else java.text.Normalizer.normalize(
          s, java.text.Normalizer.Form.valueOf(form.toUpperCase)))),

    // JSON family glue (reference: scalar/JsonFunctions.java). Spark has
    // no JSON type — JSON values are their canonical text here (README):
    //   json_size_text    counts children of an already-extracted JSON
    //                     text (the json_size builder composes it with
    //                     GetJsonObject for the path argument); 0 for
    //                     scalars like the reference.
    //   json_array_contains_{str,num,bool}  typed membership, dispatched
    //                     on the value argument's type by the builder.
    //   json_array_get    negative index from the end; container elements
    //                     return as JSON text, string scalars UNQUOTED
    //                     and null elements as SQL NULL (the reference's
    //                     documented wart — json.rst flags the result as
    //                     "invalid JSON"; JsonFunctions.java jsonArrayGet
    //                     uses getValueAsString).
    //   json_parse        validates + canonicalizes (throws on invalid,
    //                     like the reference); json_format is the
    //                     identity on canonical text.
    FunctionEntry.udf("json_size_text",
      udf((j: String) =>
        if (j == null) null
        else jsonTree(j) match {
          case Some(n) =>
            java.lang.Long.valueOf(if (n.isContainerNode) n.size.toLong else 0L)
          // GetJsonObject returns string SCALARS unquoted, so unparseable
          // text here means a bare string → size 0 (invalid top-level
          // JSON never reaches this UDF: GetJsonObject yields NULL for
          // it). A string scalar whose text parses as JSON (e.g. "[1]")
          // is indistinguishable and counts as its parsed form.
          case None => java.lang.Long.valueOf(0L)
        })),
    // a NULL value argument propagates NULL like the reference's
    // @SqlNullable parameters, never an NPE inside the predicate
    // reference UrlFunctions.java:124 urlExtractParameter: the FIRST
    // '&'-separated query entry whose key (text before the first '=')
    // matches wins; a present-but-valueless key (?k3&k4) yields '',
    // an absent key NULL. Spark's ParseUrl(QUERY, key) regex skips
    // valueless keys and so disagrees on both counts.
    FunctionEntry.udf("url_extract_parameter",
      udf((url: String, name: String) => {
        if (url == null || name == null) null
        else
          try {
            val q = new java.net.URI(url).getQuery
            if (q == null) null
            else q.split("&", -1).iterator
              .map(_.split("=", 2))
              .collectFirst { case a if a(0) == name =>
                if (a.length > 1) a(1) else "" }
              .orNull
          } catch { case _: Exception => null }
      })),
    FunctionEntry.udf("json_array_contains_str",
      udf((j: String, v: String) =>
        if (v == null) null
        else jsonArrayContains(j, n => n.isTextual && n.asText == v))),
    // lenient UTF-8 decode (reference StringFunctions.java fromUtf8):
    // each invalid byte sequence becomes the replacement string (U+FFFD
    // by default, '' drops them); never raises like Spark's ANSI decode
    FunctionEntry.udf("from_utf8_lenient",
      udf((b: Array[Byte], repl: String) => {
        if (b == null || repl == null) null
        else {
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          if (repl.isEmpty) {
            dec.onMalformedInput(java.nio.charset.CodingErrorAction.IGNORE)
            dec.onUnmappableCharacter(java.nio.charset.CodingErrorAction.IGNORE)
          } else {
            require(repl.codePointCount(0, repl.length) == 1,
              "replacement character must be a single character")
            dec.onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
            dec.onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
            dec.replaceWith(repl)
          }
          dec.decode(java.nio.ByteBuffer.wrap(b)).toString
        }
      })),
    // token-type STRICT like the reference's overloads (JsonFunctions.
    // java: the bigint overload matches only integer tokens, the double
    // overload only floating tokens — contains('[1.0]', 1) is false)
    FunctionEntry.udf("json_array_contains_long",
      udf((j: String, v: java.lang.Long) =>
        if (v == null) null
        else jsonArrayContains(j,
          // canConvertToLong: an integer token beyond the long range
          // (92233720368547758071) must match NOTHING — asLong alone
          // wraps it onto small negatives (TestJsonFunctions pins the
          // overflow row false)
          n => n.isIntegralNumber && n.canConvertToLong &&
            n.asLong == v.longValue))),
    FunctionEntry.udf("json_array_contains_num",
      udf((j: String, v: java.lang.Double) =>
        if (v == null) null
        else jsonArrayContains(j,
          n => n.isFloatingPointNumber && n.asDouble == v.doubleValue))),
    FunctionEntry.udf("json_array_contains_bool",
      udf((j: String, v: java.lang.Boolean) =>
        if (v == null) null
        else jsonArrayContains(j, n => n.isBoolean && n.asBoolean == v.booleanValue))),
    FunctionEntry.udf("json_array_get",
      udf((j: String, i: java.lang.Long) =>
        if (j == null || i == null) null
        else jsonTree(j).flatMap { n =>
          if (!n.isArray) None
          else {
            val idx = if (i >= 0) i.toInt else n.size + i.toInt
            if (idx < 0 || idx >= n.size) None
            else {
              val el = n.get(idx)
              // reference wart kept for compatibility (JsonFunctions.java
              // jsonArrayGet uses getValueAsString, json.rst flags the
              // result as "invalid JSON"): string elements come back
              // UNQUOTED, a JSON null element is SQL NULL
              if (el.isNull) None
              else if (el.isTextual) Some(el.asText)
              else Some(el.toString)
            }
          }
        }.orNull)),
    // the reference canonicalizes through SORTED_MAPPER — object keys
    // sort recursively (JsonFunctions.java:147; JsonUtil.java:104 "ordered
    // by key is required in Presto"), making JSON '{"a":1,"b":2}' =
    // JSON '{"b":2,"a":1}' true as plain text equality
    FunctionEntry.udf("json_parse",
      udf((s: String) =>
        if (s == null) null
        else sortKeys(jsonTree(s).getOrElse(
          throw new IllegalArgumentException(s"Cannot convert to JSON: '$s'")))
          .toString)),
    // json_format renders the CANONICAL form (the reference formats the
    // parsed JSON value, never the source spelling — TestJsonFunctions
    // pins format(JSON '["a", "b"]') = '["a","b"]'); unparseable text
    // passes through (it can only reach here via a non-JSON string)
    FunctionEntry.udf("json_format",
      udf((s: String) =>
        if (s == null) null
        else jsonTree(s).map(_.toString).getOrElse(s))),
  )

  private lazy val jsonMapper =
    new com.fasterxml.jackson.databind.ObjectMapper

  private def jsonTree(
      s: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try Option(jsonMapper.readTree(s))
    catch { case _: com.fasterxml.jackson.core.JacksonException => None }

  /** Rebuild a tree with object keys sorted recursively (Java string
    * order, matching the reference's ORDER_MAP_ENTRIES_BY_KEYS mapper). */
  private def sortKeys(
      n: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
    n match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val out = jsonMapper.createObjectNode()
        val names = new java.util.ArrayList[String]()
        o.fieldNames().forEachRemaining(k => names.add(k))
        names.sort(java.util.Comparator.naturalOrder[String]())
        names.forEach(k => out.set[com.fasterxml.jackson.databind.JsonNode](
          k, sortKeys(o.get(k))))
        out
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val out = jsonMapper.createArrayNode()
        a.forEach(el => out.add(sortKeys(el)))
        out
      case other => other
    }

  private def jsonArrayContains(
      j: String,
      pred: com.fasterxml.jackson.databind.JsonNode => Boolean): java.lang.Boolean =
    if (j == null) null
    else jsonTree(j) match {
      case Some(n) if n.isArray =>
        java.lang.Boolean.valueOf(
          (0 until n.size).exists(i => pred(n.get(i))))
      case _ => null
    }
}
