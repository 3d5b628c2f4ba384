package graft.functions

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.Locale

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

import com.fasterxml.jackson.databind.JsonNode

/** Remaining named reference scalars outside the binary/stat families:
  *
  *   - `json_extract` / `is_json_scalar` (reference: scalar/JsonFunctions
  *     .java + JsonExtract.java): the `$.a.b[0]` / `$["a"][0]` JsonPath
  *     subset the reference's own extractor supports, over Jackson trees;
  *     results render as canonical JSON text (strings keep quotes —
  *     `json_extract_scalar` is the unquoting variant, already aliased to
  *     get_json_object).
  *   - `strrpos` (reference: scalar/StringFunctions.java
  *     stringPositionFromEnd): 1-based position of the n-th occurrence
  *     from the end, 0 when absent, empty substring → 1.
  *   - `split_to_multimap` (reference: scalar/SplitToMultimapFunction
  *     .java): map(key → all values in entry order); loud error when an
  *     entry does not contain the key-value delimiter exactly once.
  *   - `format_datetime` / `parse_datetime` (reference: scalar/
  *     DateTimeFunctions.java — Joda patterns): rendered/parsed in the
  *     SESSION zone with java.time, whose pattern letters agree with
  *     Joda's for the common tokens (y M d H h m s S E a z); exotic Joda
  *     tokens (weekyear `x`, era century) are a documented divergence.
  *   - `timezone_hour` / `timezone_minute`: the session zone's offset at
  *     the instant (README's TIMESTAMP WITH TIME ZONE narrowing).
  *   - `to_milliseconds` (reference: DateTimeFunctions.java): day-time
  *     interval → BIGINT milliseconds.
  */
object MiscExtras {

  // ---- json_extract path walker (the reference extractor's subset) ----

  private[functions] def jsonExtract(json: String, path: String): Option[JsonNode] = {
    if (json == null || path == null) return None
    val root =
      try Option(mapper.readTree(json))
      catch { case _: com.fasterxml.jackson.core.JacksonException => None }
    root.flatMap(walk(_, parsePath(path)))
  }

  private def walk(n: JsonNode, steps: Seq[Either[String, Int]]): Option[JsonNode] =
    steps.foldLeft(Option(n)) {
      case (Some(cur), Left(field)) if cur.isObject => Option(cur.get(field))
      case (Some(cur), Right(idx)) if cur.isArray   => Option(cur.get(idx))
      case _                                        => None
    }

  /** `$`, then `.name`, `["name"]`, or `[index]` steps; an unparseable
    * path throws like the reference's invalid-JsonPath error. */
  private[functions] def parsePath(path: String): Seq[Either[String, Int]] = {
    val p = path.trim
    require(p.startsWith("$"), s"Invalid JSON path: '$path'")
    var i = 1
    val steps = scala.collection.mutable.ArrayBuffer.empty[Either[String, Int]]
    while (i < p.length) {
      p(i) match {
        case '.' =>
          var j = i + 1
          while (j < p.length && p(j) != '.' && p(j) != '[') j += 1
          require(j > i + 1, s"Invalid JSON path: '$path'")
          steps += Left(p.substring(i + 1, j))
          i = j
        case '[' =>
          val close = p.indexOf(']', i)
          require(close > i, s"Invalid JSON path: '$path'")
          val body = p.substring(i + 1, close).trim
          if (body.startsWith("\"") && body.endsWith("\"") && body.length >= 2)
            steps += Left(body.substring(1, body.length - 1))
          else {
            require(body.nonEmpty && body.forall(_.isDigit),
              s"Invalid JSON path: '$path'")
            steps += Right(body.toInt)
          }
          i = close + 1
        case _ => throw new IllegalArgumentException(s"Invalid JSON path: '$path'")
      }
    }
    steps.toSeq
  }

  // ---- strrpos ----

  private[functions] def strrpos(s: String, sub: String, instance: Long): Long = {
    require(instance > 0, "'instance' must be a positive number.")
    if (sub.isEmpty) return 1L
    var found = 0
    var index = s.length
    while (found < instance) {
      index = s.lastIndexOf(sub, index - 1)
      if (index < 0) return 0L
      found += 1
    }
    s.codePointCount(0, index) + 1L
  }

  // ---- split_to_multimap ----

  def splitToMultimap(
      s: String, entryDelim: String, kvDelim: String): Map[String, Seq[String]] = {
    if (s == null) return null
    require(entryDelim != null && entryDelim.nonEmpty, "entryDelimiter is empty")
    require(kvDelim != null && kvDelim.nonEmpty, "keyValueDelimiter is empty")
    require(entryDelim != kvDelim,
      "entryDelimiter and keyValueDelimiter must not be the same")
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    // Loop while entryStart < length, like the reference's
    // SplitToMultimapFunction: a TRAILING entry delimiter ('a=1,') leaves
    // entryStart == length and the loop exits before ever seeing the empty
    // trailing entry → {a:[1]}. Empty entries at the start or middle
    // (',a=1', 'a=1,,b=2') ARE seen and fail the exactly-once contract.
    var entryStart = 0
    while (entryStart < s.length) {
      val entryEnd = s.indexOf(entryDelim, entryStart)
      val pair =
        if (entryEnd >= 0) s.substring(entryStart, entryEnd)
        else s.substring(entryStart)
      val keyEnd = pair.indexOf(kvDelim)
      require(keyEnd >= 0,
        s"Key-value delimiter must appear exactly once in each entry. Bad input: $pair")
      val value = pair.substring(keyEnd + kvDelim.length)
      require(!value.contains(kvDelim),
        s"Key-value delimiter must appear exactly once in each entry. Bad input: $pair")
      val key = pair.substring(0, keyEnd)
      out(key) = out.getOrElse(key, Vector.empty) :+ value
      entryStart = if (entryEnd < 0) s.length else entryEnd + entryDelim.length
    }
    out.view.mapValues(_.toSeq).toMap
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  lazy val functions: Seq[FunctionEntry] = Seq(
    // Presto chr(n) is a Unicode CODE POINT constructor (reference:
    // presto-main/.../operator/scalar/StringFunctions.java:69-77); Spark's
    // built-in chr is ASCII-mod-256. Dialect aliases chr → presto_chr.
    FunctionEntry.udf("presto_chr",
      udf((n: java.lang.Long) =>
        if (n == null) null
        else {
          require(n >= 0 && n <= Character.MAX_CODE_POINT &&
            !(n >= 0xD800L && n <= 0xDFFFL),
            s"Not a valid Unicode code point: $n")
          new String(Character.toChars(n.toInt))
        })),
    FunctionEntry.udf("json_extract",
      udf((j: String, p: String) => jsonExtract(j, p).map(_.toString).orNull)),
    FunctionEntry.udf("is_json_scalar",
      udf((j: String) =>
        if (j == null) null
        else java.lang.Boolean.valueOf(
          try { val n = mapper.readTree(j); n != null && n.isValueNode }
          catch { case _: com.fasterxml.jackson.core.JacksonException => false }))),
    FunctionEntry.udf("strrpos",
      udf((s: String, sub: String) =>
        if (s == null || sub == null) null
        else java.lang.Long.valueOf(strrpos(s, sub, 1L)))),
    FunctionEntry.udf("split_to_multimap",
      udf((s: String, e: String, kv: String) => splitToMultimap(s, e, kv))),
    FunctionEntry.udf("format_datetime",
      udf((ts: java.sql.Timestamp, fmt: String) =>
        if (ts == null || fmt == null) null
        else DateTimeFormatter.ofPattern(fmt, Locale.ENGLISH)
          .withZone(graft.Engine.currentZone)
          .format(ts.toInstant))),
    FunctionEntry.udf("parse_datetime",
      udf((s: String, fmt: String) =>
        if (s == null || fmt == null) null
        else {
          val f = DateTimeFormatter.ofPattern(fmt, Locale.ENGLISH)
          val parsed = f.parseBest(s,
            java.time.ZonedDateTime.from(_),
            java.time.LocalDateTime.from(_),
            java.time.LocalDate.from(_))
          val zone = graft.Engine.currentZone
          val instant = parsed match {
            case z: java.time.ZonedDateTime => z.toInstant
            case l: java.time.LocalDateTime => l.atZone(zone).toInstant
            case d: java.time.LocalDate     => d.atStartOfDay(zone).toInstant
          }
          java.sql.Timestamp.from(instant)
        })),
    FunctionEntry.udf("timezone_hour",
      udf((ts: java.sql.Timestamp) =>
        if (ts == null) null
        else java.lang.Long.valueOf((offsetSeconds(ts.toInstant) / 3600).toLong))),
    FunctionEntry.udf("timezone_minute",
      udf((ts: java.sql.Timestamp) =>
        if (ts == null) null
        else java.lang.Long.valueOf(((offsetSeconds(ts.toInstant) / 60) % 60).toLong))),
    FunctionEntry.udf("to_milliseconds",
      udf((d: java.time.Duration) => if (d == null) null else java.lang.Long.valueOf(d.toMillis))),
    // secure_random family (reference: scalar/MathFunctions.java:699-797,
    // deterministic = false): a REAL java.security.SecureRandom per
    // executor thread — the reference's CSPRNG contract, which Spark's
    // XORShift rand() does not meet. Overload dispatch (0-arg double /
    // 2-arg same-as-input) lives in PrestoFunctions; asNondeterministic
    // stops Catalyst from constant-folding or deduplicating calls.
    FunctionEntry.udf("graft_secure_random0",
      udf(
        () => secureRng.get().nextDouble()).asNondeterministic()),
    FunctionEntry.udf("graft_secure_random_double",
      udf(
        (lo: java.lang.Double, hi: java.lang.Double) =>
          if (lo == null || hi == null) null
          else {
            require(lo < hi, "lower must be less than upper")
            java.lang.Double.valueOf(
              lo + secureRng.get().nextDouble() * (hi - lo))
          }).asNondeterministic()),
    // random(n)/rand(n): bigint in [0, n) via ThreadLocalRandom, the
    // reference's own generator shape (MathFunctions.java random(n));
    // the Dialect rewrites the 1-arg spelling here because Spark's
    // builtin rand(seed) would otherwise shadow it
    FunctionEntry.udf("graft_random_long",
      udf(
        (n: java.lang.Long) =>
          if (n == null) null
          else {
            require(n > 0, "bound must be positive")
            java.lang.Long.valueOf(
              java.util.concurrent.ThreadLocalRandom.current().nextLong(n))
          }).asNondeterministic()),
    FunctionEntry.udf("graft_secure_random_long",
      udf(
        (lo: java.lang.Long, hi: java.lang.Long) =>
          if (lo == null || hi == null) null
          else {
            require(lo < hi, "lower must be less than upper")
            java.lang.Long.valueOf(lo + secureRng.get().nextLong(hi - lo))
          }).asNondeterministic()),

    // Presto's MySQL-'%'-token date dialect (reference: presto-main/.../
    // operator/scalar/DateTimeFunctions.java dateFormat/dateParse) —
    // runtime token translation so non-literal format args work too.
    // Wall-clock <-> instant conversion goes through the SESSION zone
    // (the reference evaluates in the session zone); java.sql.Timestamp's
    // toLocalDateTime/valueOf would silently use the JVM default zone,
    // which shifts every value on a non-UTC host. The zone is read per
    // call (Engine.currentZone) so a later
    // `SET spark.sql.session.timeZone` changes these functions in step
    // with Spark's own timestamp rendering.
    FunctionEntry.udf("presto_date_format",
      udf((ts: java.sql.Timestamp, fmt: String) =>
        if (ts == null || fmt == null) null
        else DateTimeFormatter
          .ofPattern(graft.Engine.prestoDateFormat(fmt))
          .format(ts.toInstant.atZone(graft.Engine.currentZone).toLocalDateTime))),
    // localtime (reference: DateTimeFunctions.java localTime — TIME in
    // the session zone) under the documented TIME narrowing: the current
    // session-zone wall-clock time-of-day anchored on the epoch day.
    // Millisecond precision, matching the reference's TIME resolution.
    FunctionEntry.udf("localtime", udf(() => {
      val zone = graft.Engine.currentZone
      val now = java.time.LocalTime.now(zone)
        .truncatedTo(java.time.temporal.ChronoUnit.MILLIS)
      java.sql.Timestamp.from(
        java.time.LocalDateTime.of(java.time.LocalDate.EPOCH, now)
          .atZone(zone).toInstant)
    })),
    FunctionEntry.udf("presto_date_parse",
      udf((s: String, fmt: String) =>
        if (s == null || fmt == null) null
        else {
          import java.time.temporal.ChronoField._
          val b = new java.time.format.DateTimeFormatterBuilder()
            .appendPattern(graft.Engine.prestoDateFormat(fmt))
            .parseDefaulting(YEAR_OF_ERA, 1970)
            .parseDefaulting(MONTH_OF_YEAR, 1)
            .parseDefaulting(DAY_OF_MONTH, 1)
            .parseDefaulting(HOUR_OF_DAY, 0)
            .parseDefaulting(MINUTE_OF_HOUR, 0)
            .parseDefaulting(SECOND_OF_MINUTE, 0)
            .parseDefaulting(NANO_OF_SECOND, 0)
          java.sql.Timestamp.from(
            java.time.LocalDateTime.from(b.toFormatter.parse(s))
              .atZone(graft.Engine.currentZone).toInstant)
        })),
  )

  private val secureRng: ThreadLocal[java.security.SecureRandom] =
    ThreadLocal.withInitial(() => new java.security.SecureRandom())

  private def offsetSeconds(i: Instant): Int =
    graft.Engine.currentZone.getRules.getOffset(i).getTotalSeconds
}
