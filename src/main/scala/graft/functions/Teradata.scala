package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder, SignStyle}
import java.time.temporal.ChronoField._
import java.util.concurrent.ConcurrentHashMap

/** Teradata-compatibility functions (reference:
  * presto-teradata-functions/.../TeradataDateFunctions.java,
  * TeradataStringFunctions.java, dateformat/DateFormatParser.java,
  * DateFormat.g4). The format dialect knows exactly eight specifiers —
  * dd, hh, hh24, mi, mm, ss, yy, yyyy — plus the punctuation/whitespace
  * literals `- / , . ; :`; anything else is a loud tokenize error, like
  * the reference's UNRECOGNIZED lexer rule.
  *
  * Parse and format modes differ only in the minimum field width
  * (DateFormatParser.Mode): parsing accepts single-digit two-position
  * fields (`'1988/4/8 2:3:4'`), formatting always zero-pads. `yy` parses
  * reduced against base 2000 ('88' → 2088); `hh` is the 1-12 clock with
  * no am/pm token, so parses default to AM (HOUR_OF_AMPM = 0) exactly as
  * the reference documents.
  *
  * These are registered as `teradata_`-prefixed UDFs; `Dialect`
  * aliases the reference spellings (to_char / to_timestamp / to_date)
  * onto them for facade queries. String-formatting scalars are not a
  * hot path, so ScalaUDFs (not codegen expressions) are the right
  * cost/complexity point.
  */
object Teradata {

  /** Longest-first so hh24 wins over hh and yyyy over yy (the ANTLR
    * lexer gets the same effect from rule order). */
  private val specifiers = Seq("yyyy", "hh24", "hh", "mm", "mi", "ss", "dd", "yy")
  private val literalChars: Set[Char] = " \r\n\t-/,.;:".toSet

  private def buildFormatter(format: String, minTwoPositionWidth: Int): DateTimeFormatter = {
    val b = new DateTimeFormatterBuilder()
    var hasAmPmHour = false
    var i = 0
    while (i < format.length) {
      specifiers.find(s => format.startsWith(s, i)) match {
        case Some(spec) =>
          spec match {
            case "dd"   => b.appendValue(DAY_OF_MONTH, minTwoPositionWidth, 2, SignStyle.NOT_NEGATIVE)
            case "hh24" => b.appendValue(HOUR_OF_DAY, minTwoPositionWidth, 2, SignStyle.NOT_NEGATIVE)
            case "hh"   => b.appendValue(HOUR_OF_AMPM, minTwoPositionWidth, 2, SignStyle.NOT_NEGATIVE)
                           hasAmPmHour = true
            case "mi"   => b.appendValue(MINUTE_OF_HOUR, minTwoPositionWidth, 2, SignStyle.NOT_NEGATIVE)
            case "mm"   => b.appendValue(MONTH_OF_YEAR, minTwoPositionWidth, 2, SignStyle.NOT_NEGATIVE)
            case "ss"   => b.appendValue(SECOND_OF_MINUTE, minTwoPositionWidth, 2, SignStyle.NOT_NEGATIVE)
            case "yy"   => b.appendValueReduced(YEAR, 2, 2, 2000)
            case "yyyy" => b.appendValue(YEAR, 4)
          }
          i += spec.length
        case None =>
          if (literalChars(format(i))) { b.appendLiteral(format(i)); i += 1 }
          else throw new IllegalArgumentException(
            s"Failed to tokenize string [${format(i)}] at offset [$i]")
      }
    }
    // bare dates must still parse as midnight timestamps; `hh` formats
    // keep the reference's default-to-AM behavior (no am/pm token exists)
    if (hasAmPmHour) b.parseDefaulting(HOUR_OF_AMPM, 0).parseDefaulting(AMPM_OF_DAY, 0)
    else b.parseDefaulting(HOUR_OF_DAY, 0)
    b.parseDefaulting(MINUTE_OF_HOUR, 0)
      .parseDefaulting(SECOND_OF_MINUTE, 0)
      .toFormatter()
  }

  private val parserCache = new ConcurrentHashMap[String, DateTimeFormatter]()
  private val formatterCache = new ConcurrentHashMap[String, DateTimeFormatter]()
  private def parserFor(fmt: String): DateTimeFormatter =
    parserCache.computeIfAbsent(fmt, buildFormatter(_, 1))
  private def formatterFor(fmt: String): DateTimeFormatter =
    formatterCache.computeIfAbsent(fmt, buildFormatter(_, 2))

  /** Wall-clock fields of a parse, attached to the live session zone the
    * same way Engine's presto_date_parse does (Spark timestamps are
    * instants rendered in the session zone; the reference's non-legacy
    * semantics parse zoneless wall-clock). */
  private def parseLocal(s: String, fmt: String): java.time.LocalDateTime =
    java.time.LocalDateTime.from(parserFor(fmt).parse(s))

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("teradata_to_char",
      udf((ts: java.sql.Timestamp, fmt: String) =>
        if (ts == null || fmt == null) null
        else formatterFor(fmt).format(
          ts.toInstant.atZone(graft.Engine.currentZone).toLocalDateTime))),

    FunctionEntry.udf("teradata_to_timestamp",
      udf((s: String, fmt: String) =>
        if (s == null || fmt == null) null
        else java.sql.Timestamp.from(
          parseLocal(s, fmt).atZone(graft.Engine.currentZone).toInstant))),

    FunctionEntry.udf("teradata_to_date",
      udf((s: String, fmt: String) =>
        if (s == null || fmt == null) null
        else parseLocal(s, fmt).toLocalDate)),

    // hex of the UTF-16BE encoding, uppercase (TeradataStringFunctions
    // .char2HexInt); ASCII chars render as 00XX
    FunctionEntry.udf("char2hexint",
      udf((s: String) =>
        if (s == null) null
        else {
          val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
          val sb = new java.lang.StringBuilder(bytes.length * 2)
          bytes.foreach(b => sb.append(f"${b & 0xff}%02X"))
          sb.toString
        })),
  )
}
