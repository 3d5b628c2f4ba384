package graft

import scala.collection.mutable

/** Presto-SQL → Spark-SQL translation. The reference's query surface is
  * the full ANTLR grammar (reference: presto-parser/src/main/antlr4/com/
  * facebook/presto/sql/parser/SqlBase.g4); Spark's parser covers almost
  * all of it, so translation is a thin, literal-aware token rewrite over
  * the places the dialects genuinely disagree:
  *
  *   - function names whose Spark spelling differs 1:1 (strpos→instr …);
  *     `log`/`date_format`/`date_parse` route to graft-registered
  *     functions because the argument order or token dialect differs
  *     (reference: operator/scalar/MathFunctions.java:187 — Presto log is
  *     (number, base); Spark's is (base, number)).
  *   - `ARRAY[a, b]` literals → `array(a, b)` (SqlBase.g4 primaryExpression
  *     ARRAY rule; Spark only parses the call form).
  *   - `expr[i]` subscripts → `element_at(expr, i)`: Presto subscripts are
  *     1-based for arrays and key-based for maps (reference: operator/
  *     scalar/ArraySubscriptOperator.java), matching `element_at`'s
  *     indexing; Spark's native `[]` is 0-based. Error-path conformance
  *     under the engine's pinned ANSI default: an out-of-range array
  *     subscript THROWS exactly like Presto's ArraySubscriptOperator
  *     (Spark class INVALID_ARRAY_INDEX_IN_ELEMENT_AT). KNOWN DIVERGENCE:
  *     a missing MAP key returns NULL where Presto's
  *     MapSubscriptOperator throws — Spark 4 removed the raising map
  *     accessor outright (SPARK-40066), so there is no conforming
  *     spelling to map onto. The user-facing `element_at(...)` FUNCTION,
  *     by contrast, is Presto's null-returning accessor
  *     (scalar/ArrayElementAtFunction.java), so the facade aliases it to
  *     `try_element_at` — null-on-miss in both ANSI modes.
  *   - double-quoted identifiers → backticks (SqlBase.g4 quotedIdentifier;
  *     Spark reads double quotes as string literals).
  *   - `TRY(expr)` passes through as a call to the graft-injected `try`
  *     function (reference: sql/relational/optimizer/... TRY is special
  *     form; Spark has no generic TRY).
  *   - `CROSS JOIN UNNEST(…) [WITH ORDINALITY] AS t(c…)` (and the `,`,
  *     `LEFT JOIN … ON TRUE`, and bare-FROM spellings) → Spark
  *     `LATERAL VIEW [OUTER] explode/inline(…)` — see [[rewriteUnnest]].
  *   - ORDER BY items with no explicit NULLS get ` NULLS LAST` injected:
  *     Presto's default is NULLS LAST for BOTH directions (reference:
  *     presto-main/.../sql/planner/PlannerUtils.java:40-52 — the
  *     unspecified case falls through to *_NULLS_LAST), while Spark
  *     defaults ASC to NULLS FIRST.
  *
  * Lexical grammar. [[opaqueEnd]] is the one place that decides where a
  * statement's opaque units lie (SqlBase.g4 STRING, QUOTED_IDENTIFIER,
  * BACKQUOTED_IDENTIFIER, SIMPLE_COMMENT, BRACKETED_COMMENT): a `'…'`
  * literal (`''` escapes a quote), a `"…"` identifier (`""`), a `` `…` ``
  * identifier (``` `` ```), a `--` comment up to its newline and a
  * `/* … */` comment. An unterminated unit runs to the end of the text.
  * Every pass that walks the statement text steps over units with it
  * (or maps only the code between them with [[mapCode]]), so no
  * keyword, `?` placeholder or paren inside a unit is ever read as code;
  * each pass keeps only the handling of a unit that is its own (the main
  * rewrite turns `"…"` into backticks, argument capture drops comments).
  * Literal content is never rewritten. Only the scans that re-read
  * already emitted output to find an operand (`operandStart`,
  * `atTzOperandStart`, `leftOperandStart`) keep their own quote rules.
  */
object Dialect {

  /** Presto name → Spark (or graft-registered) name, applied only when the
    * identifier is immediately followed by '('. Only 1:1 semantics here;
    * anything needing arg reshuffling routes to a graft-registered
    * function (reference registrations: presto-main/.../metadata/
    * BuiltInTypeAndFunctionNamespaceManager.java:658-878).
    */
  val functionAliases: Map[String, String] = Map(
    "approx_distinct"     -> "approx_count_distinct",
    "arbitrary"           -> "any_value",
    "strpos"              -> "presto_strpos",
    "strrpos"             -> "presto_strrpos",
    "array_intersect"     -> "presto_array_intersect",
    "arrays_overlap"      -> "presto_arrays_overlap",
    "json_extract_scalar" -> "get_json_object",
    "codepoint"           -> "ascii",
    "pow"                 -> "power",
    // Presto is_nan(NULL) is NULL (@SqlNullable, MathFunctions.java);
    // Spark's isnan(NULL) is false → null-propagating wrapper.
    "is_nan"              -> "presto_is_nan",
    // Presto's only `contains` is ARRAY membership (ArrayContains.java);
    // Spark's builtin of that name is string-contains, which no Presto
    // query can mean. The wrapper also nulls an untyped-NULL probe that
    // Spark's array_contains rejects at analysis.
    "contains"            -> "presto_contains",
    "array_position"      -> "presto_array_position",
    "ltrim"               -> "presto_ltrim",
    "replace"             -> "presto_replace",
    "rtrim"               -> "presto_rtrim",
    // NULL-propagating variadic extrema (reference-replay pack — see
    // plans/PrestoFunctions.scala for each wrapper's citation).
    "greatest"            -> "presto_greatest",
    "least"               -> "presto_least",
    "array_min"           -> "presto_array_min",
    "array_max"           -> "presto_array_max",
    "split_part"          -> "presto_split_part",
    "substr"              -> "presto_substr",
    // comma form only — the FROM form is re-shaped by its own branch
    "substring"           -> "presto_substr",
    "levenshtein_distance" -> "levenshtein",
    // Presto chr is a Unicode code-point constructor
    // (StringFunctions.java:69); Spark's chr is ASCII mod 256.
    "chr"                 -> "presto_chr",
    "fail"                -> "raise_error",
    // regexp_split: Presto's is regex-based like Spark's own split
    "regexp_split"        -> "split",
    "to_base64"           -> "base64",
    "from_base64"         -> "unbase64",
    "bitwise_and_agg"     -> "bit_and",
    "bitwise_or_agg"      -> "bit_or",
    // Presto's element_at is the NULL-returning accessor (out-of-range
    // array index or missing map key → NULL; reference: operator/scalar/
    // ArrayElementAtFunction.java) — under the engine's pinned ANSI
    // default Spark's own element_at raises on array out-of-range, so
    // the conforming target is try_element_at (null-on-miss in both
    // modes). The facade-inserted subscript rewrite `expr[i]` is NOT
    // affected (it emits into the output buffer, which this alias pass
    // never rescans) and keeps raising like Presto's subscript.
    "element_at"          -> "try_element_at",
    // Presto log(number, base) vs Spark log(base, number): arg swap done
    // by the injected expression, not by string surgery.
    "log"                 -> "presto_log",
    // MySQL-'%'-token date dialect (DateTimeFunctions.java) → runtime
    // token translation in the registered UDFs.
    "date_format"         -> "presto_date_format",
    "date_parse"          -> "presto_date_parse",
    // Teradata compatibility pack (presto-teradata-functions/…/
    // TeradataDateFunctions.java, TeradataStringFunctions.java): the
    // reference spellings exist ONLY as the 2-arg Teradata forms, so the
    // aliases are unconditional; `index` is strpos, which is Spark instr.
    "to_char"             -> "teradata_to_char",
    "to_timestamp"        -> "teradata_to_timestamp",
    "to_date"             -> "teradata_to_date",
    "index"               -> "instr",
  )

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Numeric type keywords whose `TYPE 'literal'` constructor form maps
    * to a CAST (SqlBase.g4 typeConstructor). */
  private val numericTypedLiterals =
    Set("tinyint", "smallint", "integer", "bigint", "real", "double", "boolean")

  /** Index just past the opaque unit (object doc) that starts at `i`, or
    * `i` when code starts there. The unit's kind is `q(i)`. */
  private def opaqueEnd(q: String, i: Int): Int =
    if (i >= q.length) i
    else q(i) match {
      case c @ ('\'' | '"' | '`') =>
        var j = i + 1
        var end = -1
        while (j < q.length && end < 0)
          if (q(j) != c) j += 1
          else if (j + 1 < q.length && q(j + 1) == c) j += 2
          else end = j + 1
        if (end < 0) q.length else end
      case '-' if q.startsWith("--", i) =>
        q.indexOf('\n', i) match { case -1 => q.length; case e => e }
      case '/' if q.startsWith("/*", i) =>
        q.indexOf("*/", i + 2) match { case -1 => q.length; case e => e + 2 }
      case _ => i
    }

  /** True for a unit (at its start `i`) that is a comment. */
  private def isComment(q: String, i: Int): Boolean = q(i) == '-' || q(i) == '/'

  /** `f` applied to each maximal code span of `q`; the opaque units
    * between the spans are copied verbatim. */
  private def mapCode(q: String)(f: String => String): String = {
    val out = new StringBuilder
    var start = 0
    var i = 0
    while (i < q.length) {
      val e = opaqueEnd(q, i)
      if (e == i) i += 1
      else { out.append(f(q.substring(start, i))).append(q.substring(i, e)); start = e; i = e }
    }
    out.append(f(q.substring(start))).toString
  }

  private def nextNonSpace(q: String, from: Int): Int = {
    var i = from
    while (i < q.length && q(i).isWhitespace) i += 1
    i
  }

  /** Functions whose value the reference evaluates in a TIMESTAMP WITH
    * TIME ZONE's OWN zone (DateTimeFunctions.java packs the zone key
    * next to the millis — DateTimeEncoding.java:55). When such a call
    * sits DIRECTLY over a WITH-TIME-ZONE literal, the zone is statically
    * known and the dialect evaluates in it; zone-less columns keep the
    * documented instant narrowing (README "Time zone semantics"). */
  private val ZoneSensitiveFns = Set(
    "hour", "minute", "second", "millisecond", "year", "quarter", "month",
    "day", "day_of_month", "day_of_week", "dow", "day_of_year", "doy",
    "week", "week_of_year", "year_of_week", "yow",
    "date_format", "format_datetime", "timezone_hour", "timezone_minute")

  private val ExtractFromRe = "(?is)^\\s*(\\w+)\\s+from\\s+(.+)$".r

  /** SUBSTRING(x FROM a [FOR b]) — the single-"argument" SQL form
    * (SqlBase.g4 primaryExpression SUBSTRING). Splits at the LAST
    * top-level (paren-depth-0, outside string literals) FROM so a
    * nested FROM-form call — SUBSTRING(SUBSTRING(s FROM 1) FROM 2) —
    * binds to the outermost separator; a regex's lazy head would bind
    * the first textual ' from ' regardless of nesting. Returns
    * (value, start, length?) or None when no top-level FROM exists. */
  private def splitSubstringFrom(
      arg: String): Option[(String, String, Option[String])] = {
    def wordAt(i: Int, w: String): Boolean =
      arg.regionMatches(true, i, w, 0, w.length) &&
        (i == 0 || !isWordChar(arg(i - 1))) &&
        (i + w.length >= arg.length || !isWordChar(arg(i + w.length)))
    var depth = 0
    var i = 0
    var fromPos = -1
    var forPos = -1
    while (i < arg.length) {
      val c = arg(i)
      val e = opaqueEnd(arg, i)
      if (e > i) i = e
      else {
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (depth == 0 && wordAt(i, "from")) { fromPos = i; forPos = -1 }
        else if (depth == 0 && fromPos >= 0 && wordAt(i, "for")) forPos = i
        i += 1
      }
    }
    if (fromPos <= 0) None
    else {
      val head = arg.substring(0, fromPos).trim
      if (head.isEmpty) None
      else if (forPos > fromPos)
        Some((head, arg.substring(fromPos + 4, forPos).trim,
          Some(arg.substring(forPos + 3).trim)))
      else Some((head, arg.substring(fromPos + 4).trim, None))
    }
  }

  /** Presto EXTRACT field → the equivalent registered function name
    * (reference SqlBase.g4 extract / DateTimeFunctions.java). */
  private def extractFieldFn(field: String): String = field.toLowerCase match {
    case "day_of_month"          => "day"
    case "day_of_week"           => "dow"
    case "day_of_year"           => "doy"
    case "year_of_week"          => "yow"
    case other                   => other
  }

  private val WtzLiteralRe =
    "(?is)^\\s*(TIME|TIMESTAMP)\\s*'([^']*)'\\s*$".r
  private val TrailingOffsetRe = "(?s)^(.+?)\\s*([+-]\\d{2}:\\d{2})$".r
  private val TrailingNamedZoneRe =
    "(?s)^(.+?)\\s+([A-Za-z][\\w+\\-]*(?:/[\\w+\\-]+)+|UTC|GMT)$".r

  /** (kind, datetime-part, zone) of a WITH TIME ZONE literal, or None
    * for zoneless literals / non-literals. */
  private def wtzLiteralParts(expr: String): Option[(String, String, String)] =
    WtzLiteralRe.findFirstMatchIn(expr).flatMap { m =>
      val kind = m.group(1).toUpperCase
      m.group(2).trim match {
        case TrailingOffsetRe(dt, z)    => Some((kind, dt.trim, z))
        case TrailingNamedZoneRe(dt, z) => Some((kind, dt.trim, z))
        case _                          => None
      }
    }

  /** The literal zone's offset (seconds) at the literal's own wall
    * clock, via the same java.time rules the runtime functions use. */
  private def wtzLiteralOffsetSeconds(kind: String, dt: String, zone: String): Int = {
    val ldt =
      if (kind == "TIME") java.time.LocalDateTime.parse(s"1970-01-01T$dt")
      else java.time.LocalDateTime.parse(dt.replace(' ', 'T'))
    java.time.ZoneId.of(zone).getRules.getOffset(ldt).getTotalSeconds
  }

  /** Start index in `out` of the trailing operand expression — the thing a
    * `[` subscript applies to: a (possibly dotted) identifier, a
    * backtick-quoted identifier, or a balanced (...) call including its
    * function name. Quote-aware when balancing backwards. */
  /** True when the last word already emitted into `out` is `AS` — the
    * cast-context guard for sketch type tokens. */
  private def prevWordIsAs(out: StringBuilder): Boolean = {
    var e = out.length
    while (e > 0 && out.charAt(e - 1).isWhitespace) e -= 1
    var s = e
    while (s > 0 && isWordChar(out.charAt(s - 1))) s -= 1
    e - s == 2 && out.substring(s, e).equalsIgnoreCase("as")
  }

  private def operandStart(out: StringBuilder): Int = {
    var i = out.length - 1
    while (i >= 0 && out(i).isWhitespace) i -= 1
    if (i < 0) return 0
    // the operand is a CHAIN of postfix segments — identifier/dot runs,
    // `…` quoted ids, (…) call/paren groups and […] subscripts — glued
    // directly: a.b, f(x).c, CAST(…).col1[2].col0. Walk segments
    // backwards until the char to the left is not part of the chain
    // (the original single-segment scan stopped at `CAST(…).col1`'s
    // closing paren and wrapped only `.col1`, emitting element_at(.col1)
    // — malformed SQL).
    var pos = i
    var start = pos + 1
    var more = true
    while (more && pos >= 0) {
      more = false
      val c = out(pos)
      if (c == ')' || c == ']') {
        val open = if (c == ')') '(' else '['
        val close = c
        var depth = 0
        var j = pos
        var found = -1
        while (j >= 0 && found < 0) {
          val ch = out(j)
          if (ch == '\'') { // skip backwards over a literal
            j -= 1
            while (j >= 0 && out(j) != '\'') j -= 1
          } else if (ch == close) depth += 1
          else if (ch == open) { depth -= 1; if (depth == 0) found = j }
          j -= 1
        }
        if (found < 0) { start = 0 }
        else { start = found; pos = found - 1; more = true }
      } else if (c == '`') {
        var j = pos - 1
        while (j >= 0 && out(j) != '`') j -= 1
        start = math.max(j, 0); pos = j - 1; more = true
      } else if (isWordChar(c) || c == '.') {
        var j = pos
        while (j >= 0 && (isWordChar(out(j)) || out(j) == '.')) j -= 1
        start = j + 1; pos = j; more = true
      }
      // continue only while the next char to the left still glues the
      // chain (a callee name before '(', a '.' before a field, …)
      if (more) {
        more = pos >= 0 && {
          val ch = out(pos)
          isWordChar(ch) || ch == '.' || ch == ')' || ch == ']' || ch == '`'
        }
      }
    }
    start
  }

  /** Start of the operand preceding `AT TIME ZONE` — operandStart plus
    * the typed-literal case (`TIMESTAMP '…' AT TIME ZONE …`): a trailing
    * string literal pulls in its type-keyword prefix when one is present.
    * Leading arithmetic stays outside the wrap, matching the grammar's
    * tight binding (SqlBase.g4 valueExpression: the AT alternative binds
    * tighter than the arithmetic ones). */
  private def atTzOperandStart(out: StringBuilder): Int = {
    var i = out.length - 1
    while (i >= 0 && out(i).isWhitespace) i -= 1
    if (i >= 0 && out(i) == '\'') {
      var j = i - 1
      while (j >= 0 && out(j) != '\'') j -= 1
      var k = j - 1
      while (k >= 0 && out(k).isWhitespace) k -= 1
      var w = k
      while (w >= 0 && isWordChar(out(w))) w -= 1
      val kw = out.substring(w + 1, k + 1).toLowerCase
      if (kw == "timestamp" || kw == "date" || kw == "time") w + 1 else j
    } else operandStart(out)
  }

  /** After the word `AT` (scanner is at the first non-space index
    * `from`): if the text reads `TIME ZONE <zone>`, the translated zone
    * SQL ('Region/City' literal kept verbatim; `INTERVAL '-08:00' HOUR TO
    * MINUTE` becomes the signed offset literal) and the index just past
    * the zone spec. None = not the operator → scanner leaves the word
    * alone. */
  private def parseAtTimeZone(q: String, from: Int): Option[(String, Int)] = {
    def word(idx: Int): (String, Int) = {
      var e = idx
      while (e < q.length && isWordChar(q(e))) e += 1
      (q.substring(idx, e), e)
    }
    val (w1, e1) = word(from)
    if (!w1.equalsIgnoreCase("time")) return None
    val k2 = nextNonSpace(q, e1)
    val (w2, e2) = word(k2)
    if (!w2.equalsIgnoreCase("zone")) return None
    val k3 = nextNonSpace(q, e2)
    if (k3 < q.length && q(k3) == '\'') {
      val end = opaqueEnd(q, k3)
      Some((q.substring(k3, end), end))
    } else {
      val (w3, e3) = word(k3)
      if (!w3.equalsIgnoreCase("interval")) return None
      val k4 = nextNonSpace(q, e3)
      if (k4 >= q.length || q(k4) != '\'') return None
      val end = opaqueEnd(q, k4)
      val k5 = nextNonSpace(q, end); val (w5, e5) = word(k5)
      if (!w5.equalsIgnoreCase("hour")) return None
      val k6 = nextNonSpace(q, e5); val (w6, e6) = word(k6)
      if (!w6.equalsIgnoreCase("to")) return None
      val k7 = nextNonSpace(q, e6); val (w7, e7) = word(k7)
      if (!w7.equalsIgnoreCase("minute")) return None
      val raw = q.substring(k4 + 1, end - 1)
      // ZoneId offsets need an explicit sign; Presto's interval literal
      // may omit '+'
      val signed = if (raw.startsWith("+") || raw.startsWith("-")) raw else "+" + raw
      Some((s"'$signed'", e7))
    }
  }

  /** A timestamp literal body that stops at minutes and carries a zone
    * tail: `2012-10-31 01:00 UTC` (group 1 = date+time, group 2 = the
    * zone suffix including its leading space). */
  private val tsMinutesZone =
    """^(\d{4}-\d{2}-\d{2}[ T]\d{1,2}:\d{2})( [^:]+)$""".r

  private val regexMeta = "\\^$.|?*+()[]{}"

  /** Presto string literals have NO backslash escapes (SqlBase.g4 —
    * only '' doubles a quote), while Spark's parser eats C-style
    * escapes; doubling backslashes preserves the characters exactly. */
  private def preserveBackslashes(literalText: String): String =
    literalText.replace("\\", "\\\\")

  /** Presto `split` takes a LITERAL delimiter (reference: presto-main/
    * .../operator/scalar/StringFunctions.java split — Slice equality, no
    * regex), Spark's takes a Java regex. A literal delimiter containing
    * regex metacharacters is wrapped in \Q…\E when translated. (A
    * delimiter containing the two-char sequence `\E` would break the
    * quoting — not expressible this way, and not a realistic delimiter.) */
  private def quoteRegexLiteral(body: String): String =
    if (body.exists(regexMeta.contains(_)))
      "\\\\Q" + body.replace("\\", "\\\\") + "\\\\E"
    else body

  /** True when the emitted text ends with the given word (used for
    * cast-target context checks). */
  private def lastWordIs(out: StringBuilder, word: String): Boolean = {
    var e = out.length
    while (e > 0 && out(e - 1).isWhitespace) e -= 1
    var b = e
    while (b > 0 && isWordChar(out(b - 1))) b -= 1
    e - b == word.length && out.substring(b, e).equalsIgnoreCase(word)
  }

  /** The comparison operator ending the emitted text (whitespace
    * skipped): its text and start index, for the quantified-comparison
    * rewrite. */
  private def trailingComparisonOp(out: StringBuilder): Option[(String, Int)] = {
    var e = out.length
    while (e > 0 && out(e - 1).isWhitespace) e -= 1
    if (e >= 2) {
      val two = out.substring(e - 2, e)
      if (two == "<=" || two == ">=" || two == "<>" || two == "!=")
        return Some((two, e - 2))
    }
    if (e >= 1) {
      val one = out.substring(e - 1, e)
      if (one == "=" || one == "<" || one == ">") return Some((one, e - 1))
    }
    None
  }

  /** Start index (in the already-rewritten `out`) of the expression
    * operand that ends at `limit` — the LEFT side of a quantified
    * comparison. A forward scan (string literals skipped, paren depth
    * tracked) records, per depth, where the current operand began:
    * after '(' or ',' at that depth, or after a keyword that cannot be
    * part of a scalar operand (boolean/clause keywords — arithmetic and
    * '||' bind tighter than comparison, so they do NOT break the
    * operand). Returns None when the scan ends mid-literal or
    * unbalanced (caller falls back to the min/max-only lowering). */
  private val OperandBoundaryWords = Set(
    "and", "or", "not", "when", "then", "else", "select",
    "where", "having", "on", "by", "from", "join", "union", "all",
    "intersect", "except", "distinct", "as", "between", "is", "in",
    "return", "values", "limit", "offset")

  private def leftOperandStart(out: StringBuilder, limit: Int): Option[Int] = {
    val starts = mutable.Map(0 -> 0)
    // CASE…END is one OPERAND, not a boundary: `case` records the operand
    // start in effect when it opened (so `x + CASE…END < ALL` keeps the
    // whole arithmetic operand) and the matching `end` RESTORES it —
    // when/then/else inside the block clobber starts, but the restore
    // wins. Per-depth stacks pair non-parenthesized nested CASEs LIFO;
    // a ')' discards that depth's pending cases along with its start.
    val caseStack = mutable.Map.empty[Int, List[Int]]
    var depth = 0
    var i = 0
    while (i < limit) {
      val ch = out(i)
      if (ch == '\'') {
        var e = i + 1
        while (e < limit && out(e) != '\'') e += 1
        if (e >= limit) return None // comparison inside a literal?!
        i = e + 1
      } else if (ch == '(') {
        depth += 1; starts(depth) = i + 1; caseStack.remove(depth); i += 1
      } else if (ch == ')') {
        if (depth == 0) return None
        starts.remove(depth); caseStack.remove(depth); depth -= 1; i += 1
      } else if (ch == ',') {
        starts(depth) = i + 1
        i += 1
      } else if (ch.isLetter || ch == '_') {
        var e = i
        while (e < limit && isWordChar(out(e))) e += 1
        out.substring(i, e).toLowerCase match {
          case "case" =>
            caseStack(depth) = starts.getOrElse(depth, i) :: caseStack.getOrElse(depth, Nil)
          case "end" =>
            caseStack.getOrElse(depth, Nil) match {
              case h :: t => starts(depth) = h; caseStack(depth) = t
              case Nil    => starts(depth) = e // stray END: a clause edge
            }
          case w if OperandBoundaryWords(w) => starts(depth) = e
          case _ =>
        }
        i = e
      } else i += 1
    }
    starts.get(depth).map { s =>
      var k = s
      while (k < limit && out(k).isWhitespace) k += 1
      k
    }.filter(_ < limit)
  }

  /** Call/bracket frame: kind 'A' = ARRAY[ → array(, 'S' = subscript →
    * element_at(, '(' = plain paren, 'p' = split( whose 2nd argument is a
    * regex-position literal, 'W' = a call whose argument was wrapped in
    * an extra function (emits a second ')' on close). `args` counts
    * top-level commas seen. */
  private final class Frame(val kind: Char) { var args: Int = 0 }

  /** Main rewrite pass: literals copied verbatim, identifiers alias-mapped
    * at call sites, ARRAY[..]→array(..), subscripts→element_at, double
    * quotes→backticks. A frame stack tracks which ']' closes what and
    * which literal sits in a regex argument position. */
  private def rewrite(q: String): String = {
    val out = new StringBuilder
    val stack = mutable.ArrayDeque.empty[Frame]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      val e = opaqueEnd(q, i)
      if (e > i) {
        val unit = q.substring(i, e)
        out.append(c match {
          case '\'' if stack.nonEmpty && stack.head.kind == 'p' && stack.head.args == 1 =>
            "'" + quoteRegexLiteral(unit.substring(1, unit.length - 1)) + "'"
          case '\'' => preserveBackslashes(unit)
          case '"' => // "" escapes a quote; Spark quotes identifiers in backticks
            "`" + unit.substring(1).stripSuffix("\"").replace("\"\"", "\"")
              .replace("`", "``") + "`"
          case _ => unit
        })
        i = e
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < q.length && isWordChar(q(j))) j += 1
        val word = q.substring(i, j)
        val lower = word.toLowerCase
        val k = nextNonSpace(q, j)
        if (lower == "array" && k < q.length && q(k) == '[') {
          out.append("array(")
          stack.prepend(new Frame('A'))
          i = k + 1
        } else if (lower == "limit" && {
          val m = nextNonSpace(q, j)
          var e = m
          while (e < q.length && isWordChar(q(e))) e += 1
          q.substring(m, e).equalsIgnoreCase("all") && {
            // LIMIT ALL (SqlBase.g4 limit clause) = no limit in Presto;
            // Spark doesn't parse it — drop both words.
            i = e; true
          }
        }) {
          // handled in the guard
        } else if ((lower == "ipaddress" || lower == "ipprefix") &&
            k < q.length && q(k) == '\'') {
          // IPADDRESS 'x' / IPPREFIX 'x' canonicalize on construction
          // (IpAddressOperators castFromVarcharToIpAddress — compressed
          // lowercase v6, dotted quad for v4/v4-mapped, masked network
          // form for prefixes; functions/IpCanon)
          val end = opaqueEnd(q, k)
          out.append(if (lower == "ipaddress") "graft_ipaddress("
            else "graft_ipprefix(")
            .append(q.substring(k, end)).append(')')
          i = end
        } else if ((lower == "char" || lower == "varchar") &&
            k < q.length && q(k) == '\'') {
          // typed literals for types narrowed to VARCHAR text forms
          // (SqlBase.g4 typeConstructor; SURVEY §1.2 narrowing): the
          // value IS the canonical string, so the constructor drops.
          // CHAR 'x' rides the same narrowing (README CHAR(n) divergence:
          // unpadded semantics pass more reference rows than eager pads),
          // and VARCHAR 'x' is Presto's plain varchar literal spelling
          // (AbstractTestQueries testCoercions) — Spark has no STRING
          // typed-literal form, so only the literal survives
          val end = opaqueEnd(q, k)
          out.append(preserveBackslashes(q.substring(k, end)))
          i = end
        } else if (lower == "json" && k < q.length && q(k) == '\'') {
          // JSON 'txt' VALIDATES and canonicalizes at runtime in the
          // reference (the literal is json_parse applied to the text —
          // JsonOperators; TRY(JSON 'INVALID') is NULL because the parse
          // failure is a runtime error). Outside the recognized CAST
          // positions (rewriteJsonCast consumes the literal directly),
          // lower to json_parse so invalid text raises — and TRY catches
          val end = opaqueEnd(q, k)
          out.append("json_parse(")
            .append(preserveBackslashes(q.substring(k, end))).append(')')
          i = end
        } else if (lower == "uuid" && k < q.length && q(k) == '\'') {
          // UUID 'x' validates + canonicalizes to lowercase text at
          // runtime (UuidOperators castFromVarcharToUuid — the facade
          // narrows UUID to its canonical string; functions/UuidCanon)
          val end = opaqueEnd(q, k)
          out.append("graft_uuid(")
            .append(q.substring(k, end)).append(')')
          i = end
        } else if ((lower == "ipaddress" || lower == "ipprefix") &&
            (k >= q.length || q(k) != '(') && lastWordIs(out, "as")) {
          // bare type token — only in a cast-target position (… AS
          // IPADDRESS): 'ipaddress' is a plausible COLUMN name in log
          // schemas, so positions outside a preceding AS stay verbatim
          out.append("STRING"); i = j
        } else if (numericTypedLiterals.contains(lower) &&
            k < q.length && q(k) == '\'') {
          // Presto numeric typed literals — TINYINT '7', BIGINT '-8',
          // REAL '1.5' (SqlBase.g4 typeConstructor); Spark only has the
          // DATE/TIMESTAMP/INTERVAL forms, so these become CASTs
          val end = opaqueEnd(q, k)
          out.append("CAST(").append(q.substring(k, end))
            .append(" AS ").append(lower.toUpperCase).append(')')
          i = end
        } else if (lower == "localtimestamp" && (k >= q.length || q(k) != '(')) {
          // bare keyword form (SqlBase.g4 primaryExpression
          // localtimestamp); the narrowed model renders the same wall
          // clock as current_timestamp (README "Time zone semantics")
          out.append("current_timestamp"); i = j
        } else if (lower == "interval" && k < q.length && q(k) == '\'' && {
          // Presto normalizes an overflowing month field in YEAR TO
          // MONTH literals (INTERVAL '124-30' YEAR TO MONTH = 126-6,
          // IntervalYearMonthType); Spark's parser requires month < 12,
          // so canonicalize the literal text up front
          val end = opaqueEnd(q, k)
          val lit = q.substring(k + 1, end - 1).trim
          val qual = "(?is)^\\s*year\\s+to\\s+month".r
            .findFirstMatchIn(q.substring(end))
          val ym = "^([+-]?)(\\d+)-(\\d+)$".r.findFirstMatchIn(lit)
          (qual, ym) match {
            case (Some(qm), Some(g)) if g.group(3).toInt > 11 =>
              val total = g.group(2).toLong * 12 + g.group(3).toLong
              out.append("INTERVAL '").append(g.group(1))
                .append(total / 12).append('-').append(total % 12)
                .append("' YEAR TO MONTH")
              i = end + qm.end
              true
            case _ => false
          }
        }) {
          // handled in the guard
        } else if (lower == "timestamp" && k < q.length && q(k) == '\'' && {
          // Presto accepts seconds-less zone-qualified timestamp literals
          // (`TIMESTAMP '2012-10-31 01:00 UTC'`); Spark's parser wants
          // seconds before a zone suffix — splice in ':00'
          val end = opaqueEnd(q, k)
          val lit = q.substring(k + 1, end - 1)
          tsMinutesZone.findFirstMatchIn(lit) match {
            case Some(m) =>
              out.append("TIMESTAMP '").append(m.group(1)).append(":00")
                .append(m.group(2)).append('\'')
              i = end; true
            case None => false
          }
        }) {
          // handled in the guard
        } else if (lower == "at" && parseAtTimeZone(q, k).isDefined) {
          // X AT TIME ZONE 'tz' (SqlBase.g4 valueExpression AT
          // timeZoneSpecifier) → at_timezone(X, 'tz'): same instant,
          // wall-clock re-rendered in tz. The operand is the trailing
          // primary (typed literal, call, or identifier); rarer shapes
          // (a trailing bare INTERVAL unit word) mis-wrap and fail loudly
          // at analysis rather than silently changing meaning.
          val (zoneSql, end) = parseAtTimeZone(q, k).get
          val ins = atTzOperandStart(out)
          out.insert(ins, "at_timezone(")
          out.append(", ").append(zoneSql).append(')')
          i = end
        } else if (lower == "row" && k < q.length && q(k) == '(' &&
            !lastWordIs(out, "as") &&
            parseParenArgs(q, k).exists(_._1.exists(_.trim.nonEmpty))) {
          // ROW(a, b) value constructor (SqlBase.g4 primaryExpression
          // rowConstructor) → named_struct('field0', a, 'field1', b):
          // the reference names anonymous row fields field0, field1, …
          // and its own tests access them (TestRowOperators
          // "row(1, 2).field0"), so the names must be real. Positional
          // CASTs to a named ROW type land identically either way. The
          // AS-guard keeps cast TARGETS (`AS ROW(...)`) out — those
          // translate to struct<…> DDL in rewriteJsonCast.
          val (args, after) = parseParenArgs(q, k).get
          out.append(args.zipWithIndex.map { case (a, ix) =>
            s"'field$ix', ${rewrite(a)}" }
            .mkString("named_struct(", ", ", ")"))
          i = after
        } else if (lower == "apply" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(2) == 0)) {
          // apply(x, f) — the reference's scalar lambda application
          // (ApplyFunction.java; SURVEY §2.2). Spark registry functions
          // cannot take lambdas (ResolveFunctions rejects them before
          // the builder runs — the reduce_agg lesson), so this lowers
          // at translation: the value rides through a 1-element array
          // transform (codegen'd HOF; the array never escapes the
          // expression). try_element_at(…, 1) of a 1-element array is
          // total.
          val (args, after) = parseParenArgs(q, k).get
          out.append(
            s"try_element_at(transform(array(${rewrite(args(0))}), " +
              s"${rewrite(args(1))}), 1)")
          i = after
        } else if (lower == "row_number" && {
          // row_number() OVER (…) with NO window ordering — the
          // reference has a dedicated unordered RowNumberOperator
          // (operator/RowNumberOperator.java, LEP:926: numbers in
          // arrival order, "some arbitrary order" by contract); Spark's
          // analyzer demands an ORDER BY. Order by a constant: every
          // row ties and Spark numbers them in arrival order, exactly
          // the reference's contract. (rank/dense_rank require an
          // ordering in the reference too — untouched.)
          unorderedRowNumberOver(q, k).isDefined
        }) {
          val (specTxt, after) = unorderedRowNumberOver(q, k).get
          out.append("row_number() OVER (")
            .append(rewrite(specTxt)).append(" ORDER BY 'g')")
          i = after
        } else if ((lower == "max_by" || lower == "min_by") &&
            k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(3) == 0)) {
          // N-variant min_by/max_by(x, y, n) (reference: operator/
          // aggregation/minmaxby/ MinMaxByNAggregationFunction — the x
          // values for the n smallest/largest y, ordered by y; NULL
          // keys ignored; empty input → NULL). Spark's builtins are
          // strictly 2-arg, so lower to a sorted struct collection
          // (collect_list skips the NULL-key CASE rows; struct sort is
          // lexicographic by field, key first).
          val (args, after) = parseParenArgs(q, k).get
          val x = rewrite(args(0))
          val y = rewrite(args(1))
          val nn = rewrite(args(2))
          val sorted = s"array_sort(collect_list(CASE WHEN ($y) IS NOT " +
            s"NULL THEN named_struct('k', $y, 'v', $x) END))"
          val dir = if (lower == "max_by") s"reverse($sorted)" else sorted
          out.append(s"CASE WHEN size($dir) > 0 THEN " +
            s"transform(slice($dir, 1, $nn), __g -> __g.v) END")
          i = after
        } else if (lower == "if" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(2) == 0)) {
          // 2-arg IF(c, v) — the reference's short form of IF(c, v,
          // NULL) (docs conditional.rst); Spark's `if` is strictly 3-arg
          val (args, after) = parseParenArgs(q, k).get
          out.append(s"if(${rewrite(args(0))}, ${rewrite(args(1))}, NULL)")
          i = after
        } else if (lower == "count" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.forall(_.trim.isEmpty))) {
          // zero-argument count() — the reference accepts it as count(*)
          // (AggregationFromAnnotationsParser zero-arity CountAggregation;
          // its own corpus spells `select count() from …`); Spark requires
          // the star
          out.append("count(*)")
          i = parseParenArgs(q, k).get._2
        } else if (lower == "grouping" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(2) >= 0)) {
          // multi-argument grouping(c1, …, cn) — the reference returns
          // the bitmask with the FIRST argument most significant
          // (sql/planner/GroupingOperationRewriter.java); Spark's
          // grouping() is strictly 1-arg but grouping_id has exactly
          // that multi-column contract
          val (args, after) = parseParenArgs(q, k).get
          out.append(args.map(rewrite).mkString("grouping_id(", ", ", ")"))
          i = after
        } else if ((lower == "distinct" || lower == "all") &&
            lastWordIs(out, "by") && {
          // GROUP BY [ALL|DISTINCT] GROUPING SETS (…) — Presto's set
          // quantifier on the grouping-element list (SqlBase.g4 groupBy;
          // AbstractTestAggregations testGroupingSetsRepeatedSetsDistinct):
          // ALL (the default) keeps duplicate sets, DISTINCT dedupes
          // them. Spark parses neither quantifier, so ALL drops and
          // DISTINCT dedupes textually (case/space-insensitive). Scoped
          // to the GROUPING SETS form — a bare `GROUP BY ALL` is Spark's
          // own all-non-aggregated-columns shorthand and stays verbatim.
          val (w1, j1) = wordAt(q, k)
          w1.equalsIgnoreCase("grouping") && {
            val k1 = nextNonSpace(q, j1)
            val (w2, j2) = wordAt(q, k1)
            w2.equalsIgnoreCase("sets") && {
              val k2 = nextNonSpace(q, j2)
              k2 < q.length && q(k2) == '(' &&
                parseParenArgs(q, k2).exists { case (sets, after) =>
                  val kept =
                    if (lower == "all") sets
                    else {
                      val seen =
                        collection.mutable.LinkedHashMap[String, String]()
                      sets.foreach { s =>
                        val key = s.toLowerCase.filterNot(_.isWhitespace)
                        if (!seen.contains(key)) seen(key) = s
                      }
                      seen.values.toSeq
                    }
                  out.append(
                    kept.map(rewrite).mkString("GROUPING SETS (", ", ", ")"))
                  i = after
                  true
                }
            }
          }
        }) {
          // handled in the guard
        } else if (lower == "regexp_replace" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(2) == 0)) {
          // 2-arg regexp_replace(s, p) removes matches (reference:
          // JoniRegexpFunctions.java); Spark requires the replacement
          val (args, after) = parseParenArgs(q, k).get
          out.append("regexp_replace(")
            .append(args.map(rewrite).mkString(", ")).append(", '')")
          i = after
        } else if ((lower == "any" || lower == "some" || lower == "all") &&
            k < q.length && q(k) == '(' && trailingComparisonOp(out).isDefined &&
            parseParenArgs(q, k).isDefined) {
          // quantified comparisons (reference: SqlBase.g4
          // quantifiedComparison; docs comparison.rst) — Spark has no
          // ANY/SOME/ALL comparison, so:
          //   = ANY/SOME (q) → IN (q);   <> ALL (q) → NOT IN (q)
          //   </(<=)/>(>=) forms lower to a comparison against the
          //   binding extremum (min for ALL-of-<, max mirrored) WRAPPED
          //   in the reference's three-valued algebra (TestQuantified-
          //   Comparisons): over an EMPTY subquery ALL is TRUE and ANY
          //   is FALSE regardless of the left side; a satisfied-on-
          //   extremum comparison over a set that also holds NULLs is
          //   NULL (unknown witnesses), not the definite answer the
          //   bare min/max would fake. The three scalar subqueries
          //   (extremum, count(*), count(v)) merge into ONE aggregate
          //   pass under MergeScalarSubqueries — PlanSpec ds40 pins
          //   that behavior.
          //   = ALL / <> ANY (round 16) lower through the same
          //   min/max+counts algebra: every row equals x iff min = x =
          //   max over the non-null values — empty → TRUE/FALSE, a
          //   definite unequal witness decides, remaining NULLs (or a
          //   NULL left side) make the answer unknown. The left operand
          //   text is duplicated into the guard (deterministic
          //   expressions only — the corpus shapes; a volatile left
          //   side would mis-evaluate, same narrowing as the extremum
          //   forms).
          val (op, opIdx) = trailingComparisonOp(out).get
          val isAll = lower == "all"
          val (args, after) = parseParenArgs(q, k).get
          val sub = rewrite(args.mkString(", "))
          val alias = s"__graft_q$k"
          val handled = op match {
            case "=" if !isAll =>
              out.delete(opIdx, out.length)
              out.append(s" IN (SELECT * FROM ($sub) AS $alias)")
              true
            case "<>" | "!=" if isAll =>
              out.delete(opIdx, out.length)
              out.append(s" NOT IN (SELECT * FROM ($sub) AS $alias)")
              true
            case "=" | "<>" | "!=" if isAll == (op == "=") =>
              // x = ALL (q)  /  x <> ANY (q)
              leftOperandStart(out, opIdx) match {
                case Some(xStart) =>
                  val xTxt = out.substring(xStart, opIdx).trim
                  val mn = s"(SELECT min(__graft_v) FROM ($sub) AS ${alias}l(__graft_v))"
                  val mx = s"(SELECT max(__graft_v) FROM ($sub) AS ${alias}h(__graft_v))"
                  val cnt = s"(SELECT count(*) FROM ($sub) AS ${alias}c(__graft_v))"
                  val cntv = s"(SELECT count(__graft_v) FROM ($sub) AS ${alias}n(__graft_v))"
                  val eqAll = op == "="
                  val onEmpty = if (eqAll) "TRUE" else "FALSE"
                  val witness =
                    s"($cntv > 0 AND ((($xTxt) <> $mn) OR (($xTxt) <> $mx)))"
                  out.delete(xStart, out.length)
                  out.append(
                    s"(CASE WHEN $cnt = 0 THEN $onEmpty " +
                      s"WHEN ($xTxt) IS NULL THEN CAST(NULL AS BOOLEAN) " +
                      s"WHEN $witness THEN ${if (eqAll) "FALSE" else "TRUE"} " +
                      s"WHEN $cntv < $cnt THEN CAST(NULL AS BOOLEAN) " +
                      s"ELSE $onEmpty END)")
                  true
                case None => false
              }
            case "<" | "<=" | ">" | ">=" =>
              val fn =
                if ((op.startsWith("<")) == isAll) "min" else "max"
              val m = s"(SELECT $fn(__graft_v) FROM ($sub) AS $alias(__graft_v))"
              leftOperandStart(out, opIdx) match {
                case Some(xStart) =>
                  val xTxt = out.substring(xStart, opIdx).trim
                  val cnt =
                    s"(SELECT count(*) FROM ($sub) AS ${alias}c(__graft_v))"
                  val cntv =
                    s"(SELECT count(__graft_v) FROM ($sub) AS ${alias}n(__graft_v))"
                  val t = s"(($xTxt) $op $m)"
                  val nullGuard = s"CASE WHEN $cnt > $cntv THEN " +
                    s"CAST(NULL AS BOOLEAN) ELSE ${if (isAll) "TRUE" else "FALSE"} END"
                  out.delete(xStart, out.length)
                  out.append(
                    if (isAll) s"(($cnt = 0) OR ($t AND $nullGuard))"
                    else s"(($cnt > 0) AND ($t OR $nullGuard))")
                case None =>
                  // operand extent unknown (unbalanced/odd text): keep
                  // the bare-extremum lowering rather than guess
                  out.append(s" $m")
              }
              true
            case _ => false
          }
          if (handled) i = after
          else { out.append(word); i = j }
        } else if ((lower == "cast" || lower == "try_cast") &&
            k < q.length && q(k) == '(') {
          rewriteJsonCast(q, k, isTry = lower == "try_cast") match {
            case Some((repl, after)) => out.append(repl); i = after
            case None                => out.append(word); i = j
          }
        } else if (lower == "decimal" && lastWordIs(out, "as") &&
            (k >= q.length || (q(k) != '(' && q(k) != '\''))) {
          // bare DECIMAL in a cast-target position: the reference's
          // default decimal is decimal(38,0) (its DecimalType default
          // precision; TestTypeOfFunction pins typeof(CAST(NULL AS
          // DECIMAL)) = decimal(38,0)) where Spark's bare DECIMAL means
          // decimal(10,0)
          out.append("DECIMAL(38,0)"); i = j
        } else if (lower == "decimal" && k < q.length && q(k) == '\'') {
          // Presto typed literal DECIMAL 'd.dd' (SqlBase.g4 primaryExpression
          // typeConstructor) → CAST with precision/scale read off the text.
          val end = opaqueEnd(q, k)
          val body = q.substring(k + 1, end - 1).trim
          val digits = body.count(_.isDigit)
          val scale = body.indexOf('.') match {
            case -1 => 0
            case d  => body.length - d - 1
          }
          out.append(s"CAST('$body' AS DECIMAL(${math.max(digits, 1)}, $scale))")
          i = end
        } else if (lower == "trim" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(2) == 0)) {
          // TRIM(s, chars): the reference's 2-arg trim is (string,
          // trim-character-set) (StringFunctions.java trim codepoint-set
          // overload) while Spark's 2-arg builtin takes (trim-set,
          // string) — SWAPPED, silently trimming the wrong operand. The
          // grammar form TRIM(BOTH x FROM y) parses as ONE argument and
          // already agrees, as does 1-arg TRIM(s).
          val (args, after) = parseParenArgs(q, k).get
          out.append(rewrite(s"presto_trim(${args(0)}, ${args(1)})"))
          i = after
        } else if (lower == "double" && {
            var j2 = k
            while (j2 < q.length && q(j2).isWhitespace) j2 += 1
            j2 < q.length && q.regionMatches(true, j2, "precision", 0, 9) &&
              (j2 + 9 >= q.length || !isWordChar(q(j2 + 9)))
          }) {
          // DOUBLE PRECISION — the standard-SQL spelling the reference
          // accepts everywhere DOUBLE is legal (type position and typed
          // literal); Spark only knows DOUBLE. A following quote is the
          // typed-literal form, lowered to a CAST exactly like the
          // numericTypedLiterals branch above.
          var j2 = k
          while (j2 < q.length && q(j2).isWhitespace) j2 += 1
          var h2 = j2 + 9
          while (h2 < q.length && q(h2).isWhitespace) h2 += 1
          if (h2 < q.length && q(h2) == '\'') {
            val end = opaqueEnd(q, h2)
            out.append("CAST(").append(q.substring(h2, end))
              .append(" AS DOUBLE)")
            i = end
          } else {
            out.append("DOUBLE")
            i = j2 + 9
          }
        } else if (lower == "substring" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists { case (args, _) =>
              args.lengthCompare(1) == 0 &&
                splitSubstringFrom(args.head).isDefined }) {
          // SUBSTRING(x FROM a [FOR b]) → presto_substr(x, a[, b]): the
          // comma form goes through the functionAliases pass, but the
          // FROM form must be re-shaped first (a function-name alias
          // would leave the FROM inside the call). presto_substr carries
          // the reference's boundary contract (position 0 / out-of-range
          // negative → '') that Spark's builtin clamps away.
          val (args, after) = parseParenArgs(q, k).get
          val (value, start, lenOpt) = splitSubstringFrom(args.head).get
          val parts = Seq(value, start) ++ lenOpt
          out.append(rewrite(parts.mkString("presto_substr(", ", ", ")")))
          i = after
        } else if (lower == "like" && {
            var j = k
            while (j < q.length && q(j).isWhitespace) j += 1
            j < q.length && q(j) == '\''
          }) {
          // LIKE '<literal>' with NO ESCAPE clause: the reference's LIKE
          // has no default escape character — a backslash in the pattern
          // is an ordinary character (LikeFunctions.java compiles the
          // pattern with only the user-declared escape; TestConditions
          // pins '_monkey_' NOT LIKE '\_monkey\_'). Spark's LIKE treats
          // backslash as an implicit escape, so literal backslashes are
          // doubled here. A user-written ESCAPE clause is honored
          // identically by both engines → pattern left untouched.
          var j = k
          while (j < q.length && q(j).isWhitespace) j += 1
          val end = opaqueEnd(q, j)
          val lit = q.substring(j, end)
          var h = end
          while (h < q.length && q(h).isWhitespace) h += 1
          val hasEscape = q.regionMatches(true, h, "escape", 0, 6) &&
            (h + 6 >= q.length || !isWordChar(q(h + 6)))
          // ESCAPE NULL: the whole predicate is NULL in the reference
          // (LikeFunctions: a null escape null-propagates through the
          // RETURN_NULL_ON_NULL convention; TestConditions pins
          // `'monkey' like 'monkey' escape null` = null). Spark's parser
          // rejects a non-literal escape outright, so replace the
          // already-emitted left operand + the predicate with a typed
          // NULL. A preceding NOT is an operand boundary, stays emitted,
          // and NOT NULL = NULL keeps the negated form correct.
          val nullEscape = hasEscape && {
            var g = h + 6
            while (g < q.length && q(g).isWhitespace) g += 1
            var e2 = g
            while (e2 < q.length && isWordChar(q(e2))) e2 += 1
            q.substring(g, e2).equalsIgnoreCase("null") && {
              // a preceding NOT is part of the predicate too (NOT NULL is
              // NULL, but `x NOT <boolean>` doesn't parse) — scan the
              // operand to the left of it and delete through it
              var endTrim = out.length
              while (endTrim > 0 && out(endTrim - 1).isWhitespace) endTrim -= 1
              val scanLimit =
                if (endTrim >= 3 &&
                    out.substring(endTrim - 3, endTrim).equalsIgnoreCase("not") &&
                    (endTrim == 3 || !isWordChar(out(endTrim - 4))))
                  endTrim - 3
                else out.length
              leftOperandStart(out, scanLimit) match {
                case Some(s) =>
                  out.delete(s, out.length)
                  out.append("CAST(NULL AS BOOLEAN)")
                  i = e2
                  true
                case None => false // unknown extent: stay loud at the parser
              }
            }
          }
          if (!nullEscape) {
          // ESCAPE '' — the reference's explicit "no escape character"
          // spelling (LikeFunctions.java accepts an empty escape);
          // Spark rejects a zero-length escape, so the clause is
          // dropped and the pattern gets the same no-escape doubling
          val emptyEscape = hasEscape && {
            var g = h + 6
            while (g < q.length && q(g).isWhitespace) g += 1
            g < q.length && q(g) == '\'' && opaqueEnd(q, g) == g + 2
          }
          out.append("LIKE ")
          // each source backslash needs FOUR in the emitted text: the
          // parser's C-unescape halves them (this branch bypasses
          // preserveBackslashes) and LIKE's own unescape halves again,
          // leaving the literal backslash the reference's escape-less
          // LIKE sees
          out.append(if (hasEscape && !emptyEscape)
            lit.replace("\\", "\\\\") // parser-level only; ESCAPE kept
            else lit.replace("\\", "\\\\\\\\"))
          i = if (emptyEscape) {
            var g = h + 6
            while (g < q.length && q(g).isWhitespace) g += 1
            g + 2
          } else end
          }
        } else if (lower == "extract" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists { case (args, _) =>
              args.lengthCompare(1) == 0 &&
                ExtractFromRe.findFirstMatchIn(args.head).exists { m =>
                  val field = m.group(1).trim.toLowerCase
                  val op = m.group(2).trim
                  (Set("day", "hour", "minute", "second")(field) &&
                    "(?is)^interval\\s+'[^']*'\\s+(second|minute|hour|day)$"
                      .r.findFirstIn(op).isDefined) ||
                  (Set("year", "month")(field) &&
                    "(?is)^interval\\s+'[^']*'\\s+(month|year)$"
                      .r.findFirstIn(op).isDefined) } }) {
          // EXTRACT over a single-unit interval literal reads the
          // NORMALIZED field (extract(minute FROM INTERVAL '247'
          // SECOND) = 4, TestDateTimeFunctionsBase — the reference
          // normalizes into day-time / year-month form first); Spark
          // refuses a field outside the literal's declared unit, so
          // widen the literal to its full family type
          val (args, after) = parseParenArgs(q, k).get
          val m = ExtractFromRe.findFirstMatchIn(args.head).get
          val field = m.group(1).trim
          val target =
            if (Set("year", "month")(field.toLowerCase))
              "INTERVAL YEAR TO MONTH"
            else "INTERVAL DAY TO SECOND"
          out.append(s"EXTRACT($field FROM CAST(")
            .append(rewrite(m.group(2).trim))
            .append(s" AS $target))")
          i = after
        } else if (lower == "extract" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists { case (args, _) =>
              args.lengthCompare(1) == 0 &&
                ExtractFromRe.findFirstMatchIn(args.head).exists(m =>
                  ZoneSensitiveFns(extractFieldFn(m.group(1))) &&
                    wtzLiteralParts(m.group(2)).isDefined) }) {
          // EXTRACT(field FROM <wtz literal>) ≡ field(<wtz literal>) in
          // the reference — route it through the zone-sensitive literal
          // branch below so both spellings agree on the VALUE's zone
          val (args, after) = parseParenArgs(q, k).get
          val m = ExtractFromRe.findFirstMatchIn(args.head).get
          out.append(rewrite(s"${extractFieldFn(m.group(1))}(${m.group(2)})"))
          i = after
        } else if (ZoneSensitiveFns(lower) && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists { case (args, _) =>
              args.nonEmpty && wtzLiteralParts(args.head).isDefined }) {
          // Zone-sensitive call DIRECTLY over a WITH TIME ZONE literal:
          // the reference evaluates these in the VALUE's zone. The zone
          // is statically known here, so extraction/rendering shifts
          // into it (at_timezone) and timezone_hour/minute resolve to
          // the literal zone's offset at the literal's own instant —
          // closing the extraction half of the TSWTZ narrowing for
          // literals (comparison stays on the instant, README "Time
          // zone semantics").
          val (args, after) = parseParenArgs(q, k).get
          val (kind, dt, zone) = wtzLiteralParts(args.head).get
          if (lower == "timezone_hour" || lower == "timezone_minute") {
            val off = wtzLiteralOffsetSeconds(kind, dt, zone)
            val v = if (lower == "timezone_hour") off / 3600 else (off / 60) % 60
            out.append(s"CAST($v AS BIGINT)")
          } else {
            // re-enter the rewriter on the wrapped call so the outer
            // function still gets its normal dialect treatment
            // (date_format's MySQL tokens, dow/doy aliases, …); the
            // wrapped argument is no longer a bare literal, so this
            // branch cannot re-fire
            val inner = s"at_timezone(${args.head}, '$zone')"
            out.append(rewrite((inner +: args.tail).mkString(s"$lower(", ", ", ")")))
          }
          i = after
        } else if (lower == "time" && k < q.length && q(k) == '\'') {
          // Presto typed literal TIME 'HH:MM[:SS[.fff]]' (SqlBase.g4
          // typeConstructor; presto-common/.../type/TimeType.java).
          // Spark has no TIME type — DOCUMENTED NARROWING: a time-of-day
          // value is carried as a TimestampType anchored on the epoch day
          // (TIME '12:34:56' ≡ TIMESTAMP '1970-01-01 12:34:56'), which
          // preserves comparisons, interval arithmetic (wrap-around
          // surfaces as the next day's time-of-day — format with
          // 'HH:mm:ss' to read it back), and extraction functions.
          //
          // TIME WITH TIME ZONE literals (offset suffix; reference
          // TimeWithTimeZoneType.java + DateTimeEncoding.java) narrow to
          // the epoch-day UTC INSTANT: Spark's timestamp parser applies
          // the offset, so TIME '10:00:00 +05:30' becomes the 04:30 UTC
          // instant — ordering and equality match the reference's
          // UTC-normalized comparison (a -02:00 evening time correctly
          // sorts past midnight into the next epoch day). DOCUMENTED
          // DIVERGENCE: the original offset is not retained, so
          // extraction and rendering speak the session zone, not the
          // literal's zone (the reference keeps the zone alongside the
          // millis). Named-zone TIMESTAMP '.. America/X' literals need
          // no rewrite — Spark parses them to the correct instant under
          // the same session-zone rendering narrowing.
          val end = opaqueEnd(q, k)
          val body = q.substring(k + 1, end - 1).trim
          val TzTime = "(\\d{1,2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?)\\s*([+-]\\d{2}:\\d{2})".r
          val ZoneNameTime =
            ("(\\d{1,2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?)\\s+" +
              "([A-Za-z][A-Za-z0-9_]*(?:/[A-Za-z0-9_+\\-]+)+|UTC|GMT)").r
          body match {
            case _ if body.matches("\\d{1,2}:\\d{2}(:\\d{2}(\\.\\d+)?)?") =>
              out.append(s"TIMESTAMP '1970-01-01 $body'")
              i = end
            case TzTime(timePart, offset) =>
              out.append(s"TIMESTAMP '1970-01-01 $timePart$offset'")
              i = end
            case ZoneNameTime(timePart, zone) =>
              // NAMED-zone TIME literal (TIME '01:02:03.456
              // America/Los_Angeles') — same epoch-day UTC-instant
              // narrowing as the offset form; Spark's timestamp parser
              // resolves the named zone at the epoch date
              out.append(s"TIMESTAMP '1970-01-01 $timePart $zone'")
              i = end
            case _ => out.append(word); i = j
          }
        } else if (lower == "localtime" && (k >= q.length || q(k) != '(')) {
          // Presto's bare localtime keyword (SqlBase.g4 primaryExpression
          // LOCALTIME; DateTimeFunctions.java) → the registered 0-arg
          // function, under the same epoch-day TIME narrowing.
          out.append("localtime()"); i = j
        } else if (lower == "split" && k < q.length && q(k) == '(') {
          out.append("split(")
          stack.prepend(new Frame('p'))
          i = k + 1
        } else if ((lower == "date_add" || lower == "date_diff") &&
            k < q.length && q(k) == '(' &&
            { val m = nextNonSpace(q, k + 1); m < q.length && q(m) == '\'' }) {
          // Presto 3-arg date_add('unit', n, ts) / date_diff('unit', a, b)
          // (reference: DateTimeFunctions.java:428-542) → Spark's native
          // timestampadd/timestampdiff, whose unit is an UNQUOTED
          // identifier. Only fires when the first argument is a quoted
          // literal, so Spark's 2-arg day-based date_add stays untouched.
          val m = nextNonSpace(q, k + 1)
          val end = opaqueEnd(q, m)
          val unit = q.substring(m + 1, end - 1).toUpperCase
          out.append(if (lower == "date_add") "timestampadd(" else "timestampdiff(")
            .append(unit)
          stack.prepend(new Frame('('))
          i = end
        } else if (lower == "array_agg" && k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(pa =>
              findTopLevelOrderBy(pa._1.mkString(", ")).isDefined)) {
          // array_agg(expr ORDER BY k…) (reference: SqlBase.g4 aggregate
          // orderBy clause; ArrayAggregationFunction) — Spark aggregates
          // take no ORDER BY, so sort a (keys…, value) struct array and
          // project the value back out; see rewriteOrderedArrayAgg.
          val (args, after) = parseParenArgs(q, k).get
          rewriteOrderedArrayAgg(args.mkString(", ")) match {
            case Some(repl) => out.append(repl); i = after
            case None       => out.append(word); i = j // unsupported: loud at parser
          }
        } else if (lower == "approx_set" && k < q.length && q(k) == '(') {
          // approx_set(x) (reference: ApproximateSetAggregation.java takes
          // any orderable type) — our HLL aggregate consumes pre-hashed
          // BIGINTs, so the argument is wrapped in a NULL-propagating
          // hash; a bare name alias would CAST strings to NULL and
          // silently drop them, and raw xxhash64 would hash NULL to the
          // seed and count a phantom element
          out.append("approx_set_agg(graft_approx_set_hash(")
          stack.prepend(new Frame('W')) // 'W': emit one extra ')' on close
          i = k + 1
        } else if (lower == "map" && k < q.length && q(k) == '(') {
          // Presto's map constructor is (array(K), array(V)) — reference:
          // operator/scalar/MapConstructor.java — while Spark's map() is
          // variadic key/value pairs. Exactly two top-level arguments is
          // the Presto form → map_from_arrays; any other arity passes
          // through (0-arg empty map agrees between the dialects).
          val twoArg = parseParenArgs(q, k).exists(_._1.lengthCompare(2) == 0)
          out.append(if (twoArg) "map_from_arrays(" else "map(")
          stack.prepend(new Frame('('))
          i = k + 1
        } else if (k < q.length && q(k) == '(' && functionAliases.contains(lower)) {
          out.append(functionAliases(lower)).append('(')
          stack.prepend(new Frame('('))
          i = k + 1
        } else if ((lower == "random" || lower == "rand") &&
            k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(a =>
              a._1.lengthCompare(1) == 0 && a._1.head.nonEmpty)) {
          // Presto's random(n) is a BIGINT in [0, n) (reference:
          // scalar/MathFunctions.java random(n) overloads); Spark's
          // rand(n) reads n as a SEED and returns a double — a silent
          // semantic trap, so the facade rewrites the 1-arg form to the
          // bounded generator. 0-arg random() stays Spark's rand().
          out.append("graft_random_long").append('(')
          stack.prepend(new Frame('('))
          i = k + 1
        } else if (lower == "varbinary" && (k >= q.length || q(k) != '(')) {
          // Presto's VARBINARY type token (SqlBase.g4 baseType) — Spark
          // spells it BINARY; the bare-word guard leaves any
          // identifier-call spelling untouched
          out.append("BINARY"); i = j
        } else if (lower == "varchar" && (k >= q.length || q(k) != '(')) {
          // bare unbounded VARCHAR (Presto-legal) — Spark requires a
          // length, so it maps to STRING; VARCHAR(n) passes through
          out.append("STRING"); i = j
        } else if ((lower == "hyperloglog" || lower == "p4hyperloglog") &&
            (k >= q.length || q(k) != '(') && prevWordIsAs(out)) {
          // sketch type tokens re-type to their Spark state types, so
          // CAST(stored AS HyperLogLog) is the identity re-type of the
          // hyperloglog.rst storage example. Gated on a preceding AS:
          // these are plausible column names outside a cast.
          out.append("BINARY"); i = j
        } else if ((lower == "qdigest" || lower == "tdigest") &&
            prevWordIsAs(out)) {
          // with or without the (double) parameter
          val end = if (k < q.length && q(k) == '(') {
            val close = q.indexOf(')', k)
            if (close == -1) j else close + 1
          } else j
          out.append(
            if (lower == "qdigest") "ARRAY<BIGINT>" else "ARRAY<DOUBLE>")
          i = end
        } else { out.append(word); i = j }
      } else if (c == '[') {
        val ins = operandStart(out)
        out.insert(ins, "element_at(")
        out.append(", ")
        stack.prepend(new Frame('S'))
        i += 1
      } else if (c == ']') {
        if (stack.nonEmpty && (stack.head.kind == 'A' || stack.head.kind == 'S')) {
          stack.removeHead()
          out.append(')')
        } else out.append(c)
        i += 1
      } else if (c == '(') {
        stack.prepend(new Frame('(')); out.append(c); i += 1
      } else if (c == ')') {
        if (stack.nonEmpty && stack.head.kind == 'W') {
          stack.removeHead()
          out.append("))") // close both the wrapped call and the wrapper
        } else {
          if (stack.nonEmpty && (stack.head.kind == '(' || stack.head.kind == 'p'))
            stack.removeHead()
          out.append(c)
        }
        i += 1
      } else if (c == ',') {
        if (stack.nonEmpty) stack.head.args += 1
        out.append(c); i += 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def wordAt(q: String, j0: Int): (String, Int) = {
    var j = j0
    while (j < q.length && isWordChar(q(j))) j += 1
    (q.substring(j0, j), j)
  }

  /** The JSON ends of the CAST surface (reference: docs conversion.rst +
    * the JSON cast operators under presto-main/.../type/): with JSON
    * narrowed to canonical text,
    *
    *   - `CAST(expr AS JSON)` → `graft_to_json(expr)` (a native
    *     expression rendering any supported value as JSON text;
    *     functions/ToJsonText.scala)
    *   - `CAST(<json-source> AS ARRAY(…)/MAP(…)/ROW(…))` →
    *     `from_json(text, '<spark ddl>')` — fired only when the source
    *     is a JSON literal or a json_parse/json_extract call (a plain
    *     VARCHAR→complex cast is invalid in the reference too). KNOWN
    *     DIVERGENCE: from_json yields NULL on malformed input where the
    *     reference CAST raises (TRY_CAST semantics in both dialects).
    *
    * Returns the replacement text and the index past the CAST call, or
    * None for every cast this rewrite does not own. */
  private def rewriteJsonCast(
      q: String, open: Int, isTry: Boolean): Option[(String, Int)] = {
    val (args, after) = parseParenArgs(q, open).getOrElse(return None)
    // CAST has one logical argument, but the generic comma split doesn't
    // know angle-bracket type nesting (MAP<BIGINT, BIGINT> — '<' is also
    // the less-than operator, so the splitter can't track it as depth);
    // rejoin the pieces and split on the rightmost AS ourselves
    val argText = args.mkString(",")
    // rightmost depth-0 AS splits expression from target type
    var asAt = -1
    var i2 = 0
    var depth = 0
    while (i2 < argText.length) {
      val c = argText(i2)
      val e = opaqueEnd(argText, i2)
      if (e > i2) i2 = e
      else if (c == '(' || c == '[') { depth += 1; i2 += 1 }
      else if (c == ')' || c == ']') { depth -= 1; i2 += 1 }
      else if (depth == 0 && (c == 'a' || c == 'A') &&
        (i2 == 0 || !isWordChar(argText(i2 - 1)))) {
        val (w, jw) = wordAt(argText, i2)
        if (w.equalsIgnoreCase("as")) asAt = i2
        i2 = jw
      } else i2 += 1
    }
    if (asAt < 0) return None
    val expr = argText.substring(0, asAt).trim
    val tpe = argText.substring(asAt + 2).trim
    if (tpe.equalsIgnoreCase("json"))
      return Some((s"graft_to_json(${rewrite(expr)})", after))
    // VARCHAR(n): the length is semantic in the reference (truncation
    // for varchar sources, raise-if-too-long for the rest) while Spark
    // erases it at parse time — carry n through the facade marker
    // (plans/PrestoConformance.scala VarcharLengthCastRewrite)
    val varcharN = "(?is)^varchar\\s*\\(\\s*(\\d+)\\s*\\)$".r
    tpe match {
      case varcharN(n) =>
        return Some(
          (s"graft_varchar_n(${rewrite(expr)}, $n, $isTry)", after))
      case _ =>
    }
    // the facade narrows UUID to canonical lowercase text
    // (functions/UuidCanon — accepts varchar AND the reference's
    // varbinary storage form)
    if (tpe.equalsIgnoreCase("uuid"))
      return Some((s"graft_uuid(${rewrite(expr)})", after))
    // IPADDRESS / IPPREFIX narrow to canonical text; the canonicalizers
    // also implement the cross-casts (prefix→network address,
    // address→full-length prefix) by value shape — functions/IpCanon
    if (tpe.equalsIgnoreCase("ipaddress") || tpe.equalsIgnoreCase("ipprefix")) {
      val fn = if (tpe.equalsIgnoreCase("ipaddress")) "graft_ipaddress"
        else "graft_ipprefix"
      val call = s"$fn(${rewrite(expr)})"
      return Some((if (isTry) s"try($call)" else call, after))
    }
    // bare CHAR = char(1): the cast truncates to the first code point
    // (CharacterStringCasts.java truncateToLength; TestCharacterString-
    // Casts pins cast('bar' as char) = 'b') — Spark rejects a bare CHAR
    // token, and CHAR(n) itself stays adjudicated-unpadded
    if (tpe.equalsIgnoreCase("char"))
      return Some((s"substring(${rewrite(expr)}, 1, 1)", after))
    // CAST(interval AS VARCHAR): the reference renders the bare value
    // ('12 10:45:32.123' / '126-6', IntervalDayTimeType/
    // IntervalYearMonthType formatters) where Spark renders the full
    // INTERVAL '...' DAY TO SECOND literal — strip to the quoted body
    if (tpe.equalsIgnoreCase("varchar") &&
        "(?is)^interval\\s".r.findFirstIn(expr).isDefined)
      return Some(
        (s"regexp_extract(CAST(${rewrite(expr)} AS STRING), \"'(.+)'\", 1)",
          after))
    // CAST(TIMESTAMP '…' AS VARCHAR) renders with fixed millisecond
    // precision ('2001-01-22 03:04:05.000' — TimestampType
    // printTimestampWithoutTimeZone); Spark drops trailing zeros.
    // Literal shape only: a COLUMN cast keeps Spark's render (the
    // engine-corpus oracles froze that form).
    if (tpe.equalsIgnoreCase("varchar") &&
        "(?is)^timestamp\\s+'".r.findFirstIn(expr).isDefined)
      return Some(
        (s"date_format(${rewrite(expr)}, 'yyyy-MM-dd HH:mm:ss.SSS')", after))
    // CAST(TIME '…' AS VARCHAR) renders 'HH:mm:ss.SSS' — the facade's
    // TIME narrowing is an epoch-day timestamp (k23), whose plain cast
    // would leak the 1970-01-01 date prefix
    if (tpe.equalsIgnoreCase("varchar") &&
        "(?is)^time\\s+'".r.findFirstIn(expr).isDefined)
      return Some(
        (s"date_format(${rewrite(expr)}, 'HH:mm:ss.SSS')", after))
    // CAST(x AS TIME) parses the text onto the TIME narrowing's epoch
    // day (TimeOperators castFromSlice); Spark has no runtime TIME type
    if (tpe.equalsIgnoreCase("time")) {
      val call =
        s"CAST(CONCAT('1970-01-01 ', ${rewrite(expr)}) AS TIMESTAMP)"
      return Some((if (isTry) s"try($call)" else call, after))
    }
    val el = expr.toLowerCase
    val jsonLit = "(?is)^json\\s*('.*')$".r.findFirstMatchIn(expr)
    // a source that is itself a cast TO JSON (CAST(x AS JSON) — rewritten
    // to graft_to_json below) is a JSON source like a literal is
    val castToJson =
      "(?is)^(?:try_)?cast\\s*\\(.*\\bas\\s+json\\s*\\)$".r.findFirstIn(expr)
    val isJsonSource = jsonLit.isDefined || castToJson.isDefined ||
      el.startsWith("json_parse") || el.startsWith("json_extract")
    def jsonSourceText: String =
      if (jsonLit.isDefined) preserveBackslashes(jsonLit.get.group(1))
      else rewrite(expr)
    // CAST(<json-source> AS <scalar>) applies the reference's JSON
    // token coercions (JsonOperators; functions/JsonScalarValue) —
    // `JSON '128.9'` is 129 as BIGINT, `1.289E2` as VARCHAR. DECIMAL
    // goes through the numeric text + an outer decimal cast (ANSI
    // rounds HALF_UP on scale narrowing like the reference's rescale).
    if (isJsonSource) {
      val scalarKind = tpe.toLowerCase.replaceAll("\\s+", " ") match {
        case "bigint" => Some("bigint")
        case "integer" | "int" => Some("integer")
        case "smallint" => Some("smallint")
        case "tinyint" => Some("tinyint")
        case "double" | "double precision" => Some("double")
        case "real" => Some("real")
        case "boolean" => Some("boolean")
        case "varchar" => Some("varchar")
        case _ => None
      }
      val decimalT = "(?i)^decimal\\s*(\\([^)]*\\))?$".r.findFirstIn(tpe)
      (scalarKind, decimalT) match {
        case (Some(kind), _) =>
          val call = s"graft_json_scalar($jsonSourceText, '$kind')"
          return Some((if (isTry) s"try($call)" else call, after))
        case (_, Some(_)) =>
          val ddlDec = prestoTypeToDdl(tpe).getOrElse("decimal(38,0)")
          val call =
            s"CAST(graft_json_scalar($jsonSourceText, 'decimal') AS $ddlDec)"
          return Some((if (isTry) s"try($call)" else call, after))
        case _ =>
      }
    }
    val ddl = prestoTypeToDdl(tpe).getOrElse(return None)
    if (!tpe.takeWhile(_.isLetter).toLowerCase.matches("array|map|row"))
      return None
    val source =
      if (isJsonSource) jsonSourceText
      else
        // non-JSON source with a recognized complex target: translate the
        // Presto type spelling to Spark DDL and keep it a plain cast
        // (CAST(ROW(…) AS ROW(v1 BIGINT, …)) → CAST(struct(…) AS
        // struct<v1:bigint,…>)
        return Some((s"CAST(${rewrite(expr)} AS $ddl)", after))
    // the JSON `null` token casts to a TYPED NULL for every complex
    // target (JsonToArrayCast.java:90 / JsonToMapCast.java / JsonToRowCast
    // .java all return null on VALUE_NULL) — from_json would instead give
    // an all-null struct for rows. Duplicating `source` in the guard is
    // safe: JSON sources here are literals or deterministic scalar calls.
    def nullTokenGuard(parse: String): String =
      s"if(trim($source) = 'null', CAST(NULL AS $ddl), $parse)"
    // Spark's from_json only accepts STRING map keys (JSON object keys
    // ARE strings): a MAP target with another key type parses with
    // string keys, then an outer CAST restores the declared key type —
    // under ANSI a malformed key raises, like the reference's
    // INVALID_CAST_ARGUMENT
    val fromJson: String => String = { src =>
      "^map<(.*)>$".r.findFirstMatchIn(ddl) match {
        case Some(m) =>
          val inner = m.group(1)
          var d = 0; var cut = -1; var x = 0
          while (x < inner.length && cut < 0) {
            inner(x) match {
              case '<' | '(' => d += 1
              case '>' | ')' => d -= 1
              case ',' if d == 0 => cut = x
              case _ =>
            }
            x += 1
          }
          val (kd, vd) =
            if (cut < 0) ("string", inner)
            else (inner.substring(0, cut), inner.substring(cut + 1))
          if (kd == "string") s"from_json($src, '$ddl')"
          else s"CAST(from_json($src, 'map<string,$vd>') AS $ddl)"
        case None => s"from_json($src, '$ddl')"
      }
    }
    // JSON → ROW accepts BOTH encodings in the reference (conversion.rst):
    // a JSON object maps fields by NAME (from_json), a JSON ARRAY maps
    // POSITIONALLY. from_json alone nulls out the array case, so for
    // all-scalar-field row targets emit a runtime dispatch on the first
    // non-blank character; rows with nested complex fields keep the
    // object-only form (from_json).
    rowScalarFields(tpe) match {
      case Some(fields) =>
        val positional = fields.zipWithIndex.map { case ((name, sparkType), i) =>
          s"'$name', CAST(get_json_object($source, '$$[$i]') AS $sparkType)"
        }.mkString("named_struct(", ", ", ")")
        Some((nullTokenGuard(
          s"if(startswith(ltrim($source), '['), $positional, ${fromJson(source)})"),
          after))
      case None => Some((nullTokenGuard(fromJson(source)), after))
    }
  }

  /** For a ROW(name type, …) text whose field types are all scalar: the
    * (name, spark cast type) pairs; None otherwise. */
  private def rowScalarFields(tpe: String): Option[Seq[(String, String)]] = {
    val t = tpe.trim
    if (!t.toLowerCase.startsWith("row")) return None
    val open = t.indexOf('(')
    if (open < 0 || !t.endsWith(")")) return None
    val fields = parseParenArgs(t.substring(open), 0).map(_._1).getOrElse(return None)
    val pairs = fields.map { f0 =>
      val f = f0.trim
      val sp = f.indexWhere(_.isWhitespace)
      if (sp <= 0) None
      else {
        val tp = f.substring(sp + 1).trim
        // scalar DDL only (no array</map</struct< nesting); parameterized
        // scalars like varchar(20)/decimal(10,2) are fine
        prestoTypeToDdl(tp).filter(!_.contains("<"))
          .map(d => (f.substring(0, sp), d))
      }
    }
    if (pairs.forall(_.isDefined)) Some(pairs.map(_.get)) else None
  }

  /** Presto type text → Spark DDL (the complex-type subset the JSON cast
    * rewrite needs); None for anything unrecognized. */
  private def prestoTypeToDdl(t0: String): Option[String] = {
    // the reference accepts BOTH bracket spellings (ARRAY<BIGINT> and
    // ARRAY(BIGINT) — its TypeSignature parser; TestArrayOperators uses
    // the angle form); inside a type string '<'/'>' can only be brackets,
    // so normalize to parens once and parse one shape
    val t = t0.trim.replace('<', '(').replace('>', ')')
    val lower = t.toLowerCase
    def inner: Option[String] = {
      val open = t.indexOf('(')
      if (open < 0 || !t.endsWith(")")) None
      else Some(t.substring(open + 1, t.length - 1))
    }
    if (lower.startsWith("array")) {
      inner.flatMap(prestoTypeToDdl).map(x => s"array<$x>")
    } else if (lower.startsWith("map")) {
      for {
        body <- inner
        kv <- parseParenArgs("(" + body + ")", 0).map(_._1)
        if kv.lengthCompare(2) == 0
        k <- prestoTypeToDdl(kv.head)
        v <- prestoTypeToDdl(kv(1))
      } yield s"map<$k,$v>"
    } else if (lower.startsWith("row")) {
      for {
        body <- inner
        fields <- parseParenArgs("(" + body + ")", 0).map(_._1)
        parts <- {
          val ps = fields.zipWithIndex.map { case (f0, idx) =>
            val f = f0.trim
            // an ANONYMOUS field is one whose whole text parses as a
            // type (ROW(BIGINT, VARCHAR)); it gets the same positional
            // field0/field1 names the row() constructor uses, so casts
            // between the two line up
            prestoTypeToDdl(f) match {
              case Some(tp) => Some(s"field$idx:$tp")
              case None =>
                val sp = f.indexWhere(_.isWhitespace)
                if (sp <= 0) None
                else prestoTypeToDdl(f.substring(sp + 1))
                  .map(tp => s"${f.substring(0, sp)}:$tp")
            }
          }
          if (ps.forall(_.isDefined)) Some(ps.map(_.get)) else None
        }
      } yield parts.mkString("struct<", ",", ">")
    } else lower.replaceAll("\\s+", "") match {
      case "varchar" | "json" | "char"          => Some("string")
      case v if v.startsWith("varchar(")        => Some("string")
      case "integer" | "int"                    => Some("int")
      case "bigint"                             => Some("bigint")
      case "smallint"                           => Some("smallint")
      case "tinyint"                            => Some("tinyint")
      case "double" | "doubleprecision"         => Some("double")
      case "real"                               => Some("float")
      // UNKNOWN is the reference's null type (only NULL inhabits it);
      // string is the carrier Spark's parser accepts everywhere
      case "unknown"                            => Some("string")
      case "boolean"                            => Some("boolean")
      case "date"                               => Some("date")
      case "timestamp"                          => Some("timestamp")
      case "varbinary"                          => Some("binary")
      // sketch types surface as their Spark state types (COVERAGE §2.4):
      // CAST(x AS HyperLogLog) on a stored varbinary sketch is the
      // identity re-type of docs/functions/hyperloglog.rst's example
      case "hyperloglog" | "p4hyperloglog"      => Some("binary")
      case "qdigest" | "qdigest(double)"        => Some("array<bigint>")
      case "tdigest" | "tdigest(double)"        => Some("array<double>")
      case d if d.startsWith("decimal(") && d.endsWith(")") => Some(d)
      case _                                    => None
    }
  }

  /** Index of a depth-0 `ORDER BY` inside an argument text (literal-,
    * paren-, and bracket-aware), or None. */
  private def findTopLevelOrderBy(text: String): Option[Int] = {
    var i = 0
    var depth = 0
    while (i < text.length) {
      val c = text(i)
      val e = opaqueEnd(text, i)
      if (e > i) i = e
      else if (c == '(' || c == '[') { depth += 1; i += 1 }
      else if (c == ')' || c == ']') { depth -= 1; i += 1 }
      else if (depth == 0 && (c == 'o' || c == 'O') &&
        (i == 0 || !isWordChar(text(i - 1)))) {
        val (w1, j1) = wordAt(text, i)
        if (w1.equalsIgnoreCase("order")) {
          val (w2, _) = wordAt(text, nextNonSpace(text, j1))
          if (w2.equalsIgnoreCase("by")) return Some(i)
        }
        i = j1
      } else i += 1
    }
    None
  }

  /** `array_agg(expr ORDER BY k1 [ASC|DESC][NULLS F/L], …)` → a sorted
    * struct array projected back to the value:
    *
    *   transform(array_sort(array_agg(named_struct('__o0', k1, …,
    *     '__v', expr))), __graft_g -> __graft_g.__v)       [+ reverse()]
    *
    * array_sort orders structs field-by-field, so keys sort first and
    * the value breaks ties deterministically. All keys must share one
    * direction (mixed ASC/DESC returns None → original text fails loudly
    * at Spark's parser). DISTINCT is supported when ordering by the
    * aggregated expression itself (the SQL-standard-compatible case).
    * KNOWN DIVERGENCE: a NULL sort key sorts first ascending / last
    * descending (array_sort compares struct fields nulls-first); the
    * reference defaults NULLS LAST in both directions, so the unqualified
    * ascending rewrite diverges on NULL keys (descending matches).
    */
  private def rewriteOrderedArrayAgg(argText: String): Option[String] = {
    val obIdx = findTopLevelOrderBy(argText).getOrElse(return None)
    var exprPart = argText.substring(0, obIdx).trim
    // "ORDER" + ws + "BY"
    val afterOrder = nextNonSpace(argText, obIdx + 5)
    val sortPart = argText.substring(afterOrder + 2).trim
    var distinct = false
    val dm = "(?is)^distinct\\s+(.*)$".r.findFirstMatchIn(exprPart)
    if (dm.isDefined) { distinct = true; exprPart = dm.get.group(1).trim }
    if (exprPart.isEmpty || sortPart.isEmpty) return None
    val items = parseParenArgs("(" + sortPart + ")", 0).map(_._1).getOrElse(return None)
    var dir: Option[Boolean] = None // Some(true)=desc
    val keys = items.map { item0 =>
      var item = item0.trim
      val nm = "(?is)^(.*?)\\s+nulls\\s+(first|last)$".r.findFirstMatchIn(item)
      val nullsFirst = nm.map(_.group(2).equalsIgnoreCase("first"))
      item = nm.map(_.group(1).trim).getOrElse(item)
      val m = "(?is)^(.*?)\\s+(asc|desc)$".r.findFirstMatchIn(item)
      val thisDesc = m.exists(_.group(2).equalsIgnoreCase("desc")) // absent = ASC
      // array_sort compares struct fields with null-first ordering
      // (measured: a NULL key sorts FIRST ascending, so LAST after
      // reverse() for descending); an explicit qualifier demanding the
      // opposite (NULLS LAST asc / NULLS FIRST desc) cannot be honored →
      // None, so the original text fails loudly at Spark's parser rather
      // than silently sorting NULLs to the wrong end
      nullsFirst.foreach { nf => if (nf == thisDesc) return None }
      val key = m.map(_.group(1).trim).getOrElse(item)
      dir match {
        case None => dir = Some(thisDesc)
        case Some(d) => if (d != thisDesc) return None // mixed directions
      }
      key
    }
    if (keys.exists(_.isEmpty)) return None
    val desc = dir.getOrElse(false)
    def rw(t: String): String = rewrite(t)
    val sorted =
      if (distinct) {
        // only the order-by-self case is well-defined for DISTINCT
        if (keys.map(_.toLowerCase.replaceAll("\\s+", "")) !=
          Seq(exprPart.toLowerCase.replaceAll("\\s+", ""))) return None
        s"array_sort(array_agg(DISTINCT ${rw(exprPart)}))"
      } else {
        val fields = keys.zipWithIndex
          .map { case (kk, ix) => s"'__o$ix', ${rw(kk)}" }
          .mkString("", ", ", s", '__v', ${rw(exprPart)}")
        s"array_sort(array_agg(named_struct($fields)))"
      }
    val ordered = if (desc) s"reverse($sorted)" else sorted
    Some(
      if (distinct) ordered
      else s"transform($ordered, __graft_g -> __graft_g.__v)")
  }

  /** Balanced argument scan from the '(' at `open` over the code
    * between opaque units (a ')' or ',' inside a unit must not
    * mis-split); returns the top-level comma-split argument texts and
    * the index just past the closing ')'. Comments are dropped from the
    * captured argument text (it is re-emitted into generated SQL). */
  private def parseParenArgs(q: String, open: Int): Option[(Seq[String], Int)] = {
    var j = open + 1
    var depth = 1
    var bdepth = 0 // ARRAY[1, 2] subscript/literal brackets nest commas too
    val args = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    while (j < q.length && depth > 0) {
      val c = q(j)
      val e = opaqueEnd(q, j)
      if (e > j) {
        // literals and quoted identifiers are copied verbatim (the main
        // rewrite pass converts double quotes to backticks afterwards);
        // a comment becomes one space, a -- comment taking its newline
        if (!isComment(q, j)) cur.append(q.substring(j, e))
        else cur.append(' ')
        j = if (c == '-') math.min(e + 1, q.length) else e
      }
      else if (c == '(') { depth += 1; cur.append(c); j += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) cur.append(c); j += 1 }
      else if (c == '[') { bdepth += 1; cur.append(c); j += 1 }
      else if (c == ']') { bdepth -= 1; cur.append(c); j += 1 }
      else if (c == ',' && depth == 1 && bdepth == 0) {
        args += cur.toString.trim; cur.clear(); j += 1
      }
      else { cur.append(c); j += 1 }
    }
    if (depth != 0) None
    else { args += cur.toString.trim; Some((args.toSeq, j)) }
  }

  /** SQL-form UNNEST (reference: SqlBase.g4:326 relationPrimary UNNEST;
    * operator/unnest/UnnestOperator.java) → Spark LATERAL VIEW. Handled
    * shapes — all require the alias WITH a column list, the way Presto
    * queries in the wild write it:
    *
    *   `[CROSS JOIN | ,] UNNEST(e…) [WITH ORDINALITY] [AS] t(c…)`
    *   `LEFT [OUTER] JOIN UNNEST(e…) [WITH ORDINALITY] [AS] t(c…) ON TRUE`
    *   `FROM UNNEST(e…) [WITH ORDINALITY] [AS] t(c…)`  (no driving table)
    *
    * A single array (or map — two aliases) without ordinality maps to
    * `explode`; a single argument with MORE than two aliases must be an
    * array of rows and maps to `inline`; multi-argument and WITH
    * ORDINALITY forms build rows explicitly:
    * `inline(transform(slice(sequence(1, greatest(n,1)), 1, n),
    * i -> struct(try_element_at(e1,i), …, CAST(i AS BIGINT))))` —
    * 1-based ordinality, shorter arrays NULL-padded to the longest
    * (arrays_zip semantics), NULL arrays contributing no length (n is
    * greatest over non-NULL sizes; all-NULL yields zero rows), matching
    * the reference's multi-channel unnester.
    *
    * When the UNNEST is followed by FURTHER joins in the same FROM
    * (Spark's grammar puts `LATERAL VIEW` after all join relations, so
    * that spelling can't sit mid-join-chain), the rewrite emits Spark's
    * lateral-subquery form instead: `[LEFT] JOIN LATERAL (SELECT gen AS
    * cols) alias [ON true]` — same semantics, valid anywhere a relation
    * is. Chained UNNESTs keep the LATERAL VIEW spelling (it composes).
    *
    * Every shape routes to the native type-aware
    * [[graft.functions.UnnestGenerator]] — array-vs-map-vs-array-of-row
    * is undecidable in unresolved text, so the generator decides at
    * analysis time exactly like the reference's planner (arrays of rows
    * expand to one column per field, maps to key/value, several
    * arguments zip positionally with NULL padding, ordinality appends a
    * 1-based BIGINT), and the optimizer lowers every shape back into
    * codegen'd built-in expressions (plans/UnnestRewrite.scala). The
    * alias and its column list are both optional; Spark's analyzer
    * arity-checks a provided column list against the resolved output
    * (loud failure on mismatch, matching the reference's analyzer).
    */
  private val unnestAliasStopWords = Set(
    "where", "group", "order", "having", "limit", "offset", "union",
    "intersect", "except", "join", "inner", "left", "right", "full",
    "cross", "on", "lateral", "window", "fetch", "unnest")

  private def rewriteUnnest(q: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < q.length) {
      val c = q(i)
      val e = opaqueEnd(q, i)
      if (e > i) {
        out.append(q.substring(i, e)); i = e
      } else if (c.isLetter || c == '_') {
        val (word, jw) = wordAt(q, i)
        var consumed = -1
        if (word.equalsIgnoreCase("unnest")) {
          val k = nextNonSpace(q, jw)
          if (k < q.length && q(k) == '(')
            consumed = tryRewriteUnnestAt(out, q, k)
        }
        if (consumed >= 0) i = consumed
        else { out.append(word); i = jw }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Attempt one UNNEST rewrite with the argument list opening at `open`.
    * On success mutates `out` — replacing the already-emitted join prefix
    * with a LATERAL VIEW clause — and returns the index just past the
    * consumed source text; returns -1 with `out` untouched on any
    * unsupported shape. */
  private def tryRewriteUnnestAt(out: StringBuilder, q: String, open: Int): Int = {
    val parsedArgs = parseParenArgs(q, open)
    if (parsedArgs.isEmpty) return -1
    val (args, afterArgs) = parsedArgs.get
    if (args.isEmpty || args.exists(_.isEmpty)) return -1
    var j = nextNonSpace(q, afterArgs)
    var ord = false
    val (w1, j1) = wordAt(q, j)
    if (w1.equalsIgnoreCase("with")) {
      val (w2, j2) = wordAt(q, nextNonSpace(q, j1))
      if (!w2.equalsIgnoreCase("ordinality")) return -1
      ord = true
      j = nextNonSpace(q, j2)
    }
    val (wAs, jAs) = wordAt(q, j)
    val hasAs = wAs.equalsIgnoreCase("as")
    if (hasAs) j = nextNonSpace(q, jAs)
    // alias and column list are both optional in Presto (aliasedRelation in
    // SqlBase.g4); a following keyword means "no alias" and we fabricate one
    val (aliasWord, jAlias) = wordAt(q, j)
    val aliasOk = aliasWord.nonEmpty && aliasWord.head.isLetter &&
      (hasAs || !unnestAliasStopWords.contains(aliasWord.toLowerCase))
    if (hasAs && !aliasOk) return -1
    val alias = if (aliasOk) aliasWord else s"__graft_u$open"
    if (aliasOk) j = nextNonSpace(q, jAlias)
    var cols: Seq[String] = Nil
    if (aliasOk && j < q.length && q(j) == '(') {
      parseParenArgs(q, j) match {
        case Some((cs, after))
            if cs.nonEmpty && cs.forall(cn => cn.nonEmpty && cn.forall(isWordChar)) =>
          cols = cs; j = after
        case _ => return -1
      }
    }

    // classify the join prefix already emitted into `out`
    val outStr = out.toString
    var outer = false
    var fromForm = false
    var prefixStart = -1
    "(?i)\\bcross\\s+join\\s*$".r.findFirstMatchIn(outStr) match {
      case Some(m) => prefixStart = m.start
      case None =>
        "(?i)\\bleft\\s+(?:outer\\s+)?join\\s*$".r.findFirstMatchIn(outStr) match {
          case Some(m) =>
            // Presto's outer-unnest spelling requires the ON TRUE tail
            val (wOn, jOn) = wordAt(q, nextNonSpace(q, j))
            if (!wOn.equalsIgnoreCase("on")) return -1
            val (wTrue, jTrue) = wordAt(q, nextNonSpace(q, jOn))
            if (!wTrue.equalsIgnoreCase("true")) return -1
            outer = true; prefixStart = m.start; j = jTrue
          case None =>
            ",\\s*$".r.findFirstMatchIn(outStr) match {
              case Some(m) => prefixStart = m.start
              case None =>
                "(?i)\\bfrom\\s*$".r.findFirstMatchIn(outStr) match {
                  case Some(m) => fromForm = true; prefixStart = m.start
                  case None => return -1
                }
            }
        }
    }

    // Array-vs-map-vs-array-of-row is undecidable in unresolved text, so
    // every shape defers to the type-aware generator; the optimizer
    // lowers it to codegen'd Explode/Inline/zip expressions once types
    // resolve (plans/UnnestRewrite.scala).
    val gen: String =
      s"${if (ord) "graft_unnest_ord" else "graft_unnest"}(${args.mkString(", ")})"

    while (prefixStart > 0 && out.charAt(prefixStart - 1).isWhitespace)
      prefixStart -= 1
    out.delete(prefixStart, out.length)
    if (joinToNonUnnestFollows(q, j)) {
      // mid-join-chain position: LATERAL VIEW can't sit here, the
      // lateral correlated subquery can (generator in its select list,
      // outer references resolve through the lateral scope)
      val sel =
        if (cols.isEmpty) s"SELECT $gen"
        else if (cols.length == 1) s"SELECT $gen AS ${cols.head}"
        else s"SELECT $gen AS (${cols.mkString(", ")})"
      // the FROM-form drives the lateral off a one-row base relation;
      // wrap it so the synthetic __graft_base column never reaches a
      // SELECT * (the reference's standalone UNNEST relation exposes
      // only the unnested columns)
      if (fromForm)
        out.append(s" FROM (SELECT $alias.* FROM (SELECT 1 AS __graft_base)")
      out.append(if (outer) " LEFT JOIN LATERAL (" else " JOIN LATERAL (")
        .append(sel).append(") ").append(alias)
      if (outer) out.append(" ON true")
      if (fromForm) out.append(s") $alias")
      if (cols.isEmpty && j < q.length) out.append(' ')
    } else {
      if (fromForm)
        out.append(s" FROM (SELECT $alias.* FROM (SELECT 1 AS __graft_base)")
      out.append(" LATERAL VIEW ")
      if (outer) out.append("OUTER ")
      out.append(gen).append(' ').append(alias)
      if (cols.nonEmpty) out.append(" AS ").append(cols.mkString(", "))
      if (fromForm) out.append(s") $alias")
      // the no-column-list paths left `j` at the next token with its
      // leading whitespace already skipped — restore the separator
      if (cols.isEmpty && j < q.length) out.append(' ')
    }
    j
  }

  /** True when the text at `j` (just past a consumed UNNEST clause)
    * eventually joins something OTHER than an UNNEST in the same FROM:
    * chained UNNESTs compose fine as stacked LATERAL VIEWs, but a join
    * to a real relation after a lateral view doesn't parse in Spark, so
    * the caller switches to the lateral-subquery form — and because this
    * scan SKIPS over any number of intermediate UNNEST clauses, every
    * unnest in such a chain makes the same choice (JOIN LATERAL chains
    * parse anywhere a relation does). */
  private def joinToNonUnnestFollows(q: String, j0: Int): Boolean = {
    val joinKw = Set("join", "inner", "cross", "left", "right", "full", "outer")
    var k = nextNonSpace(q, j0)
    var guard = 0
    while (guard < 64) {
      guard += 1
      if (k >= q.length) return false
      // one join intro: ',' or a run of join keywords
      if (q(k) == ',') k = nextNonSpace(q, k + 1)
      else {
        var seen = false
        var hops = 0
        var done = false
        while (!done && hops < 4) {
          val (w, kw) = wordAt(q, k)
          if (w.nonEmpty && joinKw.contains(w.toLowerCase)) {
            seen = true; k = nextNonSpace(q, kw); hops += 1
          } else done = true
        }
        if (!seen) return false // WHERE/GROUP/end — no further join
      }
      // the joined relation
      val (w, kw) = wordAt(q, k)
      if (w.isEmpty) return true // '(' subquery / VALUES — a real relation
      if (!w.equalsIgnoreCase("unnest")) return true
      // another UNNEST: skip its whole clause and keep looking
      val open = nextNonSpace(q, kw)
      if (open >= q.length || q(open) != '(') return true
      var p = parseParenArgs(q, open) match {
        case Some((_, after)) => nextNonSpace(q, after)
        case None             => return true
      }
      val (w1, j1) = wordAt(q, p)
      if (w1.equalsIgnoreCase("with")) {
        val (w2, j2) = wordAt(q, nextNonSpace(q, j1))
        if (w2.equalsIgnoreCase("ordinality")) p = nextNonSpace(q, j2)
      }
      val (wAs, jAs) = wordAt(q, p)
      if (wAs.equalsIgnoreCase("as")) p = nextNonSpace(q, jAs)
      val (alias, jA) = wordAt(q, p)
      if (alias.nonEmpty && alias.head.isLetter &&
        !unnestAliasStopWords.contains(alias.toLowerCase)) {
        p = nextNonSpace(q, jA)
        if (p < q.length && q(p) == '(')
          parseParenArgs(q, p).foreach { case (_, after) => p = after }
      }
      // LEFT JOIN UNNEST … ON TRUE tail
      val onAt = nextNonSpace(q, p)
      val (wOn, jOn) = wordAt(q, onAt)
      if (wOn.equalsIgnoreCase("on")) {
        val (wT, jT) = wordAt(q, nextNonSpace(q, jOn))
        if (wT.equalsIgnoreCase("true")) p = jT
      }
      k = nextNonSpace(q, p)
    }
    false
  }

  /** Keywords that terminate an ORDER BY item list at its own depth. */
  private val orderByTerminators = Set(
    "limit", "offset", "fetch", "rows", "range", "groups", "window",
    "union", "intersect", "except")

  /** Append ` NULLS LAST` to every ORDER BY item that has no explicit
    * NULLS clause, matching Presto's unspecified-case default
    * (PlannerUtils.java falls through to *_NULLS_LAST for both ASC and
    * DESC; Spark's bare-ASC default is NULLS FIRST). Works inside window
    * specs and aggregate ORDER BY too — anywhere the keyword pair occurs
    * outside a literal.
    */
  private def injectNullOrdering(q: String): String = {
    // token stream with positions (word tokens + single chars); a literal
    // or quoted identifier is one token, comments are none
    case class Tok(text: String, start: Int, end: Int)
    val toks = mutable.ArrayBuffer.empty[Tok]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      val e = opaqueEnd(q, i)
      if (e > i) {
        if (!isComment(q, i)) toks += Tok(c.toString, i, e)
        i = e
      }
      else if (c.isLetter || c == '_') {
        var j = i
        while (j < q.length && isWordChar(q(j))) j += 1
        toks += Tok(q.substring(i, j).toLowerCase, i, j); i = j
      } else if (!c.isWhitespace) { toks += Tok(c.toString, i, i + 1); i += 1 }
      else i += 1
    }

    // depth BEFORE each token — lets every "order by" occurrence (incl.
    // ones nested inside another ORDER BY's sort item, e.g. a window spec
    // or scalar subquery) be item-scanned independently
    val depthAt = new Array[Int](toks.length + 1)
    for (t <- toks.indices) {
      depthAt(t + 1) = toks(t).text match {
        case "(" => depthAt(t) + 1
        case ")" => depthAt(t) - 1
        case _   => depthAt(t)
      }
    }

    val inserts = mutable.Set.empty[Int] // positions to insert " NULLS LAST"
    for (t <- toks.indices) {
      if (toks(t).text == "order" && t + 1 < toks.length && toks(t + 1).text == "by") {
        val d = depthAt(t)
        var u = t + 2
        var itemLastTok = -1 // index in toks of last token of current item
        var itemHasNulls = false
        def closeItem(): Unit = {
          if (itemLastTok >= 0 && !itemHasNulls) inserts += toks(itemLastTok).end
          itemLastTok = -1; itemHasNulls = false
        }
        var stop = false
        while (u < toks.length && !stop) {
          val tu = toks(u)
          val du = depthAt(u)
          if (tu.text == ")" && du == d) { closeItem(); stop = true } // closes scope
          else if (du == d && tu.text == ",") { closeItem(); u += 1 }
          else if (du == d && orderByTerminators.contains(tu.text)) { closeItem(); stop = true }
          else {
            if (du == d && tu.text == "nulls") itemHasNulls = true
            itemLastTok = u; u += 1
          }
        }
        if (!stop) closeItem() // ran off the end of the query
      }
    }

    if (inserts.isEmpty) q
    else {
      val sb = new StringBuilder(q)
      inserts.toSeq.sorted.reverse.foreach(p => sb.insert(p, " NULLS LAST"))
      sb.toString
    }
  }

  /** Presto `SET SESSION key = value` → Spark `SET key = value`
    * (SqlBase.g4 setSession rule; Spark's SET takes the key directly),
    * `SHOW SESSION` → Spark's bare `SET` (both list the session's
    * properties; SqlBase.g4:125), and `EXPLAIN (TYPE …, FORMAT …)`
    * option lists (SqlBase.g4:105-106) → Spark's spellings: TYPE
    * DISTRIBUTED maps to EXPLAIN FORMATTED (the per-exchange-stage
    * view), TYPE LOGICAL/VALIDATE to EXPLAIN, FORMAT options drop.
    * EXPLAIN ANALYZE never reaches this rewriter: Engine.sql intercepts
    * it and EXECUTES the statement, emitting the executed plan with
    * observed per-operator metrics (graft.plans.ExplainAnalyze — the
    * reference's ExplainAnalyzeOperator semantics; a static plan here
    * would lie). SHOW TABLES/COLUMNS/FUNCTIONS and DESCRIBE parse in
    * both dialects and pass through untouched. Trailing statement
    * terminators are stripped — Presto clients send `;`, Spark's parser
    * rejects it (and the NULLS LAST injector must see the real last
    * token). */
  private def rewriteStatement(q: String): String = {
    val base = q
      // graft session property: ANSI arithmetic-error semantics (the
      // reference always raises on 1/0 and overflow — BigintOperators
      // .java:114,126; Spark's non-ANSI default returns NULL). The
      // property name maps onto Spark's own switch so EXPLAIN/SET output
      // stays inspectable.
      .replaceFirst("(?i)^(\\s*)set\\s+session\\s+ansi_errors\\s*=",
        "$1SET spark.sql.ansi.enabled =")
      .replaceFirst("(?i)^(\\s*)set\\s+session\\s+", "$1SET ")
      .replaceFirst("(?i)^(\\s*)show\\s+session\\s*$", "$1SET")
      .replaceFirst("[;\\s]+$", "")
    val ExplainOpts = "(?is)^(\\s*)explain\\s*\\(([^)]*)\\)\\s*(.*)$".r
    base match {
      case ExplainOpts(lead, opts, rest) =>
        val formatted =
          if ("(?i)type\\s+distributed".r.findFirstIn(opts).isDefined) "FORMATTED "
          else ""
        s"${lead}EXPLAIN $formatted$rest"
      case _ => base
    }
  }

  def translate(query: String): String =
    injectNullOrdering(normalizeZonedValues(rewrite(rewriteUnnest(
      rewriteValuesRows(rewriteEmptyGroupBy(
        rewriteCreateFunction(rewriteStatement(query))))))))

  /** `row_number \s* ( ) \s* OVER \s* ( spec )` where spec carries no
    * ORDER BY: Some((spec text, index after the OVER group)); None for
    * every other shape (ordered specs, named windows, non-window
    * row_number — all left to their existing paths). */
  private def unorderedRowNumberOver(
      q: String, k: Int): Option[(String, Int)] = {
    if (k >= q.length || q(k) != '(') return None
    parseParenArgs(q, k) match {
      case Some((args, afterCall)) if args.forall(_.trim.isEmpty) =>
        var j = afterCall
        while (j < q.length && q(j).isWhitespace) j += 1
        if (!q.regionMatches(true, j, "OVER", 0, 4)) return None
        j += 4
        while (j < q.length && q(j).isWhitespace) j += 1
        if (j >= q.length || q(j) != '(') return None
        parseParenArgs(q, j).flatMap { case (specArgs, afterSpec) =>
          val spec = specArgs.mkString(", ") // commas only inside PARTITION BY lists
          if ("(?is).*\\bORDER\\s+BY\\b.*".r.matches(spec)) None
          else Some((spec, afterSpec))
        }
      case _ => None
    }
  }

  /** `GROUP BY ()` — the standard's empty grouping set, accepted by the
    * reference as a global aggregate (SqlBase.g4 groupingSet allows an
    * empty element); Spark rejects the bare form but accepts the same
    * thing spelled through GROUPING SETS. */
  private val EmptyGroupByRe = "(?i)GROUP\\s+BY\\s*\\(\\s*\\)".r
  private def rewriteEmptyGroupBy(q: String): String =
    mapCode(q)(EmptyGroupByRe.replaceAllIn(_, "GROUP BY GROUPING SETS (())"))

  // ---------------------------------------------------- VALUES row items

  private val ValuesTermRe =
    "(?is)^(ORDER|LIMIT|OFFSET|FETCH|UNION|EXCEPT|INTERSECT)\\b".r
  private val RowCtorRe = "(?is)^ROW\\s*\\(".r
  private val SubqueryHeadRe = "(?is)^(SELECT|WITH|VALUES|TABLE)\\b".r

  /** Presto's VALUES unpacks a ROW-TYPED item into that row's fields as
    * relation columns (reference: sql/analyzer/StatementAnalyzer.java:
    * 1904-1911 — a RowType item contributes its type parameters, one
    * column each): `VALUES ROW(a, b)` is a TWO-column relation, and
    * `(VALUES (ROW(ROW(1,'a',true)))) v(r)` binds r to the INNER row.
    * Spark's VALUES never unpacks, so this pre-pass sheds grouping
    * parens and strips ONE explicit ROW(…) constructor level from each
    * top-level item: `ROW (args…)` → `(args…)`; ROWs any deeper stay
    * structs (the reference unpacks one level too). A row-typed item
    * NOT spelled with the constructor (a bare CAST to a ROW type, a
    * row-typed column reference) stays packed — README divergence
    * matrix. */
  private def rewriteValuesRows(q: String): String = {
    val sb = new StringBuilder
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      val e = opaqueEnd(q, i)
      if (e > i) {
        sb.append(q.substring(i, e)); i = e
      } else if ((c == 'v' || c == 'V') && (i == 0 || !isWordChar(q(i - 1))) &&
          q.regionMatches(true, i, "VALUES", 0, 6) &&
          (i + 6 >= n || !isWordChar(q(i + 6)))) {
        // `x IN (VALUES …)` — the reference accepts a VALUES body as the
        // IN list (SqlBase.g4 inSubquery takes any query); Spark's IN
        // needs a SELECT, so interpose one. The closing wrap paren is
        // the original list's own ')', still appended by the outer loop.
        val tail = sb.reverseIterator.dropWhile(_.isWhitespace).take(8).mkString.reverse
        val inValues = tail.endsWith("(") && {
          val beforeParen = tail.dropRight(1).reverse.dropWhile(_.isWhitespace)
            .takeWhile(isWordChar).reverse.toLowerCase
          beforeParen == "in"
        }
        val mark = sb.length
        if (inValues) sb.append("SELECT * FROM (")
        sb.append(q.substring(i, i + 6)).append(' ')
        i += 6
        // item list: top-level commas split; the list ends at an
        // unbalanced ')' or a set-op/ordering keyword at depth 0
        val items = mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var depth = 0
        var done = false
        while (i < n && !done) {
          val ch = q(i)
          val e = opaqueEnd(q, i)
          if (e > i) {
            cur.append(q.substring(i, e)); i = e
          } else if (ch == '(') { depth += 1; cur.append(ch); i += 1 }
          else if (ch == ')') {
            if (depth == 0) done = true
            else { depth -= 1; cur.append(ch); i += 1 }
          } else if (ch == ',' && depth == 0) {
            items += cur.toString; cur.clear(); i += 1
          } else if (depth == 0 && isWordChar(ch) && !isWordChar(q(i - 1)) &&
              ValuesTermRe.findPrefixMatchOf(q.substring(i)).isDefined) {
            done = true
          } else { cur.append(ch); i += 1 }
        }
        if (cur.toString.trim.nonEmpty || items.nonEmpty) items += cur.toString
        if (!inValues && items.lengthCompare(1) == 0 &&
            items.head.contains("->")) {
          // single-row VALUES holding a lambda: Spark's inline table
          // cannot evaluate lambda expressions (INVALID_INLINE_TABLE
          // CANNOT_EVALUATE_EXPRESSION_IN_INLINE_TABLE) — a one-row
          // SELECT is the same relation, and trailing `t(cols)` aliases
          // bind to a subquery the same way
          val fields = unwrapRowItem(items.head).trim
          val body =
            if (fields.startsWith("(") && fields.endsWith(")") &&
                SubqueryHeadRe.findPrefixMatchOf(
                  fields.substring(1).trim).isEmpty)
              fields.substring(1, fields.length - 1)
            else fields
          sb.delete(mark, sb.length)
          sb.append("SELECT ").append(body).append(' ')
        } else {
          sb.append(items.map(unwrapRowItem).mkString(", ")).append(' ')
          if (inValues) sb.append(')') // close the interposed SELECT*FROM(
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One VALUES item: shed grouping parens wrapping the WHOLE item,
    * then turn a leading ROW constructor into a plain parenthesized
    * row; recurse into argument texts so VALUES nested anywhere inside
    * are processed too. Comments around the item keep their place. */
  private def unwrapRowItem(item0: String): String = {
    val item = item0.trim
    // [codeStart, codeEnd): from the item's first code character (not
    // whitespace, not a comment) to just past its last
    var codeStart = -1
    var codeEnd = 0
    var i = 0
    while (i < item.length) {
      val e = opaqueEnd(item, i)
      val code = if (e == i) !item(i).isWhitespace else !isComment(item, i)
      val next = math.max(e, i + 1)
      if (code) { if (codeStart < 0) codeStart = i; codeEnd = next }
      i = next
    }
    if (codeStart > 0 || codeEnd < item.length) {
      val s = math.max(codeStart, 0)
      item.substring(0, s) + unwrapRowItem(item.substring(s, codeEnd)) +
        item.substring(codeEnd)
    } else if (item.startsWith("(")) {
      parseParenArgs(item, 0) match {
        case Some((args, after)) if after == item.length =>
          if (args.lengthCompare(1) == 0) {
            // grouping parens (or a subquery, which must keep them):
            // Presto's type-level unpack sees through grouping
            if (SubqueryHeadRe.findPrefixMatchOf(args.head.trim).isDefined)
              "(" + rewriteValuesRows(args.head) + ")"
            else unwrapRowItem(args.head)
          } else
            // already an explicit (a, b, …) row item
            "(" + args.map(rewriteValuesRows).mkString(", ") + ")"
        case _ => rewriteValuesRows(item)
      }
    } else RowCtorRe.findPrefixMatchOf(item) match {
      case Some(m) =>
        parseParenArgs(item, m.end - 1) match {
          case Some((args, after)) if after == item.length =>
            "(" + args.map(rewriteValuesRows).mkString(", ") + ")"
          case _ => rewriteValuesRows(item)
        }
      case None => rewriteValuesRows(item)
    }
  }

  // ------------------------------------------------------ TSWTZ post-pass

  private val ZoneCallPrefixRe = "(?is)^(at_timezone|with_timezone)\\s*\\(".r

  /** The whole trimmed string is exactly one at_timezone/with_timezone
    * call → (function name lowercased, its two argument texts). */
  private def wholeZoneCall(s: String): Option[(String, Seq[String])] = {
    val t = s.trim
    ZoneCallPrefixRe.findPrefixMatchOf(t).flatMap { m =>
      parseParenArgs(t, m.end - 1) match {
        case Some((args, after)) if after == t.length && args.lengthCompare(2) == 0 =>
          Some((m.group(1).toLowerCase, args))
        case _ => None
      }
    }
  }

  /** TSWTZ value-semantics post-pass over the REWRITTEN text, where
    * every zone spelling (`AT TIME ZONE`, at_timezone, with_timezone)
    * has been normalized to a function call. The reference packs (millis,
    * zoneKey) per VALUE (presto-common/.../type/DateTimeEncoding.java:
    * 34-41); the narrowed model (README "Time zone semantics") shifts to
    * the value's wall clock at the at_timezone boundary, which gets
    * extraction and rendering right — including dynamic zones from
    * columns — but leaves three spellings where the reference speaks the
    * INSTANT or the VALUE'S ZONE and the bare shift does not:
    *
    *  1. CHAINS: `ts AT TIME ZONE 'A' AT TIME ZONE 'B'` re-zones the
    *     same instant in the reference; a double shift would compound
    *     offsets. at_timezone directly over at_timezone collapses to the
    *     innermost operand + outermost zone.
    *  2. ZONE FIELDS: timezone_hour/timezone_minute of an
    *     at_timezone/with_timezone result report the VALUE's zone offset
    *     at the value's instant (DateTimeFunctions.java timeZoneHourFromTimestampWithTimeZone);
    *     rewritten to the offset computed from the zone argument —
    *     works for literal AND column zones, DST-correct.
    *  3. COMPARISONS: TSWTZ compares on the instant in the reference
    *     (a plain-TIMESTAMP other side coerces via the session zone,
    *     which is the same instant under the narrowing). An at_timezone
    *     call adjacent to =, <>, !=, <, <=, >, >= is stripped to its
    *     instant operand, and so is one standing as a BETWEEN operand
    *     (either side — after BETWEEN or after AND: at_timezone can
    *     never type to boolean, so a call directly after AND can only
    *     be a comparison operand) or as a DIRECT IN-list member (the
    *     list parens tracked by frame; a projection buried in an
    *     `IN (SELECT …)` subquery is not an element and keeps the
    *     narrowed shift). with_timezone results already carry the
    *     correct instant. NOT COVERED (documented): `IN (SELECT
    *     at_timezone(…) …)` projections, ORDER BY and GROUP BY keys
    *     (single-zone ORDER BY
    *     is order-preserving under a constant offset; cross-zone
    *     grouping of identical instants remains split; stripping a
    *     GROUP BY key would have to strip the matching SELECT item too,
    *     which would change the RENDERED value — README).
    */
  private def normalizeZonedValues(q: String): String = {
    // comparison op right before the emitted text, ignoring lambda "->"
    def behindComp(out: StringBuilder): Boolean = {
      var e = out.length
      while (e > 0 && out(e - 1).isWhitespace) e -= 1
      if (e >= 2 && Set("<=", ">=", "<>", "!=").contains(out.substring(e - 2, e)))
        return true
      if (e >= 2 && out.substring(e - 2, e) == "->") return false
      e >= 1 && "=<>".contains(out(e - 1))
    }
    def lastWordOf(out: StringBuilder): String = {
      var e = out.length
      while (e > 0 && out(e - 1).isWhitespace) e -= 1
      var s = e
      while (s > 0 && isWordChar(out(s - 1))) s -= 1
      out.substring(s, e).toLowerCase
    }
    // BETWEEN low AND high compares instants on both operands; a call
    // after a logical AND can only be a comparison operand anyway
    // (at_timezone never types to boolean), so stripping is safe there
    def behindBetween(out: StringBuilder): Boolean = {
      val w = lastWordOf(out)
      w == "between" || w == "and"
    }
    def aheadComp(from: Int): Boolean = {
      val k = nextNonSpace(q, from)
      if (k >= q.length) false
      else if (k + 2 <= q.length &&
        Set("<=", ">=", "<>", "!=").contains(q.substring(k, k + 2))) true
      else if (k + 2 <= q.length && q.substring(k, k + 2) == "->") false
      else "=<>".contains(q(k))
    }
    // `at_timezone(…) BETWEEN / IN / NOT BETWEEN / NOT IN …`
    def aheadMembership(from: Int): Boolean = {
      var k = nextNonSpace(q, from)
      var j = k
      while (j < q.length && isWordChar(q(j))) j += 1
      var w = q.substring(k, j).toLowerCase
      if (w == "not") {
        k = nextNonSpace(q, j); j = k
        while (j < q.length && isWordChar(q(j))) j += 1
        w = q.substring(k, j).toLowerCase
      }
      w == "between" || w == "in"
    }
    // paren frames streamed by THIS loop (a zone call consumes its own
    // parens via parseParenArgs, keeping the stack balanced): the frame
    // remembers whether its '(' directly followed IN, i.e. its direct
    // elements are membership-list members comparing on the instant
    val inListFrame = scala.collection.mutable.Stack[Boolean]()
    def atListElement(out: StringBuilder): Boolean = {
      if (inListFrame.isEmpty || !inListFrame.top) return false
      var e = out.length
      while (e > 0 && out(e - 1).isWhitespace) e -= 1
      e >= 1 && (out(e - 1) == '(' || out(e - 1) == ',')
    }
    val out = new StringBuilder
    var i = 0
    while (i < q.length) {
      val c = q(i)
      val e = opaqueEnd(q, i)
      if (e > i) {
        out.append(q.substring(i, e)); i = e
      } else if (c == '(') {
        inListFrame.push(lastWordOf(out) == "in")
        out.append(c); i += 1
      } else if (c == ')') {
        if (inListFrame.nonEmpty) inListFrame.pop()
        out.append(c); i += 1
      } else if (isWordChar(c) && (i == 0 || !isWordChar(q(i - 1)))) {
        var j = i
        while (j < q.length && isWordChar(q(j))) j += 1
        val word = q.substring(i, j)
        val lower = word.toLowerCase
        val k = nextNonSpace(q, j)
        if ((lower == "at_timezone" || lower == "with_timezone") &&
            k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists(_._1.lengthCompare(2) == 0)) {
          val (args, after) = parseParenArgs(q, k).get
          val a0 = normalizeZonedValues(args.head).trim
          val a1 = normalizeZonedValues(args(1)).trim
          // chain collapse: the inner at_timezone's shift is rendering
          // only — its instant is its own operand
          val operand = wholeZoneCall(a0) match {
            case Some(("at_timezone", inner)) if lower == "at_timezone" =>
              normalizeZonedValues(inner.head).trim
            case _ => a0
          }
          if (lower == "at_timezone" && (behindComp(out) || aheadComp(after) ||
              behindBetween(out) || aheadMembership(after) ||
              atListElement(out)))
            out.append(s"($operand)") // instant comparison / membership
          else
            out.append(s"$lower($operand, $a1)")
          i = after
        } else if ((lower == "timezone_hour" || lower == "timezone_minute") &&
            k < q.length && q(k) == '(' &&
            parseParenArgs(q, k).exists { case (args, _) =>
              args.lengthCompare(1) == 0 &&
                wholeZoneCall(normalizeZonedValues(args.head)).isDefined }) {
          val (args, after) = parseParenArgs(q, k).get
          val (fn, zargs) = wholeZoneCall(normalizeZonedValues(args.head)).get
          val zone = zargs(1).trim
          val inst =
            if (fn == "at_timezone") s"(${zargs.head.trim})"
            else s"to_utc_timestamp(${zargs.head.trim}, $zone)"
          val off =
            s"(to_unix_timestamp(from_utc_timestamp($inst, $zone)) - " +
              s"to_unix_timestamp($inst))"
          out.append(
            if (lower == "timezone_hour") s"CAST($off div 3600 AS BIGINT)"
            else s"CAST(($off div 60) % 60 AS BIGINT)")
          i = after
        } else { out.append(word); i = j }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** SQL-invoked function DDL (reference: presto-parser/.../SqlBase.g4:72-77
    * `createFunction` with `routineCharacteristics` + `routineBody`;
    * SQL-function registration path presto-main/.../metadata/
    * BuiltInTypeAndFunctionNamespaceManager.java:862-867) → Spark's
    * native SQL UDF DDL, which is the same statement family. The shim
    * handles the dialect gaps:
    *   - parameter/return types speak Presto (`varchar`,
    *     `array(double)`) → Spark DDL (`string`, `array<double>`);
    *   - `COMMENT '…'` is dropped (metadata only);
    *   - `RETURNS NULL ON NULL INPUT` has no Spark spelling — the body
    *     is wrapped in `CASE WHEN p IS NULL OR … THEN NULL ELSE (body)
    *     END`, which is the exact semantics; `CALLED ON NULL INPUT`,
    *     `LANGUAGE SQL` and `[NOT] DETERMINISTIC` pass through;
    *   - a qualified name collapses to its last part (Spark temporary
    *     functions are single-part and permanent ones land in the
    *     session catalog's default schema — KNOWN DIVERGENCE from the
    *     reference's mandatory catalog.schema.name addressing).
    * `DROP [TEMPORARY] FUNCTION [IF EXISTS] name[(types)]` likewise
    * collapses the name and drops the overload-disambiguating type list
    * (Spark functions are names, not signatures). The RETURN body is
    * left untouched here — the main rewrite pass translates it like any
    * other expression text.
    */
  private val CreateFunHead =
    "(?is)^(\\s*)create\\s+(or\\s+replace\\s+)?(temporary\\s+)?function\\s+([a-z_][a-z0-9_.]*)\\s*\\(".r
  private val DropFunRe =
    // the optional overload type list may nest parens: (varchar, array(double))
    "(?is)^(\\s*)drop\\s+(temporary\\s+)?function\\s+(if\\s+exists\\s+)?([a-z_][a-z0-9_.]*)\\s*(\\(.*\\))?\\s*$".r

  private def rewriteCreateFunction(q: String): String = {
    DropFunRe.findFirstMatchIn(q).foreach { m =>
      val tmp = if (m.group(2) != null) "TEMPORARY " else ""
      val ifex = if (m.group(3) != null) "IF EXISTS " else ""
      val name = m.group(4).split('.').last
      return s"${m.group(1)}DROP ${tmp}FUNCTION $ifex$name"
    }
    val head = CreateFunHead.findFirstMatchIn(q).getOrElse(return q)
    val orReplace = if (head.group(2) != null) "OR REPLACE " else ""
    val temporary = if (head.group(3) != null) "TEMPORARY " else ""
    val name = head.group(4).split('.').last
    val (rawParams, afterParams) =
      parseParenArgs(q, head.end - 1).getOrElse(return q)
    def toDdl(t: String): String = prestoTypeToDdl(t).getOrElse(
      throw new IllegalArgumentException(
        s"Unsupported type in CREATE FUNCTION: $t"))
    val ParamDecl = "(?is)^([a-z_][a-z0-9_]*)\\s+(.+)$".r
    val params = rawParams.filter(_.nonEmpty).map {
      case ParamDecl(pn, pt) => (pn, toDdl(pt.trim))
      case p => throw new IllegalArgumentException(
        s"Malformed parameter declaration in CREATE FUNCTION: $p")
    }
    val rest = q.substring(afterParams)
    val RetHead = "(?is)^\\s*returns\\s+".r
    val afterRet = RetHead.findFirstMatchIn(rest).getOrElse(return q).end
    // scan the return type: runs to the first top-level keyword that can
    // follow it (COMMENT / LANGUAGE / [NOT] DETERMINISTIC / RETURNS NULL
    // / CALLED / the final RETURN); type text itself may contain parens
    // and commas (map(varchar, array(double)))
    val stops = Set("comment", "language", "deterministic", "not",
      "called", "return", "returns")
    var i = afterRet
    var depth = 0
    var typeEnd = -1
    while (i < rest.length && typeEnd < 0) {
      val c = rest(i)
      if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (depth == 0 && c.isLetter) {
        var j = i
        while (j < rest.length && isWordChar(rest(j))) j += 1
        if (stops(rest.substring(i, j).toLowerCase) && i > afterRet) typeEnd = i
        else i = j
      } else i += 1
    }
    if (typeEnd < 0) typeEnd = rest.length
    val retDdl = toDdl(rest.substring(afterRet, typeEnd).trim)
    // characteristics zone: word-walk to the final top-level RETURN
    var k = typeEnd
    var nullOnNull = false
    val kept = mutable.ArrayBuffer.empty[String]
    var body: String = null
    while (k < rest.length && body == null) {
      val c = rest(k)
      val e = opaqueEnd(rest, k)
      if (e > k) k = e // a COMMENT literal (or any unit) is skipped
      else if (c.isLetter) {
        var j = k
        while (j < rest.length && isWordChar(rest(j))) j += 1
        val w = rest.substring(k, j).toLowerCase
        w match {
          case "return" => body = rest.substring(j)
          case "returns" => nullOnNull = true; k = j // RETURNS NULL ON NULL INPUT
          case "called" => kept += "CALLED ON NULL INPUT"; k = j
          case "language" => kept += "LANGUAGE SQL"; k = j
          case "deterministic" =>
            if (kept.lastOption.contains("NOT")) {
              kept.remove(kept.length - 1); kept += "NOT DETERMINISTIC"
            } else kept += "DETERMINISTIC"
            k = j
          case "not" => kept += "NOT"; k = j
          case "null" | "on" | "input" | "sql" | "comment" => k = j
          case other => throw new IllegalArgumentException(
            s"Unsupported CREATE FUNCTION characteristic: $other")
        }
      } else k += 1
    }
    if (body == null) return q
    val finalBody =
      if (nullOnNull && params.nonEmpty)
        params.map { case (pn, _) => s"$pn IS NULL" }
          .mkString("CASE WHEN ", " OR ", s" THEN NULL ELSE (${body.trim}) END")
      else body.trim
    val paramList = params.map { case (pn, pt) => s"$pn $pt" }.mkString(", ")
    val chars = if (kept.isEmpty) "" else kept.mkString(" ", " ", "")
    s"${head.group(1)}CREATE $orReplace${temporary}FUNCTION $name($paramList) " +
      s"RETURNS $retDdl$chars RETURN $finalBody"
  }

  /** PREPARE / EXECUTE … USING / DEALLOCATE PREPARE (reference:
    * presto-parser/.../SqlBase.g4:131-133 + ExecuteTask positional
    * parameter binding). This is the PURE half — statement
    * classification and `?`-placeholder substitution; the per-session
    * statement STORE lives in [[Engine]]. */
  sealed trait PreparedOp
  final case class PrepareStmt(name: String, body: String) extends PreparedOp
  final case class ExecuteStmt(name: String, params: Seq[String]) extends PreparedOp
  final case class DeallocateStmt(name: String) extends PreparedOp
  final case class DescribeInputStmt(name: String) extends PreparedOp
  final case class DescribeOutputStmt(name: String) extends PreparedOp
  /** SHOW STATS FOR t | SHOW STATS FOR (SELECT …) (reference:
    * sql/show-stats.rst; rewrite in sql/rewrite/ShowStatsRewrite.java).
    * `target` is either a bare table name or the inner query text. */
  final case class ShowStatsStmt(target: String, isQuery: Boolean)
      extends PreparedOp

  /** View DDL (reference grammar SqlBase.g4:64-71 createView/dropView/
    * createMaterializedView/dropMaterializedView/refreshMaterializedView;
    * SHOW CREATE [MATERIALIZED] VIEW at :108-109). Qualified names collapse
    * to the last part (same KNOWN DIVERGENCE as CREATE FUNCTION — Spark
    * temp views are single-part); SECURITY DEFINER/INVOKER and COMMENT are
    * accepted and dropped (no principal/metadata model here). */
  final case class CreateViewStmt(name: String, body: String, orReplace: Boolean)
      extends PreparedOp
  final case class DropViewStmt(name: String, ifExists: Boolean) extends PreparedOp
  final case class ShowCreateViewStmt(name: String) extends PreparedOp

  /** SHOW CREATE TABLE (reference SqlBase.g4:107, rewrite
    * sql/rewrite/ShowQueriesRewrite.java): reconstructs DDL text from
    * the live schema with reference type names. */
  final case class ShowCreateTableStmt(name: String) extends PreparedOp
  final case class CreateMatViewStmt(
      name: String, ifNotExists: Boolean, partitionedBy: Seq[String],
      body: String) extends PreparedOp
  final case class DropMatViewStmt(name: String, ifExists: Boolean)
      extends PreparedOp
  final case class RefreshMatViewStmt(name: String, predicate: String)
      extends PreparedOp
  final case class ShowCreateMatViewStmt(name: String) extends PreparedOp

  /** USE [catalog.]schema (reference SqlBase.g4 `use` rule). The engine
    * has exactly ONE catalog/schema — the registered fixture views — so
    * the recognized spellings ack as no-ops and anything else fails
    * loudly (silently "switching" to a schema that doesn't exist and
    * serving the same tables would be a wrong answer). */
  /** CREATE TYPE name AS ( (field type, …) | baseType ) — the
    * reference's user-defined types (grammar SqlBase.g4:61 #createType,
    * execution/CreateTypeTask.java; presto-common RowType /
    * DistinctType): a named structural ROW type or a distinct alias of
    * an existing type, observed only at CAST sites. `definition` is the
    * raw text after AS, resolved in the Engine. */
  final case class CreateTypeStmt(name: String, definition: String)
      extends PreparedOp
  final case class UseStmt(schema: String) extends PreparedOp

  /** Transaction statements (reference grammar SqlBase.g4
    * startTransaction/commit/rollback; TransactionManager.java).
    * NARROWING: every statement here auto-commits (parquet writes are
    * per-statement atomic swaps), so START TRANSACTION and COMMIT are
    * accepted as no-ops — the contract a single-statement session
    * already has — while ROLLBACK fails LOUDLY: pretending to undo
    * committed writes would be a silent wrong answer. */
  final case class StartTransactionStmt() extends PreparedOp
  final case class CommitStmt() extends PreparedOp
  final case class RollbackStmt() extends PreparedOp

  /** ANALYZE table [WITH (props)] (reference: SqlBase.g4:60; docs
    * sql/analyze.rst — collects table+column statistics and persists them;
    * subsequent SHOW STATS serves the stored values). The WITH properties
    * are connector-specific (Hive partitions lists); parquet fixtures are
    * unpartitioned, so properties are accepted and ignored. */
  final case class AnalyzeStmt(table: String) extends PreparedOp

  private val PrepareRe =
    "(?is)^\\s*prepare\\s+([a-z_][a-z0-9_]*)\\s+from\\s+(.+?)[;\\s]*$".r
  private val ExecuteUsingRe =
    "(?is)^\\s*execute\\s+([a-z_][a-z0-9_]*)\\s+using\\s+(.+?)[;\\s]*$".r
  private val ExecuteRe = "(?is)^\\s*execute\\s+([a-z_][a-z0-9_]*)[;\\s]*$".r
  private val DeallocateRe =
    "(?is)^\\s*deallocate\\s+prepare\\s+([a-z_][a-z0-9_]*)[;\\s]*$".r
  private val DescribeInputRe =
    "(?is)^\\s*describe\\s+input\\s+([a-z_][a-z0-9_]*)[;\\s]*$".r
  private val DescribeOutputRe =
    "(?is)^\\s*describe\\s+output\\s+([a-z_][a-z0-9_]*)[;\\s]*$".r
  private val ShowStatsTableRe =
    "(?is)^\\s*show\\s+stats\\s+for\\s+([a-z_][a-z0-9_.]*)[;\\s]*$".r
  private val ShowStatsQueryRe =
    "(?is)^\\s*show\\s+stats\\s+for\\s*\\((.+)\\)[;\\s]*$".r
  private val CreateViewRe =
    ("(?is)^\\s*create\\s+(or\\s+replace\\s+)?view\\s+([a-z_][\\w.]*)\\s+" +
      "(?:security\\s+(?:definer|invoker)\\s+)?as\\s+(.+?)[;\\s]*$").r
  private val DropViewRe =
    "(?is)^\\s*drop\\s+view\\s+(if\\s+exists\\s+)?([a-z_][\\w.]*)[;\\s]*$".r
  private val ShowCreateTableRe =
    "(?is)^\\s*show\\s+create\\s+table\\s+([a-z_][\\w.]*)[;\\s]*$".r
  private val ShowCreateViewRe =
    "(?is)^\\s*show\\s+create\\s+view\\s+([a-z_][\\w.]*)[;\\s]*$".r
  private val CreateMatViewRe =
    ("(?is)^\\s*create\\s+materialized\\s+view\\s+(if\\s+not\\s+exists\\s+)?" +
      "([a-z_][\\w.]*)\\s*(?:comment\\s+'[^']*'\\s*)?" +
      "(?:with\\s*\\((.*?)\\)\\s*)?as\\s+(.+?)[;\\s]*$").r
  private val DropMatViewRe =
    ("(?is)^\\s*drop\\s+materialized\\s+view\\s+(if\\s+exists\\s+)?" +
      "([a-z_][\\w.]*)[;\\s]*$").r
  private val RefreshMatViewRe =
    ("(?is)^\\s*refresh\\s+materialized\\s+view\\s+([a-z_][\\w.]*)\\s+" +
      "where\\s+(.+?)[;\\s]*$").r
  private val ShowCreateMatViewRe =
    "(?is)^\\s*show\\s+create\\s+materialized\\s+view\\s+([a-z_][\\w.]*)[;\\s]*$".r
  private val CreateTypeRe =
    "(?is)^\\s*create\\s+type\\s+([a-z_][\\w.]*)\\s+as\\s+(.+?)[;\\s]*$".r
  private val UseRe = "(?is)^\\s*use\\s+([a-z_][\\w.]*)[;\\s]*$".r
  private val StartTransactionRe =
    "(?is)^\\s*start\\s+transaction(\\s+.+)?[;\\s]*$".r
  private val CommitRe = "(?is)^\\s*commit(\\s+work)?[;\\s]*$".r
  private val RollbackRe = "(?is)^\\s*rollback(\\s+work)?[;\\s]*$".r
  private val AnalyzeRe =
    "(?is)^\\s*analyze\\s+([a-z_][\\w.]*)\\s*(?:with\\s*\\(.*?\\)\\s*)?[;\\s]*$".r

  /** partitioned_by = ARRAY['c1','c2'] out of a CREATE MATERIALIZED VIEW
    * WITH properties list (reference MV property; other properties are
    * accepted and ignored — storage is always the session parquet dir). */
  private def partitionedByOf(props: String): Seq[String] =
    "(?is)partitioned_by\\s*=\\s*array\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(props)
      .map(_.group(1).split(",").toSeq.map(_.trim.stripPrefix("'").stripSuffix("'"))
        .filter(_.nonEmpty))
      .getOrElse(Nil)

  private def lastPart(name: String): String =
    name.substring(name.lastIndexOf('.') + 1).toLowerCase

  // ----------------------------------------------------- enum value maps

  /** A value-map enum type (reference: presto-common/.../type/
    * BigintEnumType.java `LongEnumMap` / VarcharEnumType.java
    * `VarcharEnumMap`). The reference registers these ONLY through the
    * programmatic `addUserDefinedType` path (presto-tests/.../TestEnums
    * .java:88-93 — no public SQL grammar creates one), so graft defines
    * the natural spelling mirroring the signature:
    *
    *   CREATE TYPE test.enum.mood AS BIGINT ENUM ('HAPPY' = 0, 'SAD' = 1)
    *   CREATE TYPE test.enum.country AS VARCHAR ENUM ('US' = 'United States')
    *
    * Keys normalize to UPPER CASE (TypeUtils.normalizeEnumMap) and must
    * be unique; member access `test.enum.mood.happy` is case-insensitive
    * like the reference's (TestEnums testEnumHashOperators). Values are
    * literals of the base type. An enum VALUE is represented as its
    * underlying bigint/varchar (the reference's runtime representation —
    * AbstractLongType/slice), so comparisons, grouping and casts TO the
    * base type are free; CAST to the enum type checks value membership
    * and raises the reference's "No value 'x' in enum" error
    * (type/EnumCasts.java:44-52), with TRY_CAST null-on-miss. KNOWN
    * NARROWING: enum values are not NOMINALLY typed — casting one enum's
    * value to another enum fails only if the value is not in the target's
    * value set (the reference rejects cross-enum casts and comparisons at
    * analysis time). */
  final case class EnumDef(base: String, entries: Seq[(String, String)]) {
    def valueOf(key: String): Option[String] =
      entries.find(_._1 == key.toUpperCase(java.util.Locale.ROOT)).map(_._2)
    def kindName: String = if (base == "bigint") "BigintEnum" else "VarcharEnum"
    def typed(sql: String): String =
      if (base == "bigint") s"CAST($sql AS BIGINT)" else s"CAST($sql AS STRING)"
  }

  private val EnumDefRe = "(?is)^\\s*(bigint|varchar)\\s+enum\\s*\\((.*)\\)\\s*$".r
  private val EnumEntryRe = "(?is)^\\s*'((?:[^']|'')*)'\\s*=\\s*(.+?)\\s*$".r

  /** Parse a CREATE TYPE definition as an enum value map; None when the
    * definition is a row/distinct shape (the established k32 paths). */
  def parseEnumDef(definition: String): Option[EnumDef] = definition.trim match {
    case EnumDefRe(base, body) =>
      val b = base.toLowerCase
      val entries = splitTopLevel(body).map { e =>
        e.trim match {
          case EnumEntryRe(key, value) =>
            val v = value.trim
            require(
              if (b == "varchar") v.startsWith("'") && v.endsWith("'")
              else v.matches("[+-]?\\d+"),
              s"enum value $v does not match base type $base")
            (key.replace("''", "'").toUpperCase(java.util.Locale.ROOT), v)
          case other => throw new IllegalArgumentException(
            s"malformed enum entry '$other' — expected 'KEY' = <literal>")
        }
      }
      require(entries.map(_._1).distinct.lengthCompare(entries.length) == 0,
        s"duplicate enum key after upper-case normalization in: $definition")
      Some(EnumDef(b, entries))
    case _ => None
  }

  /** Substitute registered enum spellings in a query BEFORE type-alias
    * substitution: member literals `name.KEY` become the underlying
    * value, and `CAST(x AS name)` / `TRY_CAST(x AS name)` become
    * membership-checked expressions. Remaining bare uses of the name
    * (nested type positions like `row(y test.enum.mood)`) are left for
    * the distinct-alias pass, which resolves them to the base type. */
  def substituteEnums(
      sql: String, enums: scala.collection.Map[String, EnumDef]): String = {
    if (enums.isEmpty) return sql
    // 1. member literals, literal-aware, longest name first
    def members(span: String): String =
      enums.toSeq.sortBy(-_._1.length).foldLeft(span) {
        case (acc, (name, ed)) =>
          val re = ("(?iu)(?<![\\w.])" + java.util.regex.Pattern.quote(name) +
            "\\.(?:\"([^\"]+)\"|([\\p{L}\\p{N}_]+))").r
          re.replaceAllIn(acc, m => {
            val key = Option(m.group(1)).getOrElse(m.group(2))
            val v = ed.valueOf(key).getOrElse(throw new IllegalArgumentException(
              s"No key '$key' in enum '$name'"))
            java.util.regex.Matcher.quoteReplacement(
              if (ed.base == "bigint") s"CAST($v AS BIGINT)" else v)
          })
      }
    val afterMembers = {
      // spans run over quoted identifiers: `name."KEY"` is one member
      val out = new StringBuilder
      var i = 0
      var spanStart = 0
      while (i < sql.length) {
        val e = opaqueEnd(sql, i)
        if (e == i) i += 1
        else if (sql(i) == '"' || sql(i) == '`') i = e
        else {
          out.append(members(sql.substring(spanStart, i)))
          out.append(sql.substring(i, e)); i = e; spanStart = e
        }
      }
      out.append(members(sql.substring(spanStart)))
      out.toString
    }
    // 2. CAST sites (paren-aware, innermost-first via recursion)
    rewriteEnumCasts(afterMembers, enums)
  }

  /** Resolve registered user-defined type names (qualified, so they
    * cannot collide with bare column identifiers) to their stored
    * definitions, longest name first so one registered name can never
    * clip another's prefix. Case-insensitive and token-bounded; only
    * code is rewritten, never an opaque unit. Runs after
    * [[substituteEnums]], which leaves an enum name in a nested type
    * position for this pass. */
  def substituteTypes(sql: String, types: scala.collection.Map[String, String]): String =
    if (types.isEmpty) sql
    else mapCode(sql)(span =>
      types.toSeq.sortBy(-_._1.length).foldLeft(span) {
        case (acc, (name, defn)) =>
          acc.replaceAll(
            "(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(name) + "(?![\\w.])",
            java.util.regex.Matcher.quoteReplacement(defn))
      })

  private def rewriteEnumCasts(
      q: String, enums: scala.collection.Map[String, EnumDef]): String = {
    // last top-level " AS " inside a CAST argument → (expr, target type)
    def splitCastArg(arg: String): Option[(String, String)] = {
      var depth = 0
      var i = 0
      var last = -1
      while (i < arg.length) {
        val c = arg(i)
        val e = opaqueEnd(arg, i)
        if (e > i) i = e
        else {
          if (c == '(' || c == '[') depth += 1
          else if (c == ')' || c == ']') depth -= 1
          else if (depth == 0 && (c == 'a' || c == 'A') &&
              i + 1 < arg.length && (arg(i + 1) == 's' || arg(i + 1) == 'S') &&
              (i == 0 || !isWordChar(arg(i - 1))) &&
              (i + 2 >= arg.length || !isWordChar(arg(i + 2))))
            last = i
          i += 1
        }
      }
      if (last <= 0) None
      else Some((arg.substring(0, last).trim, arg.substring(last + 2).trim))
    }
    val out = new StringBuilder
    var i = 0
    while (i < q.length) {
      val c = q(i)
      val e = opaqueEnd(q, i)
      if (e > i) { out.append(q.substring(i, e)); i = e }
      else if (isWordChar(c) && (i == 0 || !isWordChar(q(i - 1)))) {
        var j = i
        while (j < q.length && isWordChar(q(j))) j += 1
        val word = q.substring(i, j)
        val lower = word.toLowerCase
        val k = nextNonSpace(q, j)
        val handled = (lower == "cast" || lower == "try_cast") &&
          k < q.length && q(k) == '(' && {
            parseParenArgs(q, k) match {
              case Some((args, after)) if args.lengthCompare(1) == 0 =>
                val inner = rewriteEnumCasts(args.head, enums)
                splitCastArg(inner) match {
                  case Some((expr, tpe)) if enums.contains(tpe.toLowerCase) =>
                    val ed = enums(tpe.toLowerCase)
                    val typed = ed.typed(s"($expr)")
                    val values = ed.entries.map(_._2).mkString(", ")
                    val nullOut =
                      s"CAST(NULL AS ${if (ed.base == "bigint") "BIGINT" else "STRING"})"
                    val miss =
                      if (lower == "try_cast") nullOut
                      else ed.typed(
                        s"raise_error(concat('No value ''', " +
                          s"CAST(($expr) AS STRING), " +
                          s"''' in enum ''${ed.kindName}'''))")
                    // leading NULL arm: the reference's EnumCasts operators
                    // are RETURN_NULL_ON_NULL — CAST(NULL AS enum) is NULL,
                    // never the miss-branch error
                    out.append(
                      s"CASE WHEN ($expr) IS NULL THEN $nullOut " +
                        s"WHEN $typed IN ($values) THEN $typed ELSE $miss END")
                    i = after
                    true
                  case _ =>
                    out.append(word).append(q.substring(j, k))
                      .append('(').append(inner).append(')')
                    i = after
                    true
                }
              case _ => false
            }
          }
        if (!handled) { out.append(word); i = j }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  def classifyPrepared(q: String): Option[PreparedOp] = q match {
    case PrepareRe(name, body) => Some(PrepareStmt(name.toLowerCase, body))
    case ExecuteUsingRe(name, params) =>
      Some(ExecuteStmt(name.toLowerCase, splitTopLevel(params)))
    case ExecuteRe(name) => Some(ExecuteStmt(name.toLowerCase, Nil))
    case DeallocateRe(name) => Some(DeallocateStmt(name.toLowerCase))
    case DescribeInputRe(name) => Some(DescribeInputStmt(name.toLowerCase))
    case DescribeOutputRe(name) => Some(DescribeOutputStmt(name.toLowerCase))
    case ShowStatsTableRe(t) => Some(ShowStatsStmt(t.toLowerCase, isQuery = false))
    case ShowStatsQueryRe(inner) => Some(ShowStatsStmt(inner, isQuery = true))
    case CreateMatViewRe(ine, name, props, body) =>
      Some(CreateMatViewStmt(lastPart(name), ine != null,
        partitionedByOf(if (props == null) "" else props), body))
    case DropMatViewRe(ifex, name) =>
      Some(DropMatViewStmt(lastPart(name), ifex != null))
    case RefreshMatViewRe(name, pred) =>
      Some(RefreshMatViewStmt(lastPart(name), pred))
    case ShowCreateMatViewRe(name) => Some(ShowCreateMatViewStmt(lastPart(name)))
    case AnalyzeRe(name) => Some(AnalyzeStmt(lastPart(name)))
    case CreateTypeRe(name, definition) =>
      Some(CreateTypeStmt(name.toLowerCase, definition))
    case UseRe(name) => Some(UseStmt(name.toLowerCase))
    case StartTransactionRe(_) => Some(StartTransactionStmt())
    case CommitRe(_) => Some(CommitStmt())
    case RollbackRe(_) => Some(RollbackStmt())
    case CreateViewRe(orRepl, name, body) =>
      Some(CreateViewStmt(lastPart(name), body, orRepl != null))
    case DropViewRe(ifex, name) => Some(DropViewStmt(lastPart(name), ifex != null))
    case ShowCreateViewRe(name) => Some(ShowCreateViewStmt(lastPart(name)))
    case ShowCreateTableRe(name) => Some(ShowCreateTableStmt(lastPart(name)))
    case _ => None
  }

  /** Count of positional `?` placeholders in code (outside every opaque
    * unit) — DESCRIBE INPUT's row count and EXECUTE's expected arity. */
  def countParams(sql: String): Int = {
    var n = 0
    mapCode(sql) { span => n += span.count(_ == '?'); span }
    n
  }

  /** Top-level comma split of an EXECUTE … USING parameter list —
    * literal-aware and paren/bracket-balanced so `array[1, 2]` or
    * `('a', 'b')` stays one parameter. */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      val e = opaqueEnd(s, i)
      if (e > i) { cur.append(s.substring(i, e)); i = e }
      else if (c == '(' || c == '[') { depth += 1; cur.append(c); i += 1 }
      else if (c == ')' || c == ']') { depth -= 1; cur.append(c); i += 1 }
      else if (c == ',' && depth == 0) { parts += cur.toString.trim; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    parts += cur.toString.trim
    parts.toSeq.filter(_.nonEmpty)
  }

  /** Substitute each positional `?` placeholder (in code, as counted by
    * [[countParams]]) with the matching USING parameter, parenthesized
    * so an expression parameter keeps its precedence. Arity mismatches
    * fail loudly like the reference's ExecuteTask. */
  def substituteParams(sql: String, params: Seq[String]): String = {
    var p = 0
    val out = mapCode(sql)(_.flatMap {
      case '?' =>
        if (p >= params.length)
          throw new IllegalArgumentException(
            s"Incorrect number of parameters: statement has more than ${params.length} placeholders")
        p += 1
        s"(${params(p - 1)})"
      case c => c.toString
    })
    if (p != params.length)
      throw new IllegalArgumentException(
        s"Incorrect number of parameters: expected $p, found ${params.length}")
    out
  }
}
