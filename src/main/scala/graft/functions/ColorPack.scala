package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

/** The reference's color/visualization scalars (reference:
  * presto-main/.../operator/scalar/ColorFunctions.java; docs
  * functions/color.rst):
  *
  *   - COLOR is an integer-backed type: non-negative = 24-bit RGB,
  *     negative = system ANSI color encoded as -(index+1)
  *     (ColorFunctions.java:90-104). Spark has no COLOR type, so the
  *     facade surfaces it as BIGINT — `rgb`/`color` return the same
  *     encoded values the reference's ColorType carries.
  *   - `color('#rgb')` CSS-short parse with nibble replication, or a
  *     named system color (black..white → -1..-8); invalid input errors
  *     (ColorFunctions.java:278-298).
  *   - `color(fraction, low, high)` / `color(x, lo, hi, low, high)`
  *     interpolate in HSB space after clamping to [0,1]
  *     (ColorFunctions.java:236-247) — java.awt.Color's HSB conversions,
  *     the same pure-JVM primitives the reference calls.
  *   - `render(x, color)` wraps the value in ESC[38;5;<ansi>m … ESC[0m
  *     where ansi = 16 + 36r' + 6g' + b' on the 6×6×6 cube for RGB, or
  *     the raw index for system colors (ColorFunctions.java:250-275).
  *     `render(boolean)` is a green ✓ / red ✗.
  *   - `bar(x, width[, low, high])` draws U+2588 blocks, per-character
  *     HSB-interpolated, space-padded to `width`, with a single trailing
  *     reset after the blocks (ColorFunctions.java:196-233).
  *
  * These are presentation scalars (CLI rendering), not hot-path
  * operators, so plain deterministic Scala UDFs under internal names are
  * the right tool; the overload dispatch (color 1/3/5 args, render by
  * argument type, bar 2/4 args) lives in
  * [[graft.plans.PrestoFunctions]].
  */
object ColorPack {

  private val AnsiReset = "\u001b[0m"

  private val SystemColors =
    Seq("black", "red", "green", "yellow", "blue", "magenta", "cyan", "white")

  /** color(varchar): '#rgb' → 24-bit RGB with nibble replication, else a
    * system color name → -(index+1), else error. */
  def parseColor(s: String): Long = {
    if (s != null && s.length == 4 && s.charAt(0) == '#') {
      val digits = s.substring(1).map(Character.digit(_, 16))
      if (digits.forall(_ >= 0)) {
        val Seq(r, g, b) = digits.map(d => (d << 4) | d)
        return rgb(r.toLong, g.toLong, b.toLong)
      }
    }
    val idx = SystemColors.indexOf(if (s == null) null else s.toLowerCase)
    require(idx >= 0, s"Invalid color: '$s'")
    -(idx + 1).toLong
  }

  def rgb(r: Long, g: Long, b: Long): Long = {
    require(r >= 0 && r <= 255, "red must be between 0 and 255")
    require(g >= 0 && g <= 255, "green must be between 0 and 255")
    require(b >= 0 && b <= 255, "blue must be between 0 and 255")
    (r << 16) | (g << 8) | b
  }

  /** color(fraction, low, high): clamp to [0,1], interpolate in HSB. */
  def interpolate(fraction: Double, low: Long, high: Long): Long = {
    require(low >= 0, "lowColor not a valid RGB color")
    require(high >= 0, "highColor not a valid RGB color")
    val f = math.max(0.0, math.min(1.0, fraction)).toFloat
    interpolateUnchecked(f, low, high)
  }

  private def interpolateUnchecked(f: Float, low: Long, high: Long): Long = {
    val lo = java.awt.Color.RGBtoHSB(
      red(low), green(low), blue(low), null)
    val hi = java.awt.Color.RGBtoHSB(
      red(high), green(high), blue(high), null)
    val h = f * (hi(0) - lo(0)) + lo(0)
    val s = f * (hi(1) - lo(1)) + lo(1)
    val v = f * (hi(2) - lo(2)) + lo(2)
    (java.awt.Color.HSBtoRGB(h, s, v) & 0xFFFFFF).toLong
  }

  private def red(c: Long): Int = ((c >>> 16) & 0xff).toInt
  private def green(c: Long): Int = ((c >>> 8) & 0xff).toInt
  private def blue(c: Long): Int = (c & 0xff).toInt

  /** 256-color ANSI index: 6×6×6 cube for RGB values, raw 0-7 index for
    * system colors. */
  def toAnsi(color: Long): Int =
    if (color >= 0)
      16 + (red(color) * 6 / 256) * 36 + (green(color) * 6 / 256) * 6 +
        (blue(color) * 6 / 256)
    else (-color - 1).toInt

  private def escape(color: Long): String = s"\u001b[38;5;${toAnsi(color)}m"

  def render(value: String, color: Long): String =
    escape(color) + value + AnsiReset

  def renderBoolean(b: Boolean): String =
    if (b) render("✓", parseColor("green"))
    else render("✗", parseColor("red"))

  /** bar(x, width, low, high): (x*width) clamped block characters, each
    * interpolated at i/(width-1), one trailing reset, space-padded. */
  def bar(percent: Double, width: Long, low: Long, high: Long): String = {
    val count = math.max(0L, math.min(width, (percent * width).toLong))
    val sb = new StringBuilder
    var i = 0L
    while (i < count) {
      val f = (i * 1.0 / (width - 1)).toFloat
      sb.append(escape(interpolateUnchecked(f, low, high))).append('█')
      i += 1
    }
    sb.append(AnsiReset)
    while (i < width) { sb.append(' '); i += 1 }
    sb.toString
  }

  /** Internal-name UDFs; the public overloaded names are dispatched in
    * PrestoFunctions. Boxed parameters + null guards:
    * reference scalars return NULL on any NULL argument (no @SqlNullable
    * on ColorFunctions.java), where a primitive-typed Scala UDF would
    * throw. */
  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("graft_color_parse",
      udf((s: String) => if (s == null) null else java.lang.Long.valueOf(parseColor(s)))),
    FunctionEntry.udf("graft_color_rgb",
      udf((r: java.lang.Long, g: java.lang.Long, b: java.lang.Long) =>
        if (r == null || g == null || b == null) null
        else java.lang.Long.valueOf(rgb(r, g, b)))),
    FunctionEntry.udf("graft_color_interp",
      udf((f: java.lang.Double, lo: java.lang.Long, hi: java.lang.Long) =>
        if (f == null || lo == null || hi == null) null
        else java.lang.Long.valueOf(interpolate(f, lo, hi)))),
    FunctionEntry.udf("graft_color_render",
      udf((v: String, c: java.lang.Long) =>
        if (v == null || c == null) null else render(v, c))),
    FunctionEntry.udf("graft_color_render_bool",
      udf((b: java.lang.Boolean) => if (b == null) null else renderBoolean(b))),
    FunctionEntry.udf("graft_color_bar",
      udf((p: java.lang.Double, w: java.lang.Long,
       lo: java.lang.Long, hi: java.lang.Long) =>
        if (p == null || w == null || lo == null || hi == null) null
        else bar(p, w, lo, hi))),
  )
}
