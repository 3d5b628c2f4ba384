package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `CAST(x AS JSON)` (reference: presto-main/.../type/...JsonCast
  * operators; docs conversion.rst) — renders any supported value as its
  * canonical JSON text, our narrowed JSON representation. SQL NULL stays
  * SQL NULL (the reference's documented standalone-NULL behavior);
  * NULLs INSIDE containers render as JSON null, exactly like the
  * reference's examples (`CAST(ARRAY[1, NULL, 456] AS JSON)` →
  * `[1,null,456]`). The dialect rewrites the CAST spelling to this
  * expression (`Dialect` cast branch).
  */
case class ToJsonText(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(render(v, child.dataType))

  private def render(v: Any, dt: DataType): String =
    if (v == null) "null"
    else dt match {
      case StringType => quote(v.toString)
      case BooleanType | ByteType | ShortType | IntegerType | LongType =>
        v.toString
      case FloatType =>
        // the float's own shortest decimal form (the reference renders
        // REAL 3.14 as 3.14, not the widened double 3.140000104904175)
        val f = v.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) quote(f.toString) else f.toString
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
      case _: DecimalType => v.toString
      case DateType =>
        quote(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
      case TimestampType | TimestampNTZType =>
        quote(java.time.Instant.ofEpochSecond(0, v.asInstanceOf[Long] * 1000L)
          .atZone(graft.Engine.currentZone).toLocalDateTime
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")))
      case ArrayType(et, _) =>
        val arr = v.asInstanceOf[ArrayData]
        (0 until arr.numElements()).map(i =>
          if (arr.isNullAt(i)) "null" else render(arr.get(i, et), et))
          .mkString("[", ",", "]")
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val keys = m.keyArray(); val values = m.valueArray()
        val entries = (0 until m.numElements()).map { i =>
          // keys render through the TYPED renderer, then coerce to a
          // JSON string (dates/timestamps must not leak internal ints)
          val rawKey = keys.get(i, kt)
          // the UNQUOTED, UNESCAPED key string — the sort key below; a
          // string key sorts on its own characters (quote/backslash
          // included), not on the JSON-escaped form
          val raw = kt match {
            case StringType => rawKey.toString
            case _ =>
              val r = render(rawKey, kt)
              if (r.startsWith("\"")) r.substring(1, r.length - 1) else r
          }
          val k = quote(raw)
          val value =
            if (values.isNullAt(i)) "null" else render(values.get(i, vt), vt)
          (raw, s"$k:$value")
        }
        // the reference renders map entries ordered by the RENDERED KEY
        // STRING — JsonUtil.MapJsonGeneratorWriter:597 collects entries
        // into a TreeMap<String> keyed on ObjectKeyProvider.getObjectKey,
        // so numeric keys sort LEXICOGRAPHICALLY too: MAP(ARRAY[2,10],…)
        // renders {"10":…,"2":…}. The sort key is the raw (unquoted,
        // unescaped) string, matching the TreeMap's key for strings
        // containing quote/backslash characters.
        entries.sortBy(_._1).map(_._2).mkString("{", ",", "}")
      case st: StructType =>
        // the reference's default row→JSON cast renders POSITIONALLY as a
        // JSON array (json.rst: CAST(ROW(123,'abc',true) AS ...) AS JSON
        // = '[123,"abc",true]'; field names only appear under the
        // non-default field_names_in_json_cast session property)
        val row = v.asInstanceOf[InternalRow]
        st.fields.zipWithIndex.map { case (f, i) =>
          if (row.isNullAt(i)) "null" else render(row.get(i, f.dataType), f.dataType)
        }.mkString("[", ",", "]")
      case other =>
        throw new IllegalArgumentException(
          s"Cannot cast ${other.catalogString} to JSON")
    }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_to_json"
}

object ToJsonText {
  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.native("graft_to_json", 1)(a => ToJsonText(a.head)))
}
