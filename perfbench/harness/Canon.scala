package perfbench

import org.apache.spark.sql.Row
import org.json4s._

/** Canonical result cells, so the runner can compare engine rows with
  * oracle rows as strings.
  *
  * `ref` is the reference-corpus protocol of ReferenceQueriesSpec and
  * tools/extract_ref_queries.py: NULL, booleans as 1/0, numbers other
  * than integers as %.6e, dates ISO, timestamps ISO without trailing
  * fractional zeros, arrays as [..], structs as {name:value} sorted by
  * name. `oc` is tools/oracle_compare.py's protocol, which canonicalizes
  * the Python values DuckDB returns: booleans and timestamps as Python
  * prints them, numbers as above.
  */
object Canon {

  private def num(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN) "NaN"
    else String.format(java.util.Locale.ROOT, "%.6e", Double.box(d))

  def ref(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "1" else "0"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: BigDecimal => num(d.toDouble)
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case t: java.sql.Timestamp =>
      val s = t.toString
      if (s.contains(".")) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case seq: scala.collection.Seq[_] => seq.map(ref).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(ref).mkString("[", ",", "]")
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.map(i => names(i) -> ref(r.get(i))).sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case x => x.toString
  }

  private val PyTs = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def pyTs(t: java.time.LocalDateTime): String = {
    val micros = t.getNano / 1000
    PyTs.format(t) + (if (micros == 0) "" else f".$micros%06d")
  }

  def oc(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "True" else "False"
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: BigDecimal => num(d.toDouble)
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case t: java.sql.Timestamp => pyTs(t.toLocalDateTime)
    case t: java.time.Instant =>
      pyTs(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => pyTs(t)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case seq: scala.collection.Seq[_] => seq.map(oc).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(oc).mkString("[", ",", "]")
    case x => x.toString
  }

  /** The check record of one statement: its error, or its column names,
    * row count and (up to `rowCap` rows) canonical cells. */
  def result(id: String, out: Either[Throwable, Array[Row]], protocol: String,
      rowCap: Int): JValue = out match {
    case Left(e) =>
      val msg = String.valueOf(e.getMessage).takeWhile(_ != '\n').take(300)
      JObject("id" -> JString(id), "ok" -> JBool(false),
        "err" -> JString(s"${e.getClass.getSimpleName}: $msg"))
    case Right(rows) =>
      val cell: Any => String = if (protocol == "ref") ref else oc
      val cols = if (rows.isEmpty) Nil else rows.head.schema.fieldNames.toList
      JObject(
        "id" -> JString(id), "ok" -> JBool(true),
        "n_rows" -> JInt(rows.length),
        "n_cols" -> JInt(if (rows.isEmpty) 0 else rows.head.length),
        "cols" -> JArray(cols.map(JString(_))),
        "rows" -> (if (rows.length > rowCap) JNull else JArray(rows.toList.map(r =>
          JArray(r.toSeq.toList.map(c => JString(cell(c))))))))
  }
}
