package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF join: for every left row, the single latest right row with
  * `rightTs <= leftTs` on the same key (the time-series point-in-time
  * lookup; "backward" direction). Neither Spark nor the sensql reference
  * has the operator — this is one of the brief's named custom-operator
  * extensions — so it is built Spark-first from relational pieces instead
  * of a custom SparkPlan:
  *
  *   union the two tagged inputs → ONE hash shuffle on the key →
  *   per-key time sort → `last(right_payload, ignoreNulls)` running
  *   window → keep left rows.
  *
  * Cost is one exchange + per-partition sort over |L|+|R| rows — the same
  * shape as a sort-merge join, no row-at-a-time lookups, no broadcast of
  * either side, so it holds at 100 TB (skewed keys split by AQE like any
  * shuffle). A right row sorts BEFORE a left row at the same timestamp,
  * making the match inclusive (<=), which is DuckDB's ASOF JOIN contract
  * too — the oracle for j09.
  */
object AsOfJoin {

  /** Left rows + `asof_<payload columns>` of the matched right row
    * (nulls when no right row precedes). `on` must be present in both. */
  def asOf(
      left: DataFrame, right: DataFrame, on: Seq[String],
      leftTs: String, rightTs: String, rightPayload: Seq[String]): DataFrame = {
    val keyCols = on.map(col)
    val l = left.withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__r", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightPayload.map(col): _*).schema.fields)))
    // Join-equality semantics: a NULL key never matches. Window
    // partitioning would otherwise group NULL-key rows of both sides
    // together, so NULL-key right rows are dropped up front (NULL-key
    // left rows then see an empty partition and yield NULL payloads,
    // exactly like an outer join / DuckDB's ASOF LEFT JOIN).
    val r = right
      .filter(on.map(col(_).isNotNull).reduce(_ && _))
      .select(
        (on.map(col) :+
          col(rightTs).as("__ts") :+
          lit(0).as("__side") :+
          struct(rightPayload.map(col): _*).as("__r")): _*)
    // align schemas: right rows carry null for every left payload column
    val leftCols = l.columns.filterNot(r.columns.contains)
    val rAligned = leftCols.foldLeft(r)((df, c) =>
      df.withColumn(c, lit(null).cast(l.schema(c).dataType)))
      .select(l.columns.toIndexedSeq.map(col): _*)

    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(rAligned)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)

    val payloadOut = rightPayload.map(c =>
      col("__match").getField(c).as(s"asof_$c"))
    matched.select(left.columns.toIndexedSeq.map(col) ++ payloadOut: _*)
  }
}
