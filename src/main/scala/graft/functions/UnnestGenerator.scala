package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Type-aware UNNEST generator with the reference's full column-expansion
  * semantics (reference: presto-main/.../operator/unnest/UnnestOperator
  * .java + ArrayUnnester/MapUnnester/ArrayOfRowsUnnester; analyzer column
  * layout: StatementAnalyzer.java visitUnnest):
  *
  *   - `array(T)`      → one column of T
  *   - `array(row(…))` → one column PER ROW FIELD (Presto flattens rows)
  *   - `map(K, V)`     → two columns (key, value)
  *   - several arguments are zipped positionally, shorter ones NULL-padded
  *     to the longest (a NULL argument contributes all-NULL columns; all
  *     arguments NULL/empty → zero rows)
  *   - WITH ORDINALITY appends a 1-based BIGINT ordinality column
  *
  * The pure-text dialect rewrite (`Dialect.rewriteUnnest`) cannot decide
  * array-vs-map-vs-array-of-row from unresolved SQL — `UNNEST(x) AS t(a,b)`
  * is a map if x is `map(K,V)` but a field expansion if x is
  * `array(row(a,b))`. This Generator decides at analysis time from the
  * resolved child types, exactly like the reference's planner. Single-
  * argument no-ordinality calls are rewritten back to Spark's codegen'd
  * built-in generators ([[graft.plans.UnnestGeneratorStrategy]]) so the
  * common shapes stay in whole-stage codegen; the residual multi-argument/
  * ordinality shapes evaluate interpreted, which mirrors the reference's
  * own row-at-a-time unnester.
  *
  * Output field names (used when the SQL alias has no column list): row
  * fields keep their names, maps use key/value, plain arrays use col —
  * deduplicated with positional suffixes across multiple arguments.
  */
case class UnnestGenerator(children: Seq[Expression], withOrdinality: Boolean)
    extends Expression
    with Generator
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.isEmpty)
      return TypeCheckResult.TypeCheckFailure("UNNEST requires at least one argument")
    children.zipWithIndex.collectFirst {
      case (c, i) if !c.dataType.isInstanceOf[ArrayType] &&
        !c.dataType.isInstanceOf[MapType] =>
        TypeCheckResult.TypeCheckFailure(
          s"UNNEST argument ${i + 1} must be an array or map, got " +
            c.dataType.catalogString)
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** Per-argument output column layout: (name, type) pairs before
    * dedup/ordinality. Row fields flatten; maps widen to two columns. */
  private lazy val perChildFields: Seq[Seq[(String, DataType)]] =
    children.map { c =>
      c.dataType match {
        case ArrayType(st: StructType, _) =>
          st.fields.toSeq.map(f => (f.name, f.dataType))
        case ArrayType(et, _) => Seq(("col", et))
        case MapType(kt, vt, _) => Seq(("key", kt), ("value", vt))
        case other => // unresolved/invalid — checkInputDataTypes reports it
          Seq(("col", other))
      }
    }

  override lazy val elementSchema: StructType = {
    val flat = perChildFields.flatten
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    val named = flat.zipWithIndex.map { case ((n, dt), i) =>
      val cnt = seen.getOrElse(n, 0)
      seen(n) = cnt + 1
      val name = if (cnt == 0 && flat.count(_._1 == n) == 1) n else s"${n}_$i"
      StructField(name, dt, nullable = true)
    }
    val ord =
      if (withOrdinality) Seq(StructField("ordinality", LongType, nullable = false))
      else Nil
    StructType(named ++ ord)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val vals = children.map(_.eval(input))
    val lengths = children.zip(vals).map {
      case (_, null) => 0
      case (c, v) =>
        c.dataType match {
          case _: ArrayType => v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements()
          case _: MapType => v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData].numElements()
          case _ => 0
        }
    }
    val n = if (lengths.isEmpty) 0 else lengths.max
    if (n == 0) return Nil
    val width = elementSchema.length
    (0 until n).map { i =>
      val buf = new Array[Any](width)
      var k = 0
      children.indices.foreach { ci =>
        val v = vals(ci)
        val inRange = v != null && i < lengths(ci)
        children(ci).dataType match {
          case ArrayType(st: StructType, _) =>
            val arr = if (inRange) v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData] else null
            val row =
              if (arr != null && !arr.isNullAt(i)) arr.getStruct(i, st.length) else null
            st.fields.indices.foreach { j =>
              buf(k) =
                if (row == null || row.isNullAt(j)) null
                else row.get(j, st.fields(j).dataType)
              k += 1
            }
          case ArrayType(et, _) =>
            val arr = if (inRange) v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData] else null
            buf(k) = if (arr == null || arr.isNullAt(i)) null else arr.get(i, et)
            k += 1
          case MapType(kt, vt, _) =>
            val m = if (inRange) v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData] else null
            if (m == null) { buf(k) = null; buf(k + 1) = null }
            else {
              val keys = m.keyArray(); val values = m.valueArray()
              buf(k) = if (keys.isNullAt(i)) null else keys.get(i, kt)
              buf(k + 1) = if (values.isNullAt(i)) null else values.get(i, vt)
            }
            k += 2
          case _ => k += 1
        }
      }
      if (withOrdinality) buf(width - 1) = (i + 1).toLong
      InternalRow.fromSeq(buf.toIndexedSeq)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)

  override def prettyName: String =
    if (withOrdinality) "graft_unnest_ord" else "graft_unnest"
}

/** The positional zip of [[UnnestGenerator]]'s residual shapes
  * (multi-argument, WITH ORDINALITY, maps) as ONE native codegen
  * expression returning the row array `Inline` explodes — r17, the last
  * interpreted hole in the generator path: the previous lowering built
  * the same array with `transform(sequence(...), i -> struct(...))`,
  * a HigherOrderFunction whose per-element lambda evaluates INTERPRETED
  * (CodegenFallback + one lambda dispatch per output row per column).
  * This kernel is the loop itself: children evaluate once (codegen),
  * rows materialize in a single primitive pass.
  *
  * Semantics are [[UnnestGenerator.eval]]'s, element for element
  * (UnnestGeneratorSpec pins the equivalence on adversarial shapes):
  * shorter arguments NULL-pad to the longest, a NULL argument
  * contributes all-NULL columns, all NULL/empty → empty array (zero
  * rows after Inline), maps widen to (key, value), array-of-row fields
  * flatten, ordinality is 1-based BIGINT. */
case class ZipUnnestRows(children: Seq[Expression], withOrdinality: Boolean)
    extends Expression {

  override def checkInputDataTypes(): TypeCheckResult =
    UnnestGenerator(children, withOrdinality).checkInputDataTypes()

  /** Positionally identical to [[UnnestGenerator.elementSchema]] —
    * delegated so the two can never drift. */
  private lazy val schema: StructType =
    UnnestGenerator(children, withOrdinality).elementSchema

  override def dataType: DataType = ArrayType(schema, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "graft_zip_unnest_rows"

  // per-child extraction plan, resolved once: how many output slots and
  // which accessor the loop uses
  private lazy val childTypes: Array[DataType] = children.map(_.dataType).toArray
  private lazy val width = schema.length

  def compute(vals: Array[Any]): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
    val k = vals.length
    val lens = new Array[Int](k)
    var n = 0
    var ci = 0
    while (ci < k) {
      val v = vals(ci)
      if (v != null) {
        val len = childTypes(ci) match {
          case _: MapType => v.asInstanceOf[MapData].numElements()
          case _          => v.asInstanceOf[ArrayData].numElements()
        }
        lens(ci) = len
        if (len > n) n = len
      }
      ci += 1
    }
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      val buf = new Array[Any](width)
      var col = 0
      var c = 0
      while (c < k) {
        val inRange = vals(c) != null && i < lens(c)
        childTypes(c) match {
          case ArrayType(st: StructType, _) =>
            val arr =
              if (inRange) vals(c).asInstanceOf[ArrayData] else null
            val row =
              if (arr != null && !arr.isNullAt(i)) arr.getStruct(i, st.length)
              else null
            var j = 0
            while (j < st.length) {
              buf(col) =
                if (row == null || row.isNullAt(j)) null
                else row.get(j, st.fields(j).dataType)
              col += 1
              j += 1
            }
          case ArrayType(et, _) =>
            val arr =
              if (inRange) vals(c).asInstanceOf[ArrayData] else null
            buf(col) =
              if (arr == null || arr.isNullAt(i)) null else arr.get(i, et)
            col += 1
          case MapType(kt, vt, _) =>
            val m = if (inRange) vals(c).asInstanceOf[MapData] else null
            if (m == null) { buf(col) = null; buf(col + 1) = null }
            else {
              val keys = m.keyArray(); val values = m.valueArray()
              buf(col) = if (keys.isNullAt(i)) null else keys.get(i, kt)
              buf(col + 1) =
                if (values.isNullAt(i)) null else values.get(i, vt)
            }
            col += 2
          case _ => col += 1 // unreachable: checkInputDataTypes rejects
        }
        c += 1
      }
      if (withOrdinality) buf(width - 1) = (i + 1).toLong
      rows(i) =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(buf)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def eval(input: InternalRow): Any =
    compute(children.map(_.eval(input)).toArray)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("zipUnnest", this,
      classOf[ZipUnnestRows].getName)
    val vals = ctx.freshName("zipVals")
    val evals = children.zipWithIndex.map { case (c, i) =>
      val g = c.genCode(ctx)
      s"""${g.code}
         |$vals[$i] = ${g.isNull} ? null : (Object) ${g.value};""".stripMargin
    }.mkString("\n")
    ev.copy(
      code = code"""
        |Object[] $vals = new Object[${children.size}];
        |$evals
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  $ref.compute($vals);
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object UnnestGenerator {
  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.native("graft_unnest", 1, FunctionEntry.Variadic)(
      UnnestGenerator(_, withOrdinality = false)),
    FunctionEntry.native("graft_unnest_ord", 1, FunctionEntry.Variadic)(
      UnnestGenerator(_, withOrdinality = true)))
}
