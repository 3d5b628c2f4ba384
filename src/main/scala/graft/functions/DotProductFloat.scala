package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, ShortType}

/** Native Catalyst expression: dot product of two float or smallint
  * arrays, accumulated in double. The codegen path emits a tight
  * primitive loop inside whole-stage codegen — no intermediate zipped
  * array, no lambda dispatch — which is the "custom Expression beats
  * UDF" tier of the extension preference order (SURVEY §intro; the
  * reference compiles the equivalent per-row loops from annotated Java
  * via presto-main/.../sql/gen/ExpressionCompiler.java).
  *
  * array<smallint> is accepted (either side, independently) because
  * integer-count embeddings fit shorts EXACTLY: a count c ≤ 32767 has
  * the same double value whether read back from a short or a float, so
  * shipping the half-width form through a shuffle changes no result
  * bits while halving the bytes (the round-12 d07 verify-join
  * compaction rides on this).
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(ShortType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float> or array<smallint> on both sides, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isShort(e: Expression): Boolean = e.dataType match {
    case ArrayType(ShortType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (sa, sb) = (isShort(left), isShort(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (sa) a.getShort(i).toDouble else a.getFloat(i).toDouble
      val y = if (sb) b.getShort(i).toDouble else b.getFloat(i).toDouble
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val getA = if (isShort(left)) "getShort" else "getFloat"
      val getB = if (isShort(right)) "getShort" else "getFloat"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.$getA($i) * (double) $b.$getB($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductFloat {
  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.native("graft_dot", 2)(a => DotProductFloat(a(0), a(1))))
}
