package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** graft_nearest_list(v, flatCentroids, normSq): index of the nearest
  * centroid — argmin over c of ‖c‖² − 2·(centroid_c · v) (‖v‖² is
  * constant per row, so dropping it preserves the argmin) — where the k
  * centroids arrive FLATTENED row-major in one literal float array and
  * their squared norms in a companion double array. This is the
  * assignment kernel of [[graft.ops.IvfIndex.index]]: one primitive loop
  * of k·dim multiply-adds per row inside whole-stage codegen
  * ([[NearestList.argmin]], which training calls directly).
  *
  * It replaces an aggregate() HOF over an array-of-structs literal that
  * computed the same argmin: semantically identical, but the HOF paid a
  * per-centroid struct access, a nested-ArrayData view, and a lambda
  * dispatch per element — measured 13.8 s for the 40× stress train leg,
  * with this kernel ~3× less. Ties break to the SMALLEST index (strict
  * `<`), matching the min_by(struct(dist, cluster)) semantics the HOF
  * form preserved. Both array arguments must be foldable (they are the
  * bounded trained model — the same k-rows-on-the-driver contract as the
  * HOF literal); the flattened floats are extracted once per executor,
  * not per row. A vector with a NULL component or of another length
  * than the centroids fails, naming the function and the element.
  *
  * The reference has no ANN operator (nearest relative:
  * presto-main/.../operator/scalar/MathFunctions.java cosine_similarity);
  * this is training-data-pipeline extension surface.
  */
case class NearestList(
    first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _),
          ArrayType(DoubleType, _)) if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_nearest_list expects (array<float>, foldable array<float>, " +
          s"foldable array<double>), got $other")
    }

  // @transient: each executor re-extracts from the literal children, so
  // the serialized expression carries the literal once, not twice
  @transient private lazy val norms: Array[Double] =
    third.eval(null).asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val flat: Array[Float] =
    second.eval(null).asInstanceOf[ArrayData].toFloatArray()

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_list"

  def compute(v: ArrayData): Int =
    NearestList.argmin(flat, norms, v, "graft_nearest_list: vector")

  override protected def nullSafeEval(v: Any, f: Any, nn: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestList", this, classOf[NearestList].getName)
    nullSafeCodeGen(ctx, ev, (v, _, _) => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestList {

  /** Index of the centroid nearest to `v` among the k = `norms.length`
    * centroids laid out row-major in `flat`: argmin over c of
    * ‖c‖² − 2·(c · v), the first minimum on ties; -1 when k = 0. The
    * one kernel behind the expression and [[graft.ops.IvfIndex.train]]'s
    * Lloyd passes. A `v` with a NULL component, or with a length other
    * than the centroids' dim, fails with `what` leading the message: it
    * is checked once, before the k·dim loop, so it is never scored as
    * zeros or as a prefix. */
  def argmin(flat: Array[Float], norms: Array[Double], v: ArrayData, what: String): Int = {
    val k = norms.length
    if (k == 0) return -1
    val dim = flat.length / k
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"$what has ${v.numElements()} components, the centroids $dim")
    var d = 0
    while (d < dim) {
      if (v.isNullAt(d))
        throw new IllegalArgumentException(s"$what has a NULL component at element ${d + 1}")
      d += 1
    }
    var best = Double.MaxValue
    var bi = -1
    var c = 0
    while (c < k) {
      var s = 0.0
      val base = c * dim
      d = 0
      while (d < dim) {
        s += flat(base + d).toDouble * v.getFloat(d)
        d += 1
      }
      val dist = norms(c) - 2.0 * s
      if (dist < best) { best = dist; bi = c }
      c += 1
    }
    bi
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.native("graft_nearest_list", 3)(a => NearestList(a(0), a(1), a(2))))
}
