// Lives in Spark's classic package: UserDefinedFunctionUtils.toScalaUDF
// and ScalaAggregator.apply, the two builders UDFRegistration uses, are
// private[sql] — the same pattern SmallStatement uses.
package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator, UserDefinedFunction}

/** The argument count and expression builder of a `udf(...)` or
  * `udaf(...)` named `name`, exactly as Spark's
  * `UDFRegistration.register(name, f)` builds them, so an injected
  * catalog entry plans the same as a session-registered one. */
object GraftUdfBuilder {

  def apply(name: String, f: UserDefinedFunction)
      : (Int, Seq[Expression] => Expression) = f.withName(name) match {
    case agg: UserDefinedAggregator[_, _, _] =>
      // one argument per top-level field of a product input, else one
      val in = encoderFor(agg.inputEncoder)
      (if (in.isSerializedAsStructForTopLevel) in.schema.length else 1,
        children => ScalaAggregator(agg, children))
    case udf: SparkUserDefinedFunction =>
      (udf.inputEncoders.size,
        children => UserDefinedFunctionUtils.toScalaUDF(udf, children))
    case other => throw new IllegalArgumentException(
      s"$name: unsupported function kind ${other.getClass.getName}")
  }
}
