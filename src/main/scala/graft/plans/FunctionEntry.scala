package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction

/** One function of the graft catalog: its name, the argument counts it
  * takes and the builder of its Catalyst expression. The injected
  * builder rejects a wrong argument count, naming the function, the
  * counts it takes and (`args`) its parameters, before `build` runs.
  */
final case class FunctionEntry(
    name: String,
    minArgs: Int,
    maxArgs: Int,
    build: Seq[Expression] => Expression,
    args: String = "") {

  private def expected: String = {
    val n =
      if (maxArgs == FunctionEntry.Variadic) s"at least $minArgs"
      else if (minArgs == maxArgs) s"$minArgs"
      else if (maxArgs == minArgs + 1) s"$minArgs or $maxArgs"
      else s"$minArgs to $maxArgs"
    s"$n argument${if (n.endsWith(" 1") || n == "1") "" else "s"}" +
      (if (args.isEmpty) "" else s" ($args)")
  }

  /** What `SparkSessionExtensions.injectFunction` takes; one value per
    * entry, so every session registers the same builder. */
  lazy val injected
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[FunctionEntry].getName, name),
      { exprs =>
        if (exprs.length < minArgs || exprs.length > maxArgs)
          throw new IllegalArgumentException(
            s"$name takes $expected, got ${exprs.length}")
        build(exprs)
      })
}

object FunctionEntry {

  /** `maxArgs` of a function with no upper bound on its arguments. */
  val Variadic: Int = Int.MaxValue

  /** A native Catalyst builder taking exactly `arity` arguments. */
  def native(name: String, arity: Int)(
      build: Seq[Expression] => Expression): FunctionEntry =
    FunctionEntry(name, arity, arity, build)

  /** A native Catalyst builder taking `minArgs` to `maxArgs` arguments. */
  def native(name: String, minArgs: Int, maxArgs: Int)(
      build: Seq[Expression] => Expression): FunctionEntry =
    FunctionEntry(name, minArgs, maxArgs, build)

  /** One name over entries taking different argument counts, the way the
    * reference overloads by arity: a call goes to the entry that takes
    * its argument count. */
  def overload(name: String, alternatives: FunctionEntry*): FunctionEntry =
    FunctionEntry(name, alternatives.map(_.minArgs).min,
      alternatives.map(_.maxArgs).max, args => alternatives
        .find(e => e.minArgs <= args.length && args.length <= e.maxArgs)
        .getOrElse(throw new IllegalArgumentException(
          s"$name has no form taking ${args.length} arguments"))
        .build(args))

  /** A `udf(...)` or `udaf(...)` as `UDFRegistration.register(name, f)`
    * would install it: a ScalaUDF or ScalaAggregator with the function's
    * determinism, nullability and input encoders. */
  def udf(name: String, f: UserDefinedFunction): FunctionEntry = {
    val (arity, build) = org.apache.spark.sql.classic.GraftUdfBuilder(name, f)
    FunctionEntry(name, arity, arity, build)
  }
}
