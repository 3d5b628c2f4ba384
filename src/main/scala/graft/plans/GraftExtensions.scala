package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session-extension installer: the resolution and optimizer rules plus
  * the whole graft function catalog. `Engine.session` wires it in; any
  * other session gets the same by naming this class in
  * `spark.sql.extensions`, and `newSession()` / `cloneSession()` inherit
  * it. The reference likewise gives every query one function registry
  * (BuiltInTypeAndFunctionNamespaceManager.java).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CountIfRewrite)
    ext.injectOptimizerRule(_ => UnnestCodegenRewrite)
    ext.injectResolutionRule(_ => ConcatArrayElement)
    ext.injectResolutionRule(_ => ResolveReduceAgg)
    ext.injectResolutionRule(_ => MapEqualityRewrite)
    ext.injectResolutionRule(_ => DoubleDivisionRewrite)
    ext.injectResolutionRule(_ => IntegerDivisionRewrite)
    ext.injectResolutionRule(_ => FloatCastRoundingRewrite)
    ext.injectResolutionRule(_ => DoubleToVarcharRewrite)
    ext.injectResolutionRule(_ => VarcharLengthCastRewrite)
    ext.injectResolutionRule(_ => RealDecimalComparisonRewrite)
    ext.injectResolutionRule(_ => RaisingMapSubscriptRewrite)
    ext.injectResolutionRule(_ => RowSubscriptRewrite)
    ext.injectResolutionRule(_ => PlainGroupByGroupingRewrite)
    ext.injectResolutionRule(_ => NullFilterConditionRewrite)
    ext.injectResolutionRule(_ => RuntimeLikeRewrite)
    ext.injectResolutionRule(_ => NullMapArgsRewrite)
    ext.injectResolutionRule(_ => ArrayJoinDoubleRewrite)
    ext.injectResolutionRule(_ => CollectionEqualityRewrite)
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.injected))
  }
}

object GraftExtensions {

  /** The function catalog, built once per JVM. */
  lazy val functions: Seq[FunctionEntry] = {
    import graft.functions._
    Seq(PrestoFunctions.functions, DotProductFloat.functions,
      NearestList.functions, EmbeddingKernels.functions,
      TextKernels.functions, GraftFunctions.functions, Snowball.functions,
      ScalarPack.functions, HyperLogLog.functions, QuantileSketch.functions,
      TDigest.functions, SetDigestSketch.functions,
      KHyperLogLogSketch.functions, Classification.functions,
      TriviaScalars.functions, ColorPack.functions, UnnestGenerator.functions,
      BinaryExtras.functions, MiscExtras.functions, StatsCdf.functions,
      IpFunctions.functions, ToJsonText.functions, Teradata.functions,
      GeoFunctions.functions, KdbSpatial.functions, MlFunctions.functions,
      I18nFunctions.functions).flatten
  }

  private lazy val byName = functions.map(f => f.name -> f).toMap

  /** Catalog function `name` applied to `args`, for a builder that
    * dispatches to another entry (an overload, a typed helper). Not the
    * active session's registry: that session may be another one. */
  def call(name: String, args: Expression*): Expression =
    byName(name).injected._3(args)
}
