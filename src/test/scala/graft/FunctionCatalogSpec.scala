package graft

import graft.plans.{FunctionEntry, GraftExtensions}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{udaf, udf}

/** The function catalog [[GraftExtensions]] installs: one entry per name,
  * on every session without a registration call, replacing only the
  * Spark built-ins it means to, built through one arity-checked builder.
  */
class FunctionCatalogSpec extends QueryAssertions {

  private val names = GraftExtensions.functions.map(_.name)

  /** Spark built-ins replaced on purpose with the reference's semantics;
    * each logs one "replaced a previously registered function" warning
    * per session build. */
  private val declaredOverrides = Set(
    "approx_percentile", "array_except", "bit_count", "from_unixtime",
    "kurtosis", "localtimestamp", "reduce", "regexp_extract",
    "regexp_extract_all", "regexp_replace", "skewness", "typeof",
    "url_decode", "url_encode", "width_bucket")

  private def failsWith(sql: String, message: String): Unit = {
    val e = intercept[Exception](spark.sql(sql).collect())
    assert(e.getMessage.contains(message), e.getMessage)
  }

  test("no graft function name is registered twice") {
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
  }

  test("the Spark built-ins the catalog replaces are exactly the declared list") {
    assert(names.filter(n => FunctionRegistry.builtin.functionExists(
      FunctionIdentifier(n))).toSet === declaredOverrides)
  }

  test("newSession() resolves every catalog name with no registration call") {
    val s = spark.newSession()
    val missing = names.filterNot(n => s.sessionState.functionRegistry
      .lookupFunction(FunctionIdentifier(n))
      .exists(_.getClassName == classOf[FunctionEntry].getName))
    assert(missing.isEmpty, missing)
    // an arity overload resolves without the dialect's help
    assert(s.sql("SELECT url_encode('a b'), bing_tile_parent('0123', 2)")
      .head().toSeq == Seq("a+b", "01"))
  }

  test("a builder rejects too few arguments, naming the function and its arity") {
    failsWith("SELECT map_canon()", "map_canon takes 1 argument, got 0")
    failsWith("SELECT wilson_interval_lower(1)",
      "wilson_interval_lower takes 3 arguments, got 1")
    failsWith("SELECT hmac_md5(X'01')", "hmac_md5 takes 2 arguments, got 1")
  }

  test("a builder rejects too many arguments instead of dropping them") {
    failsWith("SELECT map_canon(map('a', 1), 2)", "map_canon takes 1 argument, got 2")
    failsWith("SELECT truncate(1.5, 1, 2)", "truncate takes 1 or 2 arguments, got 3")
    failsWith("SELECT geometric_mean(x, x) FROM VALUES (2.0) t(x)",
      "geometric_mean takes 1 argument, got 2")
  }

  test("a udf entry builds the expression UDFRegistration builds") {
    val reference = spark.newSession()
    def same(name: String, f: UserDefinedFunction, args: Expression*): Unit = {
      reference.udf.register(name, f)
      assert(FunctionEntry.udf(name, f).injected._3(args) == reference.sessionState
        .functionRegistry.lookupFunction(FunctionIdentifier(name), args), name)
    }
    same("t_len", udf((s: String) => s.length), Literal("ab"))
    same("t_rand", udf(() => math.random()).asNondeterministic())
    same("t_sum", udf((a: java.lang.Long, b: Long) => a + b).asNonNullable(),
      Literal(1L), Literal(2L))
    same("t_agg", udaf(graft.functions.GraftFunctions.GeometricMeanAgg,
      Encoders.DOUBLE), Literal(2.0))
  }
}
