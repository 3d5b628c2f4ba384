package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf
import org.apache.commons.math3.distribution.{BetaDistribution, BinomialDistribution, CauchyDistribution, ChiSquaredDistribution, PoissonDistribution, WeibullDistribution}
import org.apache.commons.math3.special.Erf

/** Statistical CDF scalars (reference: presto-main/.../operator/scalar/
  * MathFunctions.java:760-1010 — the reference itself computes these with
  * commons-math3, the same library bundled with Spark, so values agree
  * bit-for-bit). Argument order and the loud range checks mirror the
  * reference's checkCondition messages.
  */
object StatsCdf {

  private def check(cond: Boolean, msg: String): Unit =
    if (!cond) throw new IllegalArgumentException(msg)

  private[functions] def normalCdf(mean: Double, sd: Double, value: Double): Double = {
    check(sd > 0, "standardDeviation must be > 0")
    0.5 * (1 + Erf.erf((value - mean) / (sd * math.sqrt(2))))
  }

  private[functions] def inverseNormalCdf(mean: Double, sd: Double, p: Double): Double = {
    check(p > 0 && p < 1, "p must be 0 > p > 1")
    check(sd > 0, "sd must be > 0")
    mean + sd * 1.4142135623730951 * Erf.erfInv(2 * p - 1)
  }

  private[functions] def betaCdf(a: Double, b: Double, value: Double): Double = {
    check(value >= 0 && value <= 1, "value must be in the interval [0, 1]")
    check(a > 0, "a must be > 0")
    check(b > 0, "b must be > 0")
    new BetaDistribution(a, b).cumulativeProbability(value)
  }

  private[functions] def inverseBetaCdf(a: Double, b: Double, p: Double): Double = {
    check(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    check(a > 0, "a must be > 0")
    check(b > 0, "b must be > 0")
    new BetaDistribution(a, b).inverseCumulativeProbability(p)
  }

  private[functions] def cauchyCdf(median: Double, scale: Double, value: Double): Double = {
    check(scale > 0, "scale must be greater than 0")
    new CauchyDistribution(median, scale).cumulativeProbability(value)
  }

  private[functions] def inverseCauchyCdf(median: Double, scale: Double, p: Double): Double = {
    check(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    check(scale > 0, "scale must be greater than 0")
    new CauchyDistribution(median, scale).inverseCumulativeProbability(p)
  }

  private[functions] def chiSquaredCdf(df: Double, value: Double): Double = {
    check(value >= 0, "value must non-negative")
    check(df > 0, "df must be greater than 0")
    new ChiSquaredDistribution(df).cumulativeProbability(value)
  }

  private[functions] def inverseChiSquaredCdf(df: Double, p: Double): Double = {
    check(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    check(df > 0, "df must be greater than 0")
    new ChiSquaredDistribution(df).inverseCumulativeProbability(p)
  }

  private[functions] def poissonCdf(lambda: Double, value: Long): Double = {
    check(value >= 0, "value must be a non-negative integer")
    check(lambda > 0, "lambda must be greater than 0")
    new PoissonDistribution(lambda).cumulativeProbability(value.toInt)
  }

  private[functions] def inversePoissonCdf(lambda: Double, p: Double): Int = {
    check(p >= 0 && p < 1, "p must be in the interval [0, 1)")
    check(lambda > 0, "lambda must be greater than 0")
    new PoissonDistribution(lambda).inverseCumulativeProbability(p)
  }

  private[functions] def binomialCdf(trials: Int, sp: Double, value: Int): Double = {
    check(sp >= 0 && sp <= 1, "successProbability must be in the interval [0, 1]")
    check(trials > 0, "numberOfTrials must be greater than 0")
    new BinomialDistribution(trials, sp).cumulativeProbability(value)
  }

  private[functions] def inverseBinomialCdf(trials: Int, sp: Double, p: Double): Int = {
    check(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    check(sp >= 0 && sp <= 1, "successProbability must be in the interval [0, 1]")
    check(trials > 0, "numberOfTrials must be greater than 0")
    new BinomialDistribution(trials, sp).inverseCumulativeProbability(p)
  }

  private[functions] def weibullCdf(a: Double, b: Double, value: Double): Double = {
    check(a > 0, "a must be greater than 0")
    check(b > 0, "b must be greater than 0")
    new WeibullDistribution(a, b).cumulativeProbability(value)
  }

  private[functions] def inverseWeibullCdf(a: Double, b: Double, p: Double): Double = {
    check(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    check(a > 0, "a must be greater than 0")
    check(b > 0, "b must be greater than 0")
    new WeibullDistribution(a, b).inverseCumulativeProbability(p)
  }

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("normal_cdf", udf(normalCdf _)),
    FunctionEntry.udf("inverse_normal_cdf", udf(inverseNormalCdf _)),
    FunctionEntry.udf("beta_cdf", udf(betaCdf _)),
    FunctionEntry.udf("inverse_beta_cdf", udf(inverseBetaCdf _)),
    FunctionEntry.udf("cauchy_cdf", udf(cauchyCdf _)),
    FunctionEntry.udf("inverse_cauchy_cdf", udf(inverseCauchyCdf _)),
    FunctionEntry.udf("chi_squared_cdf", udf(chiSquaredCdf _)),
    FunctionEntry.udf("inverse_chi_squared_cdf", udf(inverseChiSquaredCdf _)),
    FunctionEntry.udf("poisson_cdf", udf(poissonCdf _)),
    FunctionEntry.udf("inverse_poisson_cdf", udf(inversePoissonCdf _)),
    FunctionEntry.udf("binomial_cdf", udf(binomialCdf _)),
    FunctionEntry.udf("inverse_binomial_cdf", udf(inverseBinomialCdf _)),
    FunctionEntry.udf("weibull_cdf", udf(weibullCdf _)),
    FunctionEntry.udf("inverse_weibull_cdf", udf(inverseWeibullCdf _)),
  )
}
