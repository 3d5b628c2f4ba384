package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One JVM-wide local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(cores = 8, shufflePartitions = 8)
  val sfDir = "/root/testdata/sf0.001"
}

/** Engine-vs-oracle assertion base, mirroring the reference's differential
  * test framework (reference: presto-tests/src/main/java/com/facebook/
  * presto/tests/AbstractTestQueryFramework.java:131-141 — every query runs
  * on the engine AND on an oracle and results must match). Here the two
  * independent paths are the DataFrame program and Spark SQL via
  * `Engine.sql` (Catalyst parses/plans the SQL text separately); DuckDB
  * runs the same SQL in the driver's correctness gate.
  */
trait QueryAssertions extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Canonicalize: columns sorted by name, floats to 6 significant digits,
    * rows sorted — so comparison is order-insensitive and float-tolerant
    * (matches the driver's hash-compare described in FIXTURES.md §2). */
  def canon(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect().toSeq
      .map(_.toSeq.map {
        case null         => "NULL"
        case d: Double    => if (d == 0.0) "0" else f"$d%.6e"
        case f: Float     => if (f == 0.0f) "0" else f"${f.toDouble}%.4e"
        case b: Array[_]  => b.mkString("[", ",", "]")
        case x            => x.toString
      })
      .sortBy(_.mkString(""))
  }

  def assertSameResult(actual: DataFrame, expected: DataFrame, hint: String): Unit = {
    val a = canon(actual)
    val e = canon(expected)
    assert(a == e, s"\n[$hint]\nactual  : ${a.take(5)}\nexpected: ${e.take(5)}")
  }

  /** Run `body` and return its value with the final plans of the eager
    * `localCheckpoint` barriers it ran — the plans a dedup/ANN operator
    * ships. Fails when there is none, so a shape assertion over them
    * cannot pass vacuously. */
  def checkpointPlans[T](body: => T): (T, Seq[String]) = {
    val (out, ran) = Profile.actionPlans(spark)(body)
    val plans = ran.collect { case ("localCheckpoint", p) => p.toString }
    assert(plans.nonEmpty,
      s"no localCheckpoint plan captured; actions: ${ran.map(_._1).mkString(", ")}")
    (out, plans)
  }

  /** DataFrame program vs its oracle SQL through Engine.sql. */
  def assertQuery(q: Qdef, dir: String = sfDir): Unit = {
    val df = q.run(spark, dir)
    assert(df.columns.nonEmpty, s"${q.name}: no columns")
    q.oracle match {
      case Some(sql) if q.sharedDialect =>
        assertSameResult(df, Engine.sql(spark, dir, sql), q.name)
      case _ =>
        df.count() // still must execute
    }
  }
}
