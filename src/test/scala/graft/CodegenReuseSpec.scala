package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Generated code is compiled once per JVM. Spark keys its cache of
  * compiled classes by (context class loader, code body), so a run that
  * repeats a plan on a fresh clone session reuses the compiled classes
  * only when the clone shares the executor class loader and the cache is
  * large enough to still hold them (both set in `Engine.session`).
  */
class CodegenReuseSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def dir = TestSpark.sfDir

  /** Runs `run` twice; the second run must compile nothing (Janino
    * compiles, as Spark's codegen metrics count them). */
  private def assertCompiledOnce(what: String)(run: => Unit): Unit = {
    run
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(again == 0, s"$what compiled $again class(es) on its second run")
  }

  private val smallGroupBy =
    "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus " +
      "ORDER BY o_orderstatus"

  test("a stream run on a fresh StreamExecution clone reuses compiled code") {
    val st01 = SparkEntry.streamingDefs.find(_.name == "st01_tumbling_window").get
    assertCompiledOnce("st01_tumbling_window") {
      assert(st01.run(spark, dir).collect().nonEmpty)
    }
  }

  test("a small statement on a fresh per-statement clone reuses compiled code") {
    assertCompiledOnce("a routed GROUP BY … ORDER BY") {
      val df = Engine.sql(spark, dir, smallGroupBy)
      assert(df.sparkSession ne spark, "the statement was not routed to a clone")
      assert(df.collect().nonEmpty)
    }
  }

  test("Engine.session, newSession() and cloneSession() carry both settings") {
    def check(s: SparkSession, which: String): Unit = {
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false", which)
      // a full graft.Verify run needs 2 670 cache entries
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries").toInt >= 2670, which)
    }
    check(spark, "Engine.session")
    check(spark.newSession(), "newSession()")
    // the small-statement path returns its cloneSession() result
    val clone = Engine.sql(spark, dir, smallGroupBy).sparkSession
    assert(clone ne spark)
    check(clone, "cloneSession()")
  }
}
