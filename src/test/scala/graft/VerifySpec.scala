package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Proves the Verify failure-capture mechanism: a query that throws must
  * land in `_failed.json` (name → message), and successes must not. This
  * guards the round-8 failure mode where broken entries vanished from the
  * driver's correctness artifact instead of showing up as errors.
  */
class VerifySpec extends QueryAssertions {

  test("runAll records throwing queries in _failed.json") {
    val out = Files.createTempDirectory("graft_verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok_query" -> ((s, _) => { import s.implicits._; Seq(1, 2).toDF("x") }),
      "boom_query" -> ((_, _) => sys.error("deliberate failure")))
    val failed = Verify.runAll(spark, "/root/testdata/sf0.001", out, queries)

    assert(failed.keySet == Set("boom_query"))
    assert(failed("boom_query").contains("deliberate failure"))
    val json = Files.readString(Paths.get(s"$out/_failed.json"))
    assert(json.contains("boom_query") && json.contains("deliberate failure"))
    assert(!json.contains("ok_query"))
    assert(new java.io.File(s"$out/ok_query").exists())
  }

  test("runAll writes an empty _failed.json when everything passes") {
    val out = Files.createTempDirectory("graft_verify_ok").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "fine" -> ((s, _) => { import s.implicits._; Seq(1).toDF("x") }))
    val failed = Verify.runAll(spark, "/root/testdata/sf0.001", out, queries)
    assert(failed.isEmpty)
    assert(Files.readString(Paths.get(s"$out/_failed.json")) == "{}")
  }

  test("_failed.json round-trips names and messages with quotes, backslashes and control chars") {
    val out = Files.createTempDirectory("graft_verify_esc").toString
    val nasty = "a \"q\" \\ b\tc\u0001d"
    val queries = Map[String, (SparkSession, String) => DataFrame](
      s"bad$nasty" -> ((_, _) => throw new IllegalStateException(nasty)))
    Verify.runAll(spark, sfDir, out, queries)
    import org.json4s._
    val parsed = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(s"$out/_failed.json")))
    assert(parsed == JObject(s"bad$nasty" -> JString(nasty)))
  }
}
