package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact is one json4s value: its key sets must stay those
  * of the recorded artifact, and the streaming block must stay valid
  * whether every streaming entry was timed or none was. */
class BenchSpec extends AnyFunSuite {

  private def keys(v: JValue): List[String] = v match {
    case JObject(fs) => fs.map(_._1)
    case _ => Nil
  }

  test("streaming block parses when empty and when filled") {
    val empty = Bench.streamBlock(Nil, (1.0, 3.0), (2.0, 4.0))
    assert(parse(compact(empty)) == JObject(
      "total_med" -> JDouble(0.0),
      "cpu_canary_sec" -> JArray(List(JDouble(1.0), JDouble(2.0))),
      "cpu_canary_multi_sec" -> JArray(List(JDouble(3.0), JDouble(4.0)))))

    val full = Bench.streamBlock(
      Seq("st01" -> Seq(1.0, 1.5, 2.0), "st\"02" -> Seq(0.5, 0.75, 1.0)),
      (1.0, 3.0), (2.0, 4.0))
    val fullObj = parse(compact(full))
    assert(fullObj \ "st01" == JArray(List(JDouble(1.0), JDouble(1.5), JDouble(2.0))))
    assert(fullObj \ "total_med" == JDouble(2.25))
    val line = Bench.headlineLine(
      Bench.artifact(Nil, Nil, "sf", Nil, full, JObject(), JObject(), (1.0, 1.0), (1.0, 1.0)),
      "BENCH.json")
    assert(parse(compact(line)) \ "streaming" ==
      JObject("st01" -> JDouble(1.5), "st\"02" -> JDouble(0.75)))
  }

  test("artifact and stress_10x key sets match the recorded BENCH_r17_final5.json") {
    val leg = Bench.Leg(Seq(1.0, 2.0, 3.0),
      Seq(JobRow("t", 1, 0L, 5L, 2, 8, 10L, 9L, 100L, 200L, 0L, 0L)),
      (0.38, 0.40), (0.39, 0.41))
    val stress = Bench.stressBlock(
      graft.ops.ScaleStress.LegNames.map(_ -> leg), Nil,
      Bench.StressFacts(10, 5000L, (9, 12), 100L, 1000L, 128, 3, 0.2,
        2000L, (45, 9), 0.6, 0.2, (1.0, 2.0, 3.0), (0.38, 0.40), (0.39, 0.41)))
    val full = Bench.artifact(
      Seq(Bench.Headline("q01_pricing_summary", 0.1, 0.2, 0.3, 0.05)),
      Seq("d02x_minhash" -> "boom \"quoted\""), "/data/sf0.1", Nil,
      Bench.streamBlock(Nil, (1.0, 1.0), (1.0, 1.0)), stress, JObject(),
      (0.38, 0.40), (0.39, 0.41))
    // a round trip through text keeps the value (escaping included)
    assert(compact(parse(compact(full))) == compact(full))
    assert(parse(compact(full)) \ "errors" \ "d02x_minhash" == JString("boom \"quoted\""))

    val recorded = parse(scala.io.Source.fromFile("BENCH_r17_final5.json").mkString)
    assert(keys(full) == keys(recorded))
    assert(keys(full \ "stress_10x") == keys(recorded \ "stress_10x"))
    assert(keys(full \ "stress_10x" \ "d07x_embedding") ==
      keys(recorded \ "stress_10x" \ "d07x_embedding"))
    assert(full \ "stress_10x" \ "d02x_minhash" \ "shuffle_write_bytes" == JLong(200L))
    assert(full \ "stress_10x" \ "d07x_cap_armed" == JBool(false))
  }
}
