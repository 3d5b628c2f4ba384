package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's streaming block must stay valid JSON whether
  * every streaming entry was timed or none was. */
class BenchSpec extends AnyFunSuite {

  test("streaming block parses when empty and when filled") {
    val (emptyFull, emptyCompact) = Bench.streamBlockJson(Nil, (1.0, 2.0), (3.0, 4.0))
    assert(parse(emptyFull) == JObject(
      "total_med" -> JDouble(0.0),
      "cpu_canary_sec" -> JArray(List(JDouble(1.0), JDouble(2.0))),
      "cpu_canary_multi_sec" -> JArray(List(JDouble(3.0), JDouble(4.0)))))
    assert(parse(emptyCompact) == JObject())

    val (full, compact) = Bench.streamBlockJson(
      Seq(("st01", 1.0, 1.5, 2.0), ("st\"02", 0.5, 0.75, 1.0)), (1.0, 2.0), (3.0, 4.0))
    val fullObj = parse(full)
    assert(fullObj \ "st01" == JArray(List(JDouble(1.0), JDouble(1.5), JDouble(2.0))))
    assert(fullObj \ "total_med" == JDouble(2.25))
    assert(parse(compact) == JObject("st01" -> JDouble(1.5), "st\"02" -> JDouble(0.75)))
  }
}
