package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The harness's own checks, run by perfbench/test_perfbench.py:
  * an artifact in which every statement failed still serializes to JSON
  * that parses, with the failures and empty blocks intact. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val boom = Left(new RuntimeException("line one\nline \"two\"\t\u0001"))
    val failed = Canon.result("s1", boom, "ref", 10)
    val artifact = JObject(
      "workload" -> JString("empty"),
      "passes" -> JArray(List(JObject("traced" -> JBool(false),
        "wall_s" -> JDouble(0.5), "stmts" -> JArray(Nil)))),
      "results" -> JArray(List(failed)),
      "setups" -> JArray(Nil),
      "layers" -> JObject("self_s" -> JObject()))
    val path = java.nio.file.Files.createTempFile("perfbench", ".json")
    Harness.write(path.toString, artifact)
    val back = parse(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
    java.nio.file.Files.delete(path)
    implicit val f: Formats = DefaultFormats
    val r = (back \ "results")(0)
    require((r \ "ok").extract[Boolean] == false, "failure flag lost")
    require((r \ "err").extract[String].startsWith("RuntimeException: line one"),
      "error text lost")
    require((back \ "setups") == JArray(Nil), "empty block lost")
    require((back \ "layers" \ "self_s") == JObject(), "empty object lost")
    val ok = Canon.result("s2", Right(Array.empty), "oc", 10)
    require((ok \ "n_rows") == JInt(0) && (ok \ "rows") == JArray(Nil),
      "empty result lost")
    println("SelfTest ok")
  }
}
