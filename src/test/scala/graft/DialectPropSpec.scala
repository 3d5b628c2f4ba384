package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the Presto→Spark translator: whatever the
  * surrounding SQL, literal and comment CONTENT must never be rewritten,
  * and SQL that contains no Presto-isms must come through byte-identical.
  */
class DialectPropSpec extends AnyFunSuite {

  private def holds(prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  private val identGen: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (h :: t).mkString

  private val charGen: Gen[String] =
    Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', '[', ']', '(', ',', '%')).map(_.toString)

  // the other units' delimiters, placeholders and clause fragments that
  // some pass rewrites when it reads them as code
  private val fragments = Seq("\"", "`", "?", "--", "/*", "GROUP BY ()",
    "ORDER BY", "VALUES ROW(", "UNNEST(", "CROSS JOIN ")

  // literal content; a quote only appears doubled (its escape)
  private val literalGen: Gen[String] =
    Gen.listOf(Gen.frequency(4 -> charGen, 1 -> Gen.oneOf("''" +: "*/" +: fragments)))
      .map(_.mkString)

  // block-comment content: anything but the closing */
  private val commentGen: Gen[String] =
    Gen.listOf(Gen.frequency(4 -> charGen, 1 -> Gen.oneOf("'" +: "\n" +: fragments)))
      .map(_.mkString.replace("*/", "* /"))

  test("literal content survives translation verbatim") {
    holds(Prop.forAll(identGen, literalGen, identGen) { (col, lit, tbl) =>
      val sql = s"SELECT $col FROM $tbl WHERE $col = '$lit'"
      Engine.translate(sql).contains(s"'$lit'")
    })
  }

  test("block-comment content survives translation verbatim") {
    holds(Prop.forAll(identGen, commentGen, identGen) { (col, body, tbl) =>
      val sql = s"SELECT $col /* $body */ FROM $tbl WHERE $col IN (VALUES 1)"
      Engine.translate(sql).contains(s"/* $body */")
    })
  }

  test("plain Spark-dialect SQL is a fixed point of translation") {
    holds(Prop.forAll(identGen, identGen, Gen.choose(1, 999)) { (c, t, n) =>
      val sql = s"SELECT $c, count(*) AS cnt FROM $t WHERE $c > $n GROUP BY $c"
      Engine.translate(sql) == sql
    })
  }

  test("ORDER BY always gains explicit null ordering") {
    holds(Prop.forAll(identGen, identGen) { (c, t) =>
      val out = Engine.translate(s"SELECT * FROM $t ORDER BY $c")
      out.endsWith("NULLS LAST")
    })
  }
}
