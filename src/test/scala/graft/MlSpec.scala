package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** presto-ml + presto-i18n surface tests (reference: presto-ml/.../
  * MLFunctions.java, EvaluateClassifierPredictionsAggregation.java,
  * presto-i18n-functions/.../TestMyanmarFunctions.java). Exercises the
  * paths the corpus entries can't pin exactly: exact-fit recovery,
  * partitioning-invariance of the mergeable training state, tie/error
  * behavior, the dimension cap, and the reference's own Myanmar vectors.
  */
class MlSpec extends AnyFunSuite with QueryAssertions {

  test("learn_regressor recovers an exact linear law") {
    val s = spark
    import s.implicits._
    // y = 2x + 1 exactly: least squares must recover [2, 1] to fp exactness
    val df = (1 to 20).map(i => (i.toDouble, 2.0 * i + 1.0)).toDF("x", "y")
    val m = df.agg(expr("learn_regressor(y, features(x))").as("m"))
      .selectExpr("m.kind", "m.weights[0][0]", "m.weights[0][1]")
      .head()
    assert(m.getString(0) == "regressor")
    assert(math.abs(m.getDouble(1) - 2.0) < 1e-9)
    assert(math.abs(m.getDouble(2) - 1.0) < 1e-9)
  }

  test("training state merges across partitionings (1 vs 7 partitions)") {
    val s = spark
    import s.implicits._
    val rows = (1 to 200).map { i =>
      (i.toDouble % 13, Map(0L -> i.toDouble, 1L -> math.sin(i.toDouble)))
    }
    def weights(parts: Int): Seq[Double] = {
      val df = s.createDataset(rows).toDF("y", "f").repartition(parts)
      df.agg(expr("learn_regressor(y, f)").as("m"))
        .selectExpr("m.weights[0]").head().getSeq[Double](0)
    }
    val one = weights(1)
    val seven = weights(7)
    assert(one.size == 3)
    one.zip(seven).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"partitioning changed the fit: $a vs $b")
    }
  }

  test("classifier recovers a separable rule; labels sorted; classify applies") {
    val s = spark
    import s.implicits._
    val df = (1 to 100)
      .map(i => (if (i > 50) 9L else 2L, Map(0L -> i.toDouble)))
      .toDF("label", "f")
    val acc = df
      .crossJoin(broadcast(
        df.agg(expr("learn_classifier(CAST(label AS STRING), f)").as("m"))))
      .selectExpr(
        "m.labels AS labels",
        "CAST(CASE WHEN classify(f, m) = CAST(label AS STRING) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS ok")
    assert(acc.select(avg("ok")).head().getDouble(0) >= 0.97)
    assert(acc.select("labels").head().getSeq[String](0) == Seq("2", "9"))
  }

  test("classify/regress fail loud on the wrong model kind") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => (i.toDouble, Map(0L -> i.toDouble))).toDF("y", "f")
    val reg = df.agg(expr("learn_regressor(y, f)").as("m"))
    val ex = intercept[Exception] {
      df.crossJoin(reg).selectExpr("classify(f, m)").collect()
    }
    assert(ex.getMessage.contains("not a classifier") ||
      ex.getCause != null && ex.getCause.getMessage.contains("not a classifier"))
  }

  test("feature keys beyond the dense cap fail loud") {
    val s = spark
    import s.implicits._
    val df = Seq((1.0, Map(5000L -> 1.0))).toDF("y", "f")
    val ex = intercept[Exception] {
      df.agg(expr("learn_regressor(y, f)")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("normal-equations cap")))
  }

  test("negative feature keys fail loud on the APPLY side too") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => (i.toDouble, Map(0L -> i.toDouble))).toDF("y", "f")
    val reg = df.agg(expr("learn_regressor(y, f)").as("m"))
    val bad = Seq(Map(-1L -> 2.0)).toDF("f")
    val ex = intercept[Exception] {
      bad.crossJoin(reg).selectExpr("regress(f, m)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("non-negative")), msgs(ex).mkString(" | "))
  }

  test("feature keys beyond the trained dimension fail loud at scoring time") {
    val s = spark
    import s.implicits._
    // trained on features {0}; scoring a row with feature 5 must not
    // silently drop it (a truncated prediction with no signal)
    val df = (1 to 10).map(i => (i.toDouble, Map(0L -> i.toDouble))).toDF("y", "f")
    val reg = df.agg(expr("learn_regressor(y, f)").as("m"))
    val wide = Seq(Map(0L -> 1.0, 5L -> 2.0)).toDF("f")
    val ex = intercept[Exception] {
      wide.crossJoin(reg).selectExpr("regress(f, m)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("trained model's dimension")),
      msgs(ex).mkString(" | "))
  }

  test("malformed libsvm params fail loud; valid params are ignored") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => (i.toDouble, Map(0L -> i.toDouble))).toDF("y", "f")
    val ok = df.agg(
      expr("learn_regressor(y, f)").as("a"),
      expr("learn_libsvm_regressor(y, f, 'C=1,kernel=linear')").as("b"))
      .selectExpr("a = b").head().getBoolean(0)
    assert(ok, "libsvm spelling must train the identical model")
    val ex = intercept[Exception] {
      df.agg(expr("learn_libsvm_regressor(y, f, 'garbage')")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("malformed params")))
  }

  test("evaluate_classifier_predictions formats the reference summary exactly") {
    val s = spark
    import s.implicits._
    // same deterministic rule as corpus ml03, counts verified against both
    // Java %.2f and C printf (EvaluateClassifierPredictionsAggregation
    // .java:100-121 format, labels sorted)
    val df = (0 until 40)
      .map(d => (s"${d % 3}", if (d % 5 == 0) s"${(d + 1) % 3}" else s"${d % 3}"))
      .toDF("truth", "pred")
    val got = df.agg(expr("evaluate_classifier_predictions(truth, pred)"))
      .head().getString(0)
    val want =
      "Accuracy: 32/40 (80.00%)\n" +
        "Class '0'\nPrecision: 11/14 (78.57%)\nRecall: 11/14 (78.57%)\n" +
        "Class '1'\nPrecision: 11/14 (78.57%)\nRecall: 11/13 (84.62%)\n" +
        "Class '2'\nPrecision: 10/12 (83.33%)\nRecall: 10/13 (76.92%)\n"
    assert(got == want)
  }

  test("myanmar functions reproduce the reference test vectors") {
    import graft.functions.I18nFunctions._
    val zawgyiSentence = "\u1021\u101E\u1004\u1039\u1038\u1019\u103D"
    val zawgyiNormalized = "\u1021\u101E\u1004\u103A\u1038\u1019\u103E"
    val unicodeSentence = "\u1000\u103B\u103D\u1014\u103A\u102F\u1015\u103A"
    // TestMyanmarFunctions.java:36-42
    assert(fontEncoding("english string") == "unicode")
    assert(fontEncoding("\u1095") == "zawgyi")
    assert(fontEncoding(zawgyiSentence) == "zawgyi")
    assert(fontEncoding(unicodeSentence) == "unicode")
    // TestMyanmarFunctions.java:45-52
    assert(normalizeUnicode("english string") == "english string")
    assert(normalizeUnicode(zawgyiSentence) == zawgyiNormalized)
    assert(normalizeUnicode(unicodeSentence) == unicodeSentence)
    assert(normalizeUnicode(unicodeSentence + "\n" + zawgyiSentence) ==
      unicodeSentence + "\n" + zawgyiNormalized)
  }

  test("visual-order Zawgyi vowel-E and medial-ra reorder to logical order") {
    import graft.functions.I18nFunctions._
    // Zawgyi stores E (and medial-ra) before the consonant; Unicode after
    assert(fontEncoding("\u1031\u1000") == "zawgyi")
    assert(normalizeUnicode("\u1031\u1000") == "\u1000\u1031")
    // Zawgyi pre-written medial-ra U+103B → Unicode U+103C after consonant
    assert(normalizeUnicode("\u1031\u103B\u1000") == "\u1000\u103C\u1031")
  }
}
