package graft.suites

import graft.{Qdef, Tables}
import org.apache.spark.sql.functions._

/** presto-ml + presto-i18n corpus (reference: presto-ml/.../MLFunctions.java,
  * LearnRegressorAggregation.java, EvaluateClassifierPredictionsAggregation
  * .java; presto-i18n-functions/.../I18nMyanmarFunctions.java). Model family
  * narrowing and scale shape documented on graft.functions.MlFunctions.
  *
  * Oracle strategy: the least-squares single-target fit has an exact SQL
  * closed form (DuckDB/Spark regr_slope/regr_intercept), so training is
  * oracle-checked value-for-value (ml01). Per-row application of a
  * multi-feature model is checked as a PROPERTY (ml02/ml04): solver-vs-
  * closed-form double arithmetic diverges in the last ulps, and an exact
  * per-row hash over thousands of rounded predictions would flake whenever
  * one lands within fp noise of a rounding boundary — so the plan itself
  * asserts closeness/accuracy with generous deterministic floors, and the
  * oracle pins the booleans. evaluate_classifier_predictions (ml03) is
  * exact: integer confusion counts formatted identically by Java and C
  * printf away from half-way decimals (all denominators checked).
  */
object Ml {

  val defs: Seq[Qdef] = Seq(

    // Train-as-an-aggregate, per group: the fitted single-feature
    // least-squares line equals regr_slope/regr_intercept exactly (same
    // normal equations), so the model WEIGHTS are oracle-checked, not just
    // predictions. Rounded to 4 dp: our non-centered Gram solve and the
    // oracle's centered covariance form agree to ~1e-9 relative, and no
    // group's slope/intercept sits within fp noise of a 4-dp boundary.
    Qdef(
      "ml01_learn_regressor",
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("learn_regressor(l_extendedprice, features(l_quantity))").as("m"))
        .selectExpr(
          "l_returnflag",
          "round(element_at(element_at(m.weights, 1), 1), 4) AS slope",
          "round(element_at(element_at(m.weights, 1), 2), 4) AS intercept")
        .orderBy("l_returnflag")
    },

    // Classifier end-to-end property: a linearly separable label (long vs
    // short documents) must be recovered by the one-vs-rest least-squares
    // classifier at >= 90% accuracy through BOTH the bigint and varchar
    // spellings, and the model must carry exactly the observed classes.
    // Accuracy lands ~0.97-1.0; a single borderline-score flip moves it by
    // 1/n — the 0.9 floor cannot flake. One plan, no collect.
    Qdef(
      "ml02_classifier_recovery",
      "SELECT true AS bigint_acc_ok, true AS varchar_acc_ok, true AS two_classes") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .selectExpr(
          "CASE WHEN n_chars >= 200 THEN 1L ELSE 0L END AS label",
          "CASE WHEN n_chars >= 200 THEN 'long' ELSE 'short' END AS vlabel",
          "features(CAST(n_chars AS DOUBLE), CAST(size(split(text, ' ')) AS DOUBLE)) AS f")
      val models = docs.agg(
        expr("learn_classifier(label, f)").as("mb"),
        expr("learn_varchar_classifier(vlabel, f)").as("mv"))
      docs.crossJoin(broadcast(models))
        .selectExpr(
          "CASE WHEN classify(f, mb) = CAST(label AS STRING) THEN 1.0 ELSE 0.0 END AS okb",
          "CASE WHEN classify(f, mv) = vlabel THEN 1.0 ELSE 0.0 END AS okv",
          "size(mb.labels) AS ncls")
        .agg(avg("okb").as("accb"), avg("okv").as("accv"), max("ncls").as("ncls"))
        .selectExpr(
          "accb >= 0.9 AS bigint_acc_ok",
          "accv >= 0.9 AS varchar_acc_ok",
          "ncls = 2 AS two_classes")
    },

    // evaluate_classifier_predictions: byte-exact reference summary format
    // (EvaluateClassifierPredictionsAggregation.java:100-121, labels sorted
    // — see MlFunctions scaladoc). Deterministic rule-based predictions over
    // 40 docs; every percentage (32/40, 11/14, 11/13, 10/12, 10/13) was
    // verified to format identically under Java %.2f (HALF_UP) and C printf
    // (half-even) — none is an exact half-way decimal.
    Qdef.duckOnly(
      "ml03_evaluate_predictions",
      """WITH preds AS (
        |  SELECT CAST(doc_id % 3 AS VARCHAR) AS truth,
        |         CAST(CASE WHEN doc_id % 5 = 0 THEN (doc_id + 1) % 3
        |                   ELSE doc_id % 3 END AS VARCHAR) AS pred
        |  FROM documents WHERE doc_id < 40),
        |cells AS (
        |  SELECT truth, pred,
        |         count(*) FILTER (WHERE truth = pred) AS tp_c,
        |         count(*) FILTER (WHERE truth <> pred) AS err_c
        |  FROM preds GROUP BY truth, pred),
        |per_label AS (
        |  SELECT l.label,
        |    CAST(coalesce((SELECT sum(tp_c) FROM cells WHERE truth = l.label AND pred = l.label), 0) AS BIGINT) AS tp,
        |    CAST(coalesce((SELECT sum(err_c) FROM cells WHERE pred = l.label AND truth <> l.label), 0) AS BIGINT) AS fp,
        |    CAST(coalesce((SELECT sum(err_c) FROM cells WHERE truth = l.label AND pred <> l.label), 0) AS BIGINT) AS fn
        |  FROM (SELECT DISTINCT truth AS label FROM preds
        |        UNION SELECT DISTINCT pred FROM preds) l),
        |tot AS (SELECT CAST(sum(tp) AS BIGINT) AS correct,
        |               CAST(sum(tp) + sum(fp) AS BIGINT) AS total FROM per_label)
        |SELECT printf('Accuracy: %d/%d (%.2f%%)', correct, total,
        |         100.0 * correct / total) || chr(10) ||
        |       string_agg(
        |         printf('Class ''%s''', label) || chr(10) ||
        |         printf('Precision: %d/%d (%.2f%%)', tp, tp + fp,
        |           100.0 * tp / (tp + fp)) || chr(10) ||
        |         printf('Recall: %d/%d (%.2f%%)', tp, tp + fn,
        |           100.0 * tp / (tp + fn)) || chr(10),
        |         '' ORDER BY label) AS report
        |FROM per_label, tot
        |GROUP BY correct, total""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 40)
        .selectExpr(
          "CAST(doc_id % 3 AS STRING) AS truth",
          "CAST(CASE WHEN doc_id % 5 = 0 THEN (doc_id + 1) % 3 ELSE doc_id % 3 END AS STRING) AS pred")
        .agg(expr("evaluate_classifier_predictions(truth, pred)").as("report"))
    },

    // Multi-feature regressor applied per row: the Gaussian-elimination fit
    // must agree with the Cramer closed form (computed IN the same plan from
    // the same sums) to 1e-6 relative on every prediction, and the libsvm
    // spelling (params validated-then-ignored) must produce the identical
    // model. Generous deterministic floor — both solutions differ only in
    // last-ulp arithmetic order.
    Qdef(
      "ml04_regress_apply",
      "SELECT true AS preds_close, true AS libsvm_model_identical, CAST(1 AS BIGINT) AS models") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val models = li.agg(
        expr("learn_regressor(l_extendedprice, features(l_quantity, l_discount))").as("m"),
        expr("learn_libsvm_regressor(l_extendedprice, features(l_quantity, l_discount), 'C=1,kernel=linear')").as("ml"))
      val sums = li.agg(
        count(lit(1)).cast("double").as("n"),
        sum("l_quantity").as("sx"), sum("l_discount").as("sy"),
        sum("l_extendedprice").as("sz"),
        sum(expr("l_quantity * l_quantity")).as("sxx"),
        sum(expr("l_quantity * l_discount")).as("sxy"),
        sum(expr("l_discount * l_discount")).as("syy"),
        sum(expr("l_quantity * l_extendedprice")).as("sxz"),
        sum(expr("l_discount * l_extendedprice")).as("syz"))
      val coeffs = sums.selectExpr(
          "sxx*(syy*n - sy*sy) - sxy*(sxy*n - sy*sx) + sx*(sxy*sy - syy*sx) AS det",
          "sxz*(syy*n - sy*sy) - sxy*(syz*n - sy*sz) + sx*(syz*sy - syy*sz) AS d1",
          "sxx*(syz*n - sy*sz) - sxz*(sxy*n - sy*sx) + sx*(sxy*sz - syz*sx) AS d2",
          "sxx*(syy*sz - sy*syz) - sxy*(sxy*sz - sx*syz) + sxz*(sxy*sy - syy*sx) AS d3")
        .selectExpr("d1/det AS w1", "d2/det AS w2", "d3/det AS b")
      li.filter(col("l_orderkey") < 100)
        .crossJoin(broadcast(models))
        .crossJoin(broadcast(coeffs))
        .selectExpr(
          "regress(features(l_quantity, l_discount), m) AS pred",
          "w1 * l_quantity + w2 * l_discount + b AS cpred",
          "CASE WHEN m = ml THEN 1.0 ELSE 0.0 END AS same_model")
        .agg(
          max(expr("abs(pred - cpred) / greatest(abs(cpred), 1.0)")).as("maxrel"),
          min("same_model").as("same_model"),
          count(lit(1)).as("nrows"))
        .selectExpr(
          "maxrel < 1e-6 AS preds_close",
          "same_model = 1.0 AS libsvm_model_identical",
          "CAST(CASE WHEN nrows > 0 THEN 1 ELSE 0 END AS BIGINT) AS models")
    },

    // presto-i18n: Zawgyi detection + Z2U normalization over the reference's
    // own test vectors (TestMyanmarFunctions.java:36-52), composed from
    // chr() so the oracle stays escape-free. The expected strings pin THIS
    // implementation's documented rule-based narrowing (which matches the
    // reference on all five vectors; U+1095 passes through normalization —
    // multi-glyph contextual rules are out of the single-code-point slice).
    Qdef(
      "i18n01_myanmar",
      """SELECT id,
        |  CASE id WHEN 1 THEN 'unicode' WHEN 2 THEN 'zawgyi'
        |          WHEN 3 THEN 'zawgyi' WHEN 4 THEN 'unicode' END AS enc,
        |  CASE id
        |    WHEN 1 THEN 'english string'
        |    WHEN 2 THEN chr(4245)
        |    WHEN 3 THEN chr(4129) || chr(4126) || chr(4100) || chr(4154) ||
        |                chr(4152) || chr(4121) || chr(4158)
        |    WHEN 4 THEN chr(4096) || chr(4155) || chr(4157) || chr(4116) ||
        |                chr(4154) || chr(4143) || chr(4117) || chr(4154)
        |  END AS norm
        |FROM (SELECT 1 AS id UNION ALL SELECT 2 UNION ALL SELECT 3
        |      UNION ALL SELECT 4) v
        |ORDER BY id""".stripMargin) { (s, _) =>
      import s.implicits._
      // reference vectors (TestMyanmarFunctions.java:36-52): U+1095 (Zawgyi
      // glyph block); a Zawgyi sentence using visible-asat U+1039 +
      // medial-ha-as-U+103D; a valid Unicode sentence left alone. The
      // oracle spells the expected strings with chr(codepoint) — DuckDB's
      // chr is code-point-based, and the facade maps Presto chr to the
      // registered presto_chr (Spark's built-in chr is ASCII mod 256).
      Seq(
        (1L, "english string"),
        (2L, "\u1095"),
        (3L, "\u1021\u101E\u1004\u1039\u1038\u1019\u103D"),
        (4L, "\u1000\u103B\u103D\u1014\u103A\u102F\u1015\u103A"))
        .toDF("id", "s")
        .selectExpr(
          "id",
          "myanmar_font_encoding(s) AS enc",
          "myanmar_normalize_unicode(s) AS norm")
        .orderBy("id")
    })
}
