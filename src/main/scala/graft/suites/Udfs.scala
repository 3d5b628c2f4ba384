package graft.suites

import graft.{Engine, Qdef, Tables}
import org.apache.spark.sql.functions._

/** Registered-function corpus (SURVEY §2.11): typed Aggregator UDAFs and
  * scalar UDFs from the session's function catalog, invoked THROUGH SQL
  * — the same path a user of Engine.sql gets.
  */
object Udfs {

  val defs: Seq[Qdef] = Seq(

    // map_union_sum UDAF: per-status priority histogram as a merged map,
    // canonicalized to a sorted k:v string for comparison.
    Qdef.duckOnly(
      "c01_map_union_sum",
      """SELECT o_orderstatus,
        |  string_agg(p || ':' || c, ',' ORDER BY p) AS prio_map
        |FROM (
        |  SELECT o_orderstatus, o_orderpriority AS p, count(*) AS c
        |  FROM orders GROUP BY 1, 2)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .selectExpr("o_orderstatus", "map(o_orderpriority, 1L) AS m")
        .groupBy("o_orderstatus")
        .agg(expr("map_union_sum(m)").as("merged"))
        .selectExpr(
          "o_orderstatus",
          """concat_ws(',', array_sort(transform(map_entries(merged),
            |  e -> concat(e.key, ':', e.value)))) AS prio_map""".stripMargin)
        .orderBy("o_orderstatus")
    },

    // geometric_mean UDAF vs the exp∘avg∘ln identity the oracle can run.
    Qdef(
      "c02_geometric_mean",
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_extendedprice))), 4) AS geo_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("geometric_mean(l_extendedprice)"), 4).as("geo_price"))
        .orderBy("l_returnflag")
    },

    // Scalar UDF registered and invoked via SQL; the oracle reproduces the
    // stemming rule with the same anchored regex.
    Qdef(
      "c03_word_stem_udf",
      """SELECT regexp_replace(p_name, '(ing|ed|s)$', '') AS stemmed,
        |  count(*) AS cnt
        |FROM part
        |GROUP BY 1
        |ORDER BY stemmed""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "part")
        .selectExpr("word_stem_lite(p_name) AS stemmed")
        .groupBy("stemmed")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("stemmed")
    },

    // The Presto sketch-type API: approx_set → merge → cardinality. Builds
    // per-(flag,status) sketches, merges them WITHOUT rescanning raw data
    // (the mergeable-state property that ships sketches across exchanges),
    // and bounds the estimate against the exact count (HLL p=12 ⇒ σ≈1.6%;
    // 5% ≈ 3σ).
    Qdef(
      "c04_hll_sketch_merge",
      """SELECT DISTINCT l_returnflag, true AS card_ok
        |FROM lineitem
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val perGroup = li.groupBy("l_returnflag", "l_linestatus")
        .agg(expr("approx_set_agg(xxhash64(l_partkey))").as("hll"))
      val merged = perGroup.groupBy("l_returnflag")
        .agg(expr("hll_cardinality(merge_hll(hll))").as("est"))
      val exact = li.groupBy(col("l_returnflag").as("rf"))
        .agg(countDistinct("l_partkey").as("exact"))
      merged.join(exact, col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"),
          (abs(col("est") - col("exact")) <= col("exact") * 0.05).as("card_ok"))
        .orderBy("l_returnflag")
    },

    // qdigest behavior: build per-status digests, merge WITHOUT raw data,
    // read quantiles off the merged digest; the log-spaced bins bound
    // relative error at ~2%, so the oracle checks against the exact
    // percentile with a 5% band.
    Qdef(
      "c05_qdigest_merge",
      """SELECT true AS p50_ok, true AS p90_ok
        |FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
      val perStatus = ord.groupBy("o_orderstatus")
        .agg(expr("qdigest_agg(o_totalprice)").as("qd"))
      val merged = perStatus
        .agg(expr("merge_qdigest(qd)").as("qd"))
        .select(
          expr("value_at_quantile(qd, 0.5)").as("est50"),
          expr("value_at_quantile(qd, 0.9)").as("est90"))
      val exact = ord.agg(
        expr("percentile(o_totalprice, 0.5)").as("ex50"),
        expr("percentile(o_totalprice, 0.9)").as("ex90"))
      merged.join(broadcast(exact))
        .select(
          (abs(col("est50") - col("ex50")) <= col("ex50") * 0.05).as("p50_ok"),
          (abs(col("est90") - col("ex90")) <= col("ex90") * 0.05).as("p90_ok"))
    },

    // t-digest behavior (reference: TDigestAggregationFunction.java +
    // TDigestFunctions.java): per-status digests merged WITHOUT raw data,
    // quantiles read off the merged digest. δ=100 bounds rank error at
    // O(q(1-q)/δ), so a 2% value band on a smooth distribution holds with
    // wide margin; the inverse read must round-trip the median's rank.
    Qdef(
      "c06_tdigest_merge",
      """SELECT true AS p50_ok, true AS p90_ok, true AS p99_ok, true AS inv_ok
        |FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
      val perStatus = ord.groupBy("o_orderstatus")
        .agg(expr("tdigest_agg(o_totalprice)").as("td"))
      val merged = perStatus
        .agg(expr("merge_tdigest(td)").as("td"))
        .select(
          expr("td_value_at_quantile(td, 0.5)").as("est50"),
          expr("td_value_at_quantile(td, 0.9)").as("est90"),
          expr("element_at(td_values_at_quantiles(td, array(0.99D)), 1)").as("est99"),
          expr("td_quantile_at_value(td, td_value_at_quantile(td, 0.5))").as("invq"))
      val exact = ord.agg(
        expr("percentile(o_totalprice, 0.5)").as("ex50"),
        expr("percentile(o_totalprice, 0.9)").as("ex90"),
        expr("percentile(o_totalprice, 0.99)").as("ex99"))
      merged.join(broadcast(exact))
        .select(
          (abs(col("est50") - col("ex50")) <= col("ex50") * 0.02).as("p50_ok"),
          (abs(col("est90") - col("ex90")) <= col("ex90") * 0.02).as("p90_ok"),
          (abs(col("est99") - col("ex99")) <= col("ex99") * 0.02).as("p99_ok"),
          (abs(col("invq") - 0.5) <= 0.02).as("inv_ok"))
    },

    // Weighted approx_percentile (reference: ApproximateWeightedPercentile
    // Aggregations.java) over the weighted t-digest: median of totalprice
    // with integer weights, checked against the exact weighted percentile
    // the oracle derives by row expansion. Called under the REFERENCE
    // spelling approx_percentile(x, w, p) through the SQL facade — the
    // injected registry builder dispatches the 3-arg form on the shape of
    // the second argument (weight column here vs literal accuracy).
    Qdef(
      "c10_weighted_percentile",
      """SELECT true AS wp50_ok, true AS wp90_ok FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_totalprice").as("x"),
          (col("o_orderkey") % 3 + 1).cast("double").as("w"))
      val est = Engine.sql(s, dir,
        """SELECT
          |  approx_percentile(o_totalprice, o_orderkey % 3 + 1, 0.5) AS e50,
          |  approx_percentile(o_totalprice, o_orderkey % 3 + 1, 0.9) AS e90
          |FROM orders""".stripMargin)
      // exact weighted percentile by integer-weight row expansion
      val exact = ord
        .select(explode(expr("sequence(1, CAST(w AS INT))")).as("rep"), col("x"))
        .agg(
          expr("percentile(x, 0.5)").as("x50"),
          expr("percentile(x, 0.9)").as("x90"))
      est.crossJoin(broadcast(exact))
        .select(
          (abs(col("e50") - col("x50")) <= abs(col("x50")) * 0.02).as("wp50_ok"),
          (abs(col("e90") - col("x90")) <= abs(col("x90")) * 0.02).as("wp90_ok"))
    },

    // set_digest sketch API (reference: type/setdigest/SetDigest.java +
    // SetDigestFunctions.java): token-set digests of two sources. Every
    // fixture vocabulary fits the digest (exact path), so cardinality and
    // intersection_cardinality must EQUAL the exact values, and the
    // digest built by merging per-(source,lang) partials must equal the
    // directly-built digest bit-for-bit (deterministic union-trim merge).
    // jaccard_index uses the reference's m-bounded MinHash estimate —
    // checked within a band of the true Jaccard. (The >MaxHashes overflow
    // estimator path is unit-tested in SketchSpec.)
    Qdef(
      "c07_set_digest",
      """SELECT true AS merge_ok, true AS card_ok, true AS inter_ok, true AS jac_ok
        |FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
      val direct = toks.groupBy("source")
        .agg(expr("make_set_digest(tok)").as("d"))
      val viaMerge = toks.groupBy("source", "lang")
        .agg(expr("make_set_digest(tok)").as("pd"))
        .groupBy("source")
        .agg(expr("merge_set_digest(pd)").as("dm"))
      val mergeOk = direct.join(viaMerge, "source")
        .agg(min(col("d") === col("dm")).as("merge_ok"))
      val d0 = direct.filter(col("source") === "src0").select(col("d").as("d0"))
      val d1 = direct.filter(col("source") === "src1").select(col("d").as("d1"))
      val exact = toks.filter(col("source") === "src0")
        .agg(countDistinct("tok").as("n0"))
      val exactSets = toks.filter(col("source") === "src0").select("tok").distinct()
        .intersect(toks.filter(col("source") === "src1").select("tok").distinct())
        .agg(count(lit(1)).as("n_inter"))
      val exactUnion = toks.select("tok").distinct()
        .agg(count(lit(1)).as("n_union"))
      mergeOk
        .crossJoin(broadcast(d0)).crossJoin(broadcast(d1))
        .crossJoin(broadcast(exact)).crossJoin(broadcast(exactSets))
        .crossJoin(broadcast(exactUnion))
        .select(
          col("merge_ok"),
          (expr("set_digest_cardinality(d0)") === col("n0")).as("card_ok"),
          (expr("intersection_cardinality(d0, d1)") === col("n_inter")).as("inter_ok"),
          (abs(expr("jaccard_index(d0, d1)") -
            col("n_inter").cast("double") / col("n_union")) <= 0.3).as("jac_ok"))
    },

    // KHyperLogLog joinability/uniqueness sketch (reference: type/
    // khyperloglog/KHyperLogLog.java): custkey → distinct order
    // priorities. The key domain is bounded (custkey % 3000) so the
    // sketch stays in its exact sub-K regime at EVERY scale factor
    // (sf0.1 has 14999 raw custkeys vs K=4096, which would flip the
    // exact checks): cardinality EQUALS the exact distinct-key count,
    // the uniqueness distribution EQUALS the exact per-key histogram,
    // and the digest built by merging per-status partials equals the
    // direct digest bit-for-bit. (Overflow estimator + past-cap merge
    // determinism are unit-tested in SketchSpec.)
    Qdef(
      "c08_khyperloglog",
      """SELECT true AS merge_ok, true AS card_ok, true AS dist_ok, true AS reid_ok
        |FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
        .select((col("o_custkey") % 3000).cast("string").as("x"),
          col("o_orderpriority").as("y"), col("o_orderstatus"))
      val direct = ord.agg(expr("khyperloglog_agg(x, y)").as("d"))
      val viaMerge = ord.groupBy("o_orderstatus")
        .agg(expr("khyperloglog_agg(x, y)").as("pd"))
        .agg(expr("merge_khll(pd)").as("dm"))
      val exactCard = ord.agg(countDistinct("x").as("nx"))
      val exactDist = ord.groupBy("x")
        .agg(countDistinct("y").as("c"))
        .groupBy("c").agg(count(lit(1)).as("nk"))
        .agg(concat_ws(",", sort_array(collect_list(
          concat(col("c"), lit(":"), col("nk"))))).as("exact_hist"),
          sum("nk").as("total_keys"),
          sum(when(col("c") <= 1, col("nk")).otherwise(0L)).as("unique_keys"))
      direct.crossJoin(broadcast(viaMerge))
        .crossJoin(broadcast(exactCard)).crossJoin(broadcast(exactDist))
        .select(
          (col("d") === col("dm")).as("merge_ok"),
          (expr("khll_cardinality(d)") === col("nx")).as("card_ok"),
          // sketch histogram (fractions) == exact histogram (counts/total)
          (concat_ws(",", expr(
            """transform(
              |  filter(khll_uniqueness_distribution(d, 8L), e -> e._2 > 0D),
              |  e -> concat(e._1, ':', CAST(round(e._2 * total_keys, 0) AS BIGINT)))
              |""".stripMargin)) === col("exact_hist")).as("dist_ok"),
          (abs(expr("khll_reidentification_potential(d, 1L)") -
            col("unique_keys").cast("double") / col("total_keys")) < 1e-9)
            .as("reid_ok"))
    },

    // Classification-metric aggregates (reference: PrecisionRecall
    // Aggregation.java subclasses): precision/recall/miss-rate/fall-out/
    // threshold curves over 8 buckets. Predictions are exact binary
    // fractions (k/16) so bucket assignment is float-exact on both
    // engines, and DuckDB replays every curve point from first principles.
    Qdef.duckOnly(
      "c09_classification_curves",
      """WITH d AS (
        |  SELECT (o_orderkey % 16) // 2 AS b,
        |         o_orderstatus = 'F' AS label
        |  FROM orders),
        |tot AS (
        |  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS tt,
        |         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS tf,
        |         max(CASE WHEN label THEN b END) AS maxtb
        |  FROM d),
        |m AS (
        |  SELECT i,
        |    (SELECT count(*) FROM d WHERE label AND b >= i) AS tp,
        |    (SELECT count(*) FROM d WHERE NOT label AND b >= i) AS fp,
        |    (SELECT count(*) FROM d WHERE label AND b < i) AS fn
        |  FROM generate_series(0, 7) s(i), tot
        |  WHERE i <= maxtb)
        |SELECT CAST(i AS BIGINT) AS i,
        |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS prec,
        |  round(CAST(tp AS DOUBLE) / tt, 6) AS rec,
        |  round(CAST(fn AS DOUBLE) / tt, 6) AS miss,
        |  round(CAST(fp AS DOUBLE) / tf, 6) AS fallout,
        |  round(i / 8.0, 6) AS thr
        |FROM m, tot
        |ORDER BY i""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "orders").select(
        ((col("o_orderkey") % 16).cast("double") / 16.0).as("pred"),
        (col("o_orderstatus") === "F").as("label"))
      d.agg(
          expr("classification_precision(8L, pred, label)").as("p"),
          expr("classification_recall(8L, pred, label)").as("r"),
          expr("classification_miss_rate(8L, pred, label)").as("m"),
          expr("classification_fall_out(8L, pred, label)").as("f"),
          expr("classification_thresholds(8L, pred, label)").as("t"))
        .select(posexplode(arrays_zip(
          col("p"), col("r"), col("m"), col("f"), col("t"))).as(Seq("i", "z")))
        .select(
          col("i").cast("bigint").as("i"),
          round(col("z.p"), 6).as("prec"),
          round(col("z.r"), 6).as("rec"),
          round(col("z.m"), 6).as("miss"),
          round(col("z.f"), 6).as("fallout"),
          round(col("z.t"), 6).as("thr"))
        .orderBy("i")
    }
  )
}
