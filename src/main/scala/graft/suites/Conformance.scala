package graft.suites

import graft.{Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edge-semantics conformance entries — the places engines classically
  * diverge: NULL join keys, NULL grouping keys, decimal aggregation,
  * unicode strings, aggregates over empty input. (Reference tests these
  * across presto-tests/.../AbstractTestQueries.java and
  * AbstractTestJoinQueries.java null-key cases.)
  */
object Conformance {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // NULL join keys never match (SQL equality is UNKNOWN), but LEFT JOIN
    // still preserves the row.
    Qdef(
      "n01_null_join_keys",
      """SELECT
        |  count(*) AS n_left_rows,
        |  count(s_suppkey) AS n_matched,
        |  count(*) FILTER (WHERE maybe_key IS NULL) AS n_null_keys
        |FROM (
        |  SELECT nullif(c_nationkey, 3) AS maybe_key, c_custkey
        |  FROM customer WHERE c_custkey < 300) c
        |LEFT JOIN supplier ON maybe_key = s_nationkey AND s_acctbal > 9000""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_custkey") < 300)
        .select(nullif(col("c_nationkey"), lit(3)).as("maybe_key"), col("c_custkey"))
      c.join(t(s, dir, "supplier"),
          col("maybe_key") === col("s_nationkey") && col("s_acctbal") > 9000, "left")
        .agg(
          count(lit(1)).as("n_left_rows"),
          count(col("s_suppkey")).as("n_matched"),
          count_if(col("maybe_key").isNull).as("n_null_keys"))
    },

    // NULL grouping keys form ONE group (SQL GROUP BY treats NULLs as
    // equal — unlike join equality).
    Qdef(
      "n02_null_group_key",
      """SELECT coalesce(CAST(nullif(c_nationkey, 3) AS VARCHAR(10)), 'NULL') AS k,
        |  count(*) AS cnt
        |FROM customer
        |WHERE c_nationkey IN (2, 3, 4)
        |GROUP BY nullif(c_nationkey, 3)
        |ORDER BY k""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_nationkey").isin(2, 3, 4))
        .groupBy(nullif(col("c_nationkey"), lit(3)).as("gk"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("gk").cast("string"), lit("NULL")).as("k"), col("cnt"))
        .orderBy("k")
    },

    // Decimal aggregation path (exact arithmetic internally; surfaced as
    // DOUBLE so the cross-engine schema agrees).
    Qdef(
      "n03_decimal_sum",
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS total_dec,
        |  CAST(avg(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS avg_dec
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_dec"),
          avg(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("avg_dec"))
        .orderBy("o_orderstatus")
    },

    // Unicode literals: length/substr/upper/reverse count CHARACTERS, not
    // bytes, on both engines.
    Qdef(
      "n04_unicode_strings",
      """SELECT s,
        |  length(s) AS n_chars,
        |  upper(s) AS up,
        |  substr(s, 2, 3) AS mid,
        |  reverse(s) AS rev
        |FROM (VALUES ('héllo'), ('über'), ('naïve'), ('日本語abc')) AS t(s)
        |ORDER BY s""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq("héllo", "über", "naïve", "日本語abc").toDF("s")
        .select(
          col("s"),
          length(col("s")).as("n_chars"),
          upper(col("s")).as("up"),
          substring(col("s"), 2, 3).as("mid"),
          reverse(col("s")).as("rev"))
        .orderBy("s")
    },

    // Aggregates over EMPTY input: global aggregation yields one row
    // (count 0, NULL sums); grouped aggregation yields zero rows.
    Qdef(
      "n05_empty_input_aggs",
      """SELECT
        |  count(*) AS n,
        |  sum(o_totalprice) AS s,
        |  min(o_orderdate) AS mn,
        |  max(o_orderkey) AS mx
        |FROM orders
        |WHERE o_orderkey < 0""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 0)
        .agg(
          count(lit(1)).as("n"),
          sum("o_totalprice").as("s"),
          min("o_orderdate").as("mn"),
          max("o_orderkey").as("mx"))
    },

    // Empty-group semantics of the CUSTOM aggregates, matching the
    // reference: checksum/tdigest/qdigest of no rows are NULL (nullable
    // state never initialized), entropy is 0.0 (defined case), and the
    // quantile scalars propagate the NULL digest.
    Qdef(
      "n06_empty_custom_aggs",
      """SELECT
        |  CAST(NULL AS BIGINT) AS cksum,
        |  CAST(0.0 AS DOUBLE) AS ent,
        |  CAST(NULL AS DOUBLE) AS td_p50,
        |  CAST(NULL AS DOUBLE) AS qd_p50
        |FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 0)
        .agg(
          expr("checksum(o_totalprice)").as("cksum"),
          expr("entropy(o_totalprice)").as("ent"),
          expr("td_value_at_quantile(tdigest_agg(o_totalprice), 0.5)").as("td_p50"),
          expr("value_at_quantile(qdigest_agg(o_totalprice), 0.5)").as("qd_p50"))
    },

    // ANSI arithmetic-error semantics (round-12; reference: division by
    // zero and numeric overflow RAISE — presto-main/.../type/
    // BigintOperators.java:114,126 DIVISION_BY_ZERO/NUMERIC_VALUE_OUT_OF_
    // RANGE). The engine's DEFAULT session (Spark 4's own ANSI default,
    // pinned in Engine.session) matches the reference's raising
    // semantics exactly, with Spark's error classes; TRY(...) stays
    // null-on-error like the reference's TRY over a raising expression.
    // `SET SESSION ansi_errors = false` opts into Spark's legacy
    // NULL-on-error arithmetic. The probes run EAGERLY inside the
    // builder (driver-side try/catch — a lazily-built frame would
    // evaluate after the conf restore), and the entry's value is the
    // observed outcome table.
    Qdef.duckOnly(
      "n07_ansi_error_semantics",
      """SELECT * FROM (VALUES
        |  ('div_zero',      'DIVIDE_BY_ZERO'),
        |  ('long_overflow', 'ARITHMETIC_OVERFLOW'),
        |  ('cast_overflow', 'CAST_OVERFLOW'),
        |  ('cast_malformed','CAST_INVALID_INPUT'),
        |  ('mod_zero',      'REMAINDER_BY_ZERO'),
        |  ('subscript_oob', 'INVALID_ARRAY_INDEX_IN_ELEMENT_AT'),
        |  ('element_at_oob','NULL'),
        |  ('element_at_map_missing','NULL'),
        |  ('subscript_map_missing','USER_RAISED_EXCEPTION'),
        |  ('try_div_zero',  'NULL'),
        |  ('try_overflow',  'NULL'),
        |  ('try_cast_bad',  'NULL'),
        |  ('legacy_div_zero', 'NULL')
        |) AS t(probe, outcome) ORDER BY probe""".stripMargin) { (s, dir) =>
      import s.implicits._
      def outcomeOf(sql: String): String =
        try {
          val r = graft.Engine.sql(s, dir, sql).collect()
          if (r.head.isNullAt(0)) "NULL" else r.head.get(0).toString
        } catch {
          case st: org.apache.spark.SparkThrowable
            if st.getCondition != null => st.getCondition
          case e: Throwable => e.getClass.getSimpleName
        }
      val prev = s.conf.get("spark.sql.ansi.enabled", "true")
      val ansi =
        try {
          graft.Engine.sql(s, dir, "SET SESSION ansi_errors = true").collect()
          Seq(
            "div_zero"       -> outcomeOf("SELECT 1/0"),
            "long_overflow"  -> outcomeOf("SELECT 9223372036854775807 + 1"),
            "cast_overflow"  -> outcomeOf("SELECT CAST(300 AS TINYINT)"),
            "cast_malformed" -> outcomeOf("SELECT CAST('abc' AS INTEGER)"),
            "mod_zero"       -> outcomeOf("SELECT MOD(10, 0)"),
            // Presto's SUBSCRIPT throws on an out-of-range index
            // (ArraySubscriptOperator) — ANSI element_at matches —
            // while Presto's element_at FUNCTION returns NULL
            // (ArrayElementAtFunction), hence the try_element_at alias.
            "subscript_oob"  -> outcomeOf("SELECT (ARRAY[1, 2, 3])[5]"),
            "element_at_oob" -> outcomeOf("SELECT element_at(ARRAY[1, 2, 3], 5)"),
            // Presto's map raise/NULL split: map[k] RAISES on a missing
            // key ("Key not present in map", MapSubscriptOperator
            // .java:129 — Spark 4 removed its raising accessor in
            // SPARK-40066, so the facade lowers the subscript to a
            // guarded raise, plans/PrestoConformance) while element_at
            // returns NULL — both probed
            "element_at_map_missing" ->
              outcomeOf("SELECT element_at(MAP(ARRAY['a'], ARRAY[1]), 'zz')"),
            "subscript_map_missing" ->
              outcomeOf("SELECT MAP(ARRAY['a'], ARRAY[1])['zz']"),
            "try_div_zero"   -> outcomeOf("SELECT TRY(1/0)"),
            "try_overflow"   -> outcomeOf("SELECT TRY(9223372036854775807 + 1)"),
            "try_cast_bad"   -> outcomeOf("SELECT TRY_CAST('abc' AS INTEGER)"))
        } finally s.conf.set("spark.sql.ansi.enabled", prev)
      val legacy =
        try {
          graft.Engine.sql(s, dir, "SET SESSION ansi_errors = false").collect()
          Seq("legacy_div_zero" -> outcomeOf("SELECT 1/0"))
        } finally s.conf.set("spark.sql.ansi.enabled", prev)
      (ansi ++ legacy).toDF("probe", "outcome").orderBy("probe")
    }
  )
}
