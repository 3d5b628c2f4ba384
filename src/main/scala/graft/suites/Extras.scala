package graft.suites

import graft.{Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 items: TRY semantics (error→NULL), bitwise scalar
  * operators, URL extraction, exact-when-small approx_most_frequent,
  * min/max(x, n), and reduce_agg-style folding.
  */
object Extras {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // TRY semantics: division by zero and bad casts become NULL instead of
    // failing the query (reference: presto-main/.../operator/scalar/
    // TryFunction.java + TryCastFunction.java; Spark: try_* under ANSI).
    Qdef(
      "e01_try_semantics",
      """SELECT
        |  count(*) AS n,
        |  count(CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |             ELSE o_totalprice / (o_orderkey % 3) END) AS n_div_ok,
        |  count(TRY_CAST(o_orderpriority AS DOUBLE)) AS n_cast_ok,
        |  round(sum(coalesce(CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |             ELSE o_totalprice / (o_orderkey % 3) END, 0)), 2) AS div_sum
        |FROM orders
        |WHERE o_orderkey < 3000""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .agg(
          count(lit(1)).as("n"),
          count(try_divide(col("o_totalprice"), col("o_orderkey") % 3)).as("n_div_ok"),
          count(col("o_orderpriority").try_cast("double")).as("n_cast_ok"),
          round(sum(coalesce(
            try_divide(col("o_totalprice"), col("o_orderkey") % 3), lit(0))), 2)
            .as("div_sum"))
    },

    // Bitwise scalar operators (reference: presto-main/.../operator/
    // scalar/BitwiseFunctions.java — 20 fns; Spark: &,|,^,shifts).
    Qdef(
      "e02_bitwise_scalars",
      """SELECT o_orderkey,
        |  CAST(o_orderkey & 255 AS BIGINT) AS k_and,
        |  CAST(o_orderkey | 4096 AS BIGINT) AS k_or,
        |  CAST((o_orderkey | 5) - (o_orderkey & 5) AS BIGINT) AS k_xor,
        |  CAST(o_orderkey * 4 AS BIGINT) AS k_shl2,
        |  CAST(floor(o_orderkey / 8) AS BIGINT) AS k_shr3
        |FROM orders
        |WHERE o_orderkey < 100
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 100)
        .selectExpr(
          "o_orderkey",
          "CAST(o_orderkey & 255 AS BIGINT) AS k_and",
          "CAST(o_orderkey | 4096 AS BIGINT) AS k_or",
          "CAST(o_orderkey ^ 5 AS BIGINT) AS k_xor",
          "CAST(shiftleft(o_orderkey, 2) AS BIGINT) AS k_shl2",
          "CAST(shiftright(o_orderkey, 3) AS BIGINT) AS k_shr3")
        .orderBy("o_orderkey")
    },

    // URL extraction (reference: presto-main/.../operator/scalar/
    // UrlFunctions.java; Spark parse_url vs a regex oracle).
    Qdef.duckOnly(
      "e03_url_functions",
      """SELECT url,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        |  regexp_extract(url, '://([^/:?#]+)', 1) AS host,
        |  regexp_extract(url, '://[^/?#]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, 'q=([^&#]+)', 1) AS q_param
        |FROM (
        |  SELECT 'https://example.com/search?q=spark&lang=en' AS url
        |  UNION ALL SELECT 'http://data.org/docs/index.html?q=dedup'
        |  UNION ALL SELECT 'https://host.io/a/b/c') urls
        |ORDER BY url""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq("https://example.com/search?q=spark&lang=en",
        "http://data.org/docs/index.html?q=dedup",
        "https://host.io/a/b/c").toDF("url")
        .selectExpr(
          "url",
          "lower(parse_url(url, 'PROTOCOL')) AS proto",
          "parse_url(url, 'HOST') AS host",
          "parse_url(url, 'PATH') AS path",
          "coalesce(parse_url(url, 'QUERY', 'q'), '') AS q_param")
        .orderBy("url")
    },

    // approx_most_frequent via space-saving (reference: presto-main/.../
    // operator/aggregation/approxmostfrequent/): with capacity ≥ #distinct
    // the sketch is EXACT, so the oracle can check it with plain SQL.
    Qdef(
      "e04_approx_most_frequent",
      """SELECT o_orderpriority AS k, count(*) AS cnt
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY cnt DESC, k
        |LIMIT 3""".stripMargin) { (s, dir) =>
      graft.functions.ApproxMostFrequent.topK(
        t(s, dir, "orders"), col("o_orderpriority"), k = 3, capacity = 8)
    },

    // min(x, n) / max(x, n) — the n-smallest/largest values as sorted
    // arrays (reference: MinNAggregationFunction.java + TypedHeap.java),
    // surfaced as joined strings for comparison.
    Qdef.duckOnly(
      "e05_min_max_n",
      """SELECT o_orderstatus,
        |  array_to_string(list_sort(list(o_totalprice))[1:3], ',') AS min3,
        |  array_to_string(list_reverse_sort(list(o_totalprice))[1:3], ',') AS max3
        |FROM (SELECT o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        |      FROM orders)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus"), round(col("o_totalprice"), 2).as("p"))
        .groupBy("o_orderstatus")
        .agg(
          concat_ws(",", slice(array_sort(collect_list(col("p"))), 1, 3)).as("min3"),
          concat_ws(",", slice(reverse(array_sort(collect_list(col("p")))), 1, 3))
            .as("max3"))
        .orderBy("o_orderstatus")
    },

    // reduce_agg analog: fold a collected group through a lambda
    // (reference: ReduceAggregationFunction.java). The fold sorts its
    // input first (reduce_agg is only deterministic for commutative
    // reducers; sorting makes the float sum order-stable) and the result
    // stays in the log domain so round(…, 6) absorbs last-ulp noise —
    // exp() of a large sum would amplify it past any rounding.
    Qdef(
      "e06_reduce_agg",
      """SELECT l_returnflag,
        |  round(sum(ln(1 + l_discount)), 6) AS discount_log_sum
        |FROM lineitem
        |WHERE l_orderkey < 500
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 500)
        .groupBy("l_returnflag")
        .agg(round(expr(
          "aggregate(array_sort(collect_list(ln(1 + l_discount))), CAST(0 AS DOUBLE), (a, x) -> a + x)"),
          6).as("discount_log_sum"))
        .orderBy("l_returnflag")
    },

    // Session/introspection trivia scalars through the facade (reference:
    // operator/scalar/TypeOfFunction.java, DataSizeFunctions.java,
    // WilsonInterval.java, SessionFunctions.java). typeof strings are OUR
    // documented display names (string LITERALS report their parameterized
    // length like the reference — typeof('x') = varchar(1) — while column
    // varchars stay unparameterized: Spark strings are unbounded); the
    // oracle pins them plus exact data-size bytes and the Wilson formula
    // replayed arithmetically.
    Qdef.duckOnly(
      "e07_trivia_scalars",
      """SELECT
        |  'bigint' AS t_bigint,
        |  'double' AS t_double,
        |  'varchar(1)' AS t_varchar,
        |  'array(integer)' AS t_array,
        |  'map(varchar, bigint)' AS t_map,
        |  CAST(2411724 AS BIGINT) AS mb_bytes,
        |  CAST(1024 AS BIGINT) AS kb_bytes,
        |  CAST(130023424 AS BIGINT) AS gb_frac_bytes,
        |  round((1250.0/1310 + 1.96*1.96/(2*1310) - 1.96*sqrt((1250.0/1310*(1 - 1250.0/1310))/1310 + 1.96*1.96/(4*1310.0*1310)))
        |        / (1 + 1.96*1.96/1310), 9) AS wilson_lo,
        |  round((1250.0/1310 + 1.96*1.96/(2*1310) + 1.96*sqrt((1250.0/1310*(1 - 1250.0/1310))/1310 + 1.96*1.96/(4*1310.0*1310)))
        |        / (1 + 1.96*1.96/1310), 9) AS wilson_hi,
        |  'ff' AS hex255,
        |  CAST(255 AS BIGINT) AS ff_val,
        |  '-1010' AS neg_bin,
        |  CAST(-10 AS BIGINT) AS neg_val,
        |  'root' AS who""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT
          |  typeof(CAST(1 AS BIGINT)) AS t_bigint,
          |  typeof(1.5E0) AS t_double,
          |  typeof('x') AS t_varchar,
          |  typeof(ARRAY[1, 2]) AS t_array,
          |  typeof(map(ARRAY['a'], ARRAY[CAST(1 AS BIGINT)])) AS t_map,
          |  CAST(parse_presto_data_size('2.3MB') AS BIGINT) AS mb_bytes,
          |  CAST(parse_presto_data_size('1kB') AS BIGINT) AS kb_bytes,
          |  CAST(parse_presto_data_size('0.12109375GB') AS BIGINT) AS gb_frac_bytes,
          |  round(wilson_interval_lower(1250, 1310, 1.96E0), 9) AS wilson_lo,
          |  round(wilson_interval_upper(1250, 1310, 1.96E0), 9) AS wilson_hi,
          |  to_base(255, 16) AS hex255,
          |  from_base('ff', 16) AS ff_val,
          |  to_base(-10, 2) AS neg_bin,
          |  from_base('-1010', 2) AS neg_val,
          |  current_user AS who""".stripMargin)
    },

    // differential_entropy, fixed-histogram MLE method (reference:
    // operator/aggregation/differentialentropy/
    // FixedHistogramMleStateStrategy.java): entropy in bits of the
    // bucket-weight distribution plus ln(bucket width). Deterministic, so
    // the oracle replays the exact histogram in SQL. l_quantity ∈ [1, 50];
    // 16 buckets over [0, 51] → width 3.1875.
    Qdef.duckOnly(
      "e08_differential_entropy",
      """WITH s AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x
        |  FROM lineitem WHERE l_orderkey < 2000),
        |b AS (
        |  SELECT LEAST(15, CAST(FLOOR(x / 3.1875) AS INTEGER)) AS idx,
        |         CAST(count(*) AS DOUBLE) AS w
        |  FROM s GROUP BY 1),
        |t AS (SELECT sum(w) AS total FROM b)
        |SELECT round((-sum((w/total) * ln(w/total)) + ln(3.1875)) / ln(2), 6) AS h
        |FROM b, t""".stripMargin) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT round(differential_entropy(
          |    CAST(16 AS BIGINT), CAST(l_quantity AS DOUBLE),
          |    CAST(1 AS DOUBLE), 'fixed_histogram_mle',
          |    CAST(0 AS DOUBLE), CAST(51 AS DOUBLE)), 6) AS h
          |FROM lineitem WHERE l_orderkey < 2000""".stripMargin)
    },

    // Teradata compatibility pack (reference: presto-teradata-functions/
    // .../TeradataDateFunctions.java, TeradataStringFunctions.java):
    // to_char/to_date/to_timestamp with the 8-specifier Teradata format
    // dialect, index (= strpos), char2hexint (UTF-16BE hex). The DuckDB
    // oracle replays the formats with strftime and rebuilds the UTF-16BE
    // hex from per-char code points (ASCII rows → 00XX pairs).
    Qdef.duckOnly(
      "e09_teradata_compat",
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y/%m/%d') AS d_str,
        |  CAST(o_orderdate AS DATE) AS d_rt,
        |  CAST(o_orderdate AS TIMESTAMP) AS ts_rt,
        |  CAST(strpos(o_orderpriority, 'N') AS BIGINT) AS n_idx,
        |  upper(concat(
        |    '00', to_hex(ord(substr(o_orderpriority, 1, 1))),
        |    '00', to_hex(ord(substr(o_orderpriority, 2, 1))))) AS hex2
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin) {
      (s, dir) =>
        graft.Engine.sql(s, dir,
          """SELECT o_orderkey,
            |  to_char(CAST(o_orderdate AS TIMESTAMP), 'yyyy/mm/dd') AS d_str,
            |  to_date(to_char(CAST(o_orderdate AS TIMESTAMP), 'yyyy-mm-dd'), 'yyyy-mm-dd') AS d_rt,
            |  to_timestamp(to_char(CAST(o_orderdate AS TIMESTAMP), 'dd.mm.yyyy hh24:mi:ss'), 'dd.mm.yyyy hh24:mi:ss') AS ts_rt,
            |  CAST(index(o_orderpriority, 'N') AS BIGINT) AS n_idx,
            |  char2hexint(substr(o_orderpriority, 1, 2)) AS hex2
            |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin)
    },

    // Color/visualization scalars (reference: scalar/ColorFunctions.java)
    // over real rows: rgb/color-parse arithmetic, render's ANSI framing
    // (chr(27) escapes replayed literally by DuckDB), and bar's
    // block-count/padding geometry. The HSB interior interpolation isn't
    // SQL-replayable — its corners (fraction 0/1 = exact endpoints) are
    // covered here via bar's first/last block escapes, the midpoints in
    // ColorPackSpec.
    Qdef.duckOnly(
      "e10_color_functions",
      """SELECT o_orderkey,
        |  65536 * (o_orderkey % 256) + 256 * 32 + 64 AS rgb_val,
        |  CASE o_orderkey % 3 WHEN 0 THEN 16711680
        |    WHEN 1 THEN 1118481 ELSE -2 END AS parsed,
        |  chr(27) || '[38;5;' ||
        |    CAST(16 + ((o_orderkey % 256) * 6 // 256) * 36 + 0 * 6 + 1
        |      AS VARCHAR) || 'm' || o_orderstatus || chr(27) || '[0m'
        |    AS rendered,
        |  chr(27) || '[38;5;2m' || chr(10003) || chr(27) || '[0m' AS r_true,
        |  CAST(10 + length(chr(27) || '[0m')
        |    + 10 * length(chr(27) || '[38;5;46m') AS BIGINT) AS bar_len,
        |  9 AS bar_blocks
        |FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey""".stripMargin) {
      (s, dir) =>
        graft.Engine.sql(s, dir,
          """SELECT o_orderkey,
            |  rgb(o_orderkey % 256, 32, 64) AS rgb_val,
            |  CASE o_orderkey % 3 WHEN 0 THEN color('#f00')
            |    WHEN 1 THEN color('#111') ELSE color('red') END AS parsed,
            |  render(o_orderstatus, rgb(o_orderkey % 256, 0, 64)) AS rendered,
            |  render(true) AS r_true,
            |  CAST(length(bar(1.0, 10, rgb(0, 255, 0), rgb(0, 255, 0)))
            |    AS BIGINT) AS bar_len,
            |  CAST(length(regexp_replace(
            |      bar(0.999, 10, color('#0f0'), color('#0f0')),
            |      '[^█]', '')) AS BIGINT) AS bar_blocks
            |FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey""".stripMargin)
    },

    // secure_random (reference: scalar/MathFunctions.java:699-797) —
    // property oracle, necessarily: a CSPRNG cannot be replayed. Bounds
    // hold for every row, the integral form keeps its input type, and
    // 500 draws are not all equal (collision probability ~0).
    Qdef(
      "e11_secure_random",
      "SELECT true AS in_unit, true AS in_range, true AS long_typed, " +
        "true AS varied, true AS rand_bounded"
    ) { (s, dir) =>
      graft.Engine.sql(s, dir,
        """SELECT
          |  bool_and(u >= 0.0 AND u < 1.0) AS in_unit,
          |  bool_and(r >= -5.0 AND r < 5.0) AS in_range,
          |  bool_and(b >= 10 AND b < 20) AS long_typed,
          |  count(DISTINCT u) > 1 AS varied,
          |  bool_and(rn >= 0 AND rn < 10) AS rand_bounded
          |FROM (
          |  SELECT secure_random() AS u,
          |         secure_random(-5.0, 5.0) AS r,
          |         secure_rand(10, 20) AS b,
          |         random(10) AS rn
          |  FROM orders WHERE o_orderkey < 500) t""".stripMargin)
    }
  )
}
