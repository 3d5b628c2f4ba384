package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** The `Engine.sql` facade as a USER sees it: a fresh `Engine.session`
  * must expose every custom function and the utility-statement surface
  * (reference: the full registry is visible to every query —
  * presto-main/.../metadata/BuiltInTypeAndFunctionNamespaceManager.java;
  * SHOW/EXPLAIN/SET SESSION from SqlBase.g4:36-135).
  */
class FacadeSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def dir = TestSpark.sfDir

  private def one(sql: String): Any =
    Engine.sql(spark, dir, sql).collect()(0).get(0)

  test("Engine.sql fails loudly on a session built without GraftExtensions") {
    // a second session on the same context, without the extension
    val bare = org.apache.spark.sql.SparkSession.builder().create()
    val e = intercept[IllegalStateException](Engine.sql(bare, dir, "SELECT 1"))
    assert(e.getMessage.contains("graft.plans.GraftExtensions"), e.getMessage)
  }

  test("Engine.session keeps a master already set in conf") {
    import org.apache.spark.SparkConf
    assert(Engine.masterFor(
      new SparkConf(false).set("spark.master", "local[3]"), cores = 8) == "local[3]")
    assert(Engine.masterFor(new SparkConf(false), cores = 8) == "local[8]")
  }

  test("Engine.session pins ANSI on and the checkpoint checksum off; a session may flip either") {
    val checksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get(checksum) == "false")
    val s = spark.newSession()
    Engine.sql(s, dir, "SET SESSION ansi_errors = false").collect()
    assert(Engine.sql(s, dir, "SELECT 1 / 0").collect()(0).isNullAt(0))
    s.conf.set(checksum, "true")
    assert(s.conf.get(checksum) == "true")
    // the caller's session is untouched, and still raises
    assert(spark.conf.get(checksum) == "false")
    intercept[Exception](Engine.sql(spark, dir, "SELECT 1 / 0").collect())
  }

  test("custom aggregates resolve through bare Engine.sql") {
    assert(one("SELECT cardinality(map_union_sum(m)) FROM (SELECT map(ARRAY['a'], ARRAY[1L]) AS m)") == 1)
    assert(one("SELECT round(geometric_mean(x), 4) FROM (VALUES (2.0), (8.0)) t(x)")
      == 4.0)
    val hll = one(
      "SELECT hll_cardinality(merge_hll(h)) FROM (SELECT approx_set_agg(xxhash64(CAST(l_orderkey AS STRING))) AS h FROM lineitem)")
    assert(hll.asInstanceOf[Long] > 0)
    val q50 = one(
      "SELECT value_at_quantile(qdigest_agg(o_totalprice), 0.5) FROM orders")
    assert(q50.asInstanceOf[Double] > 0)
    val t50 = one(
      "SELECT td_value_at_quantile(tdigest_agg(o_totalprice), 0.5) FROM orders")
    assert(t50.asInstanceOf[Double] > 0)
    assert(one("SELECT checksum(x) = checksum(x + 0) FROM (VALUES (1L), (2L)) t(x)")
      == true)
    assert(one("SELECT round(entropy(c), 6) FROM (VALUES (1.0), (1.0)) t(c)") == 1.0)
    assert(one("SELECT size(set_agg(x)) FROM (VALUES ('a'), ('a'), ('b')) t(x)") == 2)
    assert(one(
      "SELECT size(set_union(xs)) FROM (VALUES (array('a','b')), (array('b','c'))) t(xs)")
      == 3)
    assert(one(
      "SELECT size(multimap_agg(k, v)) FROM (VALUES ('a', '1'), ('a', '2')) t(k, v)")
      == 1)
    assert(one(
      "SELECT cardinality(numeric_histogram(4L, x)) <= 4 FROM (VALUES (1.0), (2.0), (9.0)) t(x)")
      == true)
  }

  test("sketch families resolve through bare Engine.sql") {
    assert(one(
      "SELECT set_digest_cardinality(make_set_digest(x)) FROM (VALUES ('a'), ('b'), ('a')) t(x)")
      == 2L)
    assert(one(
      "SELECT jaccard_index(make_set_digest(x), make_set_digest(x)) FROM (VALUES ('a')) t(x)")
      == 1.0)
    assert(one(
      "SELECT khll_cardinality(khyperloglog_agg(k, v)) FROM (VALUES ('k1', 'x'), ('k2', 'y')) t(k, v)")
      == 2L)
    // the reference SQL names: reidentification_potential, plus both
    // uniqueness_distribution arities (1-arg = digest minhash size;
    // 2-arg rewritten onto the explicit-size registration)
    assert(one(
      """SELECT reidentification_potential(khyperloglog_agg(k, v), 1)
        |FROM (VALUES ('a','x'), ('a','y'), ('b','x')) t(k, v)""".stripMargin)
      == 0.5)
    assert(one(
      """SELECT cardinality(uniqueness_distribution(khyperloglog_agg(k, v)))
        |FROM (VALUES ('a','x'), ('a','y'), ('b','x')) t(k, v)""".stripMargin)
      == 2)
    assert(one(
      """SELECT cardinality(uniqueness_distribution(khyperloglog_agg(k, v), 8))
        |FROM (VALUES ('a','x'), ('a','y'), ('b','x')) t(k, v)""".stripMargin)
      == 8)
    assert(one(
      "SELECT size(classification_precision(4L, p, l)) FROM (VALUES (0.9D, true), (0.1D, false)) t(p, l)")
      == 4)
    assert(one(
      "SELECT size(bottom_k_sample(x, 2L)) FROM (VALUES ('a'), ('b'), ('c')) t(x)")
      == 2)
  }

  test("custom scalars resolve through bare Engine.sql") {
    assert(one("SELECT word_stem('motoring')") == "motor")
    assert(one("SELECT length(hex(hmac_sha256(CAST('x' AS BINARY), CAST('k' AS BINARY))))")
      == 64)
    assert(one("SELECT truncate(8.91)") == 8.0)
    assert(one("SELECT truncate(-8.91)") == -8.0)
    assert(one("SELECT truncate(123.456, 1)") == 123.4)
    assert(one("SELECT bitwise_and(12, 10)") == 8L)
    assert(one("SELECT log(8, 2)") == 3.0) // Presto log(number, base)
    assert(one("SELECT cosine_similarity(map(ARRAY['a'], ARRAY[1.0D]), map(ARRAY['a'], ARRAY[1.0D]))") == 1.0)
    assert(one("SELECT size(ngrams(array('a','b','c'), 2))") == 2)
    assert(one("SELECT size(combinations(array('a','b','c'), 2))") == 3)
    assert(one("SELECT cardinality(split_to_map('a=1,b=2', ',', '='))") == 2)
    assert(one("SELECT element_at(map_normalize(map('a', 1.0D, 'b', 3.0D)), 'b')")
      == 0.75)
    assert(one("SELECT to_iso8601(TIMESTAMP '2024-01-02 03:04:05')")
      == "2024-01-02T03:04:05")
  }

  test("array extras and lambda predicates resolve through the facade") {
    assert(one("SELECT all_match(ARRAY[2, 4], x -> x % 2 = 0)") == true)
    assert(one("SELECT all_match(CAST(ARRAY[] AS ARRAY<INT>), x -> x > 0)") == true)
    assert(one("SELECT any_match(ARRAY[1, 3, 4], x -> x % 2 = 0)") == true)
    assert(one("SELECT none_match(ARRAY[1, 3], x -> x % 2 = 0)") == true)
    assert(one("SELECT array_sum(ARRAY[1, 2, NULL])") == 3L)
    assert(one("SELECT array_sum(ARRAY[1.5E0, 2.5E0])") == 4.0)
    assert(one("SELECT array_sum(CAST(ARRAY[] AS ARRAY<BIGINT>))") == 0L)
    assert(one("SELECT array_average(ARRAY[1, 2, NULL, 3])") == 2.0)
    assert(one("SELECT array_average(CAST(ARRAY[] AS ARRAY<INT>))") == null)
    assert(one("SELECT element_at(array_frequency(ARRAY['a','b','a']), 'a')") == 2)
    assert(one("SELECT array_sort(array_duplicates(ARRAY[1, 2, 1, 3, 3]))")
      .asInstanceOf[scala.collection.Seq[Int]].sorted == Seq(1, 3))
    assert(one("SELECT array_has_duplicates(ARRAY[1, 2])") == false)
    assert(one("SELECT array_has_dupes(ARRAY[NULL, NULL, 1])") == true)
    assert(one("SELECT trim_array(ARRAY[1, 2, 3], 1)")
      .asInstanceOf[scala.collection.Seq[Int]] == Seq(1, 2))
    assert(one("SELECT day_of_month(DATE '2024-02-10')") == 10)
    assert(one("SELECT last_day_of_month(DATE '2024-02-10')")
      == java.sql.Date.valueOf("2024-02-29"))
    assert(one("SELECT millisecond(TIMESTAMP '2024-01-01 00:00:00.123')") == 123L)
    assert(one("SELECT bitwise_right_shift(8, 2)") == 2L)
    assert(one("SELECT bitwise_right_shift_arithmetic(-8, 2)") == -2L)
    assert(one("SELECT bitwise_shift_left(1, 3)") == 8L)
  }

  test("binary encoding and hash scalars resolve through the facade") {
    assert(one("SELECT to_hex(from_hex('6b19'))") == "6B19")
    assert(one("SELECT from_big_endian_32(to_big_endian_32(7))") == 7)
    assert(one("SELECT from_big_endian_64(to_big_endian_64(-2))") == -2L)
    assert(one("SELECT from_ieee754_64(to_ieee754_64(2.5E0))") == 2.5)
    assert(one("SELECT from_ieee754_32(to_ieee754_32(CAST(1.5 AS REAL)))") == 1.5f)
    assert(one("SELECT to_hex(murmur3_x64_128(CAST('hashme' AS VARBINARY)))")
      == "93192FE805BE23041C8318F67EC4F2BC")
    assert(one("SELECT to_hex(spooky_hash_v2_64(CAST('hello' AS VARBINARY)))")
      == "3768826AD382E6CA")
    assert(one("SELECT to_hex(spooky_hash_v2_32(CAST('' AS VARBINARY)))") == "6BF50919")
    assert(one("SELECT fnv1_64(from_hex(''))") == 0xcbf29ce484222325L)
    assert(one("SELECT fnv1a_32(from_hex('0919'))") == 0x34881807L)
    assert(one("SELECT to_hex(sha256(CAST('' AS VARBINARY)))")
      == "E3B0C44298FC1C149AFBF4C8996FB92427AE41E4649B934CA495991B7852B855")
    assert(one("SELECT length(sha512(CAST('x' AS VARBINARY)))") == 64)
    assert(one("SELECT to_base64url(from_hex('FBEF'))") == "--8=")
    assert(one("SELECT to_hex(from_base64url('--8='))") == "FBEF")
    assert(one("SELECT CAST(from_base64(to_base64(CAST('hi' AS VARBINARY))) AS VARCHAR)") == "hi")
    val ksp = one("SELECT key_sampling_percent('some-key')").asInstanceOf[Double]
    assert(ksp >= 0.0 && ksp < 1.0)
  }

  test("cdf scalars match closed-form reference values") {
    def d(sql: String): Double = one(sql).asInstanceOf[Double]
    assert(math.abs(d("SELECT normal_cdf(0E0, 1E0, 1.96E0)") - 0.9750021048517795) < 1e-12)
    assert(math.abs(d("SELECT inverse_normal_cdf(0E0, 1E0, 0.975E0)") - 1.959963984540054) < 1e-9)
    assert(math.abs(d("SELECT chi_squared_cdf(2E0, 2E0)") - (1 - math.exp(-1))) < 1e-12)
    assert(math.abs(d("SELECT weibull_cdf(1E0, 2E0, 2E0)") - (1 - math.exp(-1))) < 1e-12)
    assert(d("SELECT cauchy_cdf(0E0, 1E0, 1E0)") == 0.75)
    assert(math.abs(d("SELECT beta_cdf(2E0, 2E0, 0.5E0)") - 0.5) < 1e-12)
    assert(math.abs(d("SELECT binomial_cdf(10, 0.5E0, 5)") - 0.623046875) < 1e-12)
    assert(math.abs(d("SELECT poisson_cdf(1E0, 0)") - math.exp(-1)) < 1e-12)
    assert(one("SELECT inverse_poisson_cdf(3E0, 0.5E0)") == 3)
    assert(one("SELECT inverse_binomial_cdf(10, 0.5E0, 0.5E0)") == 5)
    // inverse∘cdf round-trips on each continuous family
    assert(math.abs(d("SELECT inverse_beta_cdf(2E0, 5E0, beta_cdf(2E0, 5E0, 0.3E0))") - 0.3) < 1e-9)
    assert(math.abs(d("SELECT inverse_cauchy_cdf(0E0, 1E0, 0.75E0)") - 1.0) < 1e-9)
    assert(math.abs(d("SELECT inverse_chi_squared_cdf(3E0, chi_squared_cdf(3E0, 1.7E0))") - 1.7) < 1e-9)
    assert(math.abs(d("SELECT inverse_weibull_cdf(1.5E0, 2E0, weibull_cdf(1.5E0, 2E0, 1.1E0))") - 1.1) < 1e-9)
  }

  test("json_extract, strrpos, split_to_multimap, datetime extras") {
    assert(one("""SELECT json_extract('{"a": {"b": [10, 20]}}', '$.a.b[1]')""") == "20")
    assert(one("""SELECT json_extract('{"a": {"b": "x"}}', '$.a.b')""") == "\"x\"")
    assert(one("""SELECT json_extract('{"a": 1}', '$.missing')""") == null)
    assert(one("""SELECT json_extract('{"a b": 7}', '$["a b"]')""") == "7")
    assert(one("SELECT is_json_scalar('7')") == true)
    assert(one("SELECT is_json_scalar('[1, 2]')") == false)
    assert(one("SELECT strrpos('ababab', 'ab')") == 5L)
    assert(one("SELECT strrpos('abc', 'z')") == 0L)
    assert(one("SELECT element_at(split_to_multimap('a=1,b=2,a=3', ',', '='), 'a')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("1", "3"))
    // a TRAILING entry delimiter is dropped (the reference's
    // while (entryStart < length) loop never sees the empty last entry):
    // 'a=1,' → {a:[1]}
    assert(one("SELECT element_at(split_to_multimap('a=1,', ',', '='), 'a')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("1"))
    // but an empty entry at the start or middle IS seen and violates the
    // exactly-once contract
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    val leading = intercept[Exception](
      one("SELECT split_to_multimap(',a=1', ',', '=')"))
    assert(chain(leading).contains("exactly once"), chain(leading))
    val middle = intercept[Exception](
      one("SELECT split_to_multimap('a=1,,b=2', ',', '=')"))
    assert(chain(middle).contains("exactly once"), chain(middle))
    assert(one("SELECT format_datetime(TIMESTAMP '2024-01-02 03:04:05', 'yyyy/MM/dd HH:mm')")
      == "2024/01/02 03:04")
    assert(one("SELECT parse_datetime('2024-01-02 03:04:05', 'yyyy-MM-dd HH:mm:ss')")
      == java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    assert(one("SELECT timezone_hour(TIMESTAMP '2024-01-02 03:04:05')") == 0L)
    assert(one("SELECT timezone_minute(TIMESTAMP '2024-01-02 03:04:05')") == 0L)
    assert(one("SELECT to_milliseconds(parse_duration('90m'))") == 5400000L)
    assert(one("SELECT regexp_split('a1b22c', '[0-9]+')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("a", "b", "c"))
  }

  test("array_agg ORDER BY executes with reference ordering semantics") {
    val asc = one(
      """SELECT array_agg(v ORDER BY k)
        |FROM (VALUES (3, 'c'), (1, 'a'), (2, 'b')) t(k, v)""".stripMargin)
      .asInstanceOf[scala.collection.Seq[String]]
    assert(asc == Seq("a", "b", "c"))
    val desc = one(
      """SELECT array_agg(v ORDER BY k DESC)
        |FROM (VALUES (3, 'c'), (1, 'a'), (2, 'b')) t(k, v)""".stripMargin)
      .asInstanceOf[scala.collection.Seq[String]]
    assert(desc == Seq("c", "b", "a"))
    val self = one(
      """SELECT array_agg(DISTINCT v ORDER BY v)
        |FROM (VALUES ('b'), ('a'), ('b')) t(v)""".stripMargin)
      .asInstanceOf[scala.collection.Seq[String]]
    assert(self == Seq("a", "b"))
    // expression keys and ARRAY-literal translation still apply inside
    val exprKey = one(
      """SELECT array_agg(k ORDER BY length(v), v)
        |FROM (VALUES (1, 'ccc'), (2, 'a'), (3, 'bb')) t(k, v)""".stripMargin)
      .asInstanceOf[scala.collection.Seq[Int]]
    assert(exprKey == Seq(2, 3, 1))
  }

  test("ip prefix/subnet scalars resolve through the facade") {
    assert(one("SELECT ip_prefix('192.168.255.255', 9)") == "192.128.0.0/9")
    assert(one("SELECT ip_subnet_min('192.168.255.255/9')") == "192.128.0.0")
    assert(one("SELECT ip_subnet_max('192.64.0.0/9')") == "192.127.255.255")
    assert(one("SELECT ip_subnet_range('192.0.0.0/8')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("192.0.0.0", "192.255.255.255"))
    assert(one("SELECT is_subnet_of('192.64.0.0/9', '192.100.1.2')") == true)
    assert(one("SELECT is_subnet_of('192.64.0.0/9', '193.0.0.1')") == false)
    assert(one("SELECT ip_prefix('2001:db8::ff00:42:8329', 32)") == "2001:db8::/32")
    // sketch scalar extensions
    assert(one("SELECT hll_cardinality(empty_approx_set())") == 0L)
    // approx_set over raw strings — the dialect hashes for the aggregate
    assert(one("SELECT hll_cardinality(approx_set(x)) FROM (VALUES ('a'), ('b'), ('a')) t(x)") == 2L)
    // prefix-vs-prefix containment overload
    assert(one("SELECT is_subnet_of('192.168.3.128/26', '192.168.3.144/30')") == true)
    assert(one("SELECT is_subnet_of('192.168.3.144/30', '192.168.3.128/26')") == false)
    // 2-arg regexp_replace removes matches
    assert(one("SELECT regexp_replace('1a 2b 14m', '\\d+[ab] ')") == "14m")
  }

  test("ip literals are parsed directly — bad octets rejected, no DNS fallback") {
    // out-of-range octet: InvalidFunctionArgument in the reference, never
    // a hostname lookup
    val e = intercept[Exception](one("SELECT ip_prefix('999.0.0.1', 8)"))
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(e).contains("Invalid IP address literal"), chain(e))
    intercept[Exception](one("SELECT ip_subnet_min('1.2.3/8')"))
    intercept[Exception](one("SELECT ip_prefix('1:2:3:4:5:6:7:8:9', 8)"))
    intercept[Exception](one("SELECT ip_prefix('1::2::3', 8)"))
    intercept[Exception](one("SELECT ip_prefix('12345::1', 8)"))
    // non-ASCII Unicode digits (Integer.parseInt accepts them) rejected
    intercept[Exception](one("SELECT ip_prefix('٢٥٥.0.0.1', 8)"))
    intercept[Exception](one("SELECT ip_prefix('٢::1', 8)"))
    // valid forms still canonicalize (RFC 5952 + v4-mapped narrowing)
    assert(one("SELECT ip_prefix('::', 0)") == "::/0")
    assert(one("SELECT ip_prefix('::ffff:192.168.0.1', 24)") == "192.168.0.0/24")
    assert(one("SELECT ip_subnet_max('2001:db8::/126')") == "2001:db8::3")
  }

  test("parse_duration returns a day-time interval") {
    assert(one("SELECT parse_duration('90m')")
      == java.time.Duration.ofMinutes(90))
    assert(one("SELECT parse_duration('2.5s')")
      == java.time.Duration.ofMillis(2500))
    assert(one("SELECT TIMESTAMP '2024-01-01 00:00:00' + parse_duration('1.5h')")
      .toString.startsWith("2024-01-01 01:30"))
  }

  test("split takes a literal delimiter like the reference") {
    assert(one("SELECT split('a.b.c', '.')[2]") == "b")
    assert(one("SELECT size(split('a|b|c', '|'))") == 3)
  }

  test("Presto-isms: TRY, ARRAY literal, 1-based subscript, date tokens") {
    assert(one("SELECT TRY(CAST('x' AS INT))") == null)
    assert(one("SELECT ARRAY[10, 20, 30][1]") == 10)
    assert(one("SELECT date_format(TIMESTAMP '2001-02-03 04:05:06', '%Y-%m-%d %H:%i')")
      == "2001-02-03 04:05")
    assert(one("SELECT date_parse('2001-02-03', '%Y-%m-%d')").toString
      .startsWith("2001-02-03"))
  }

  test("approx_percentile dispatches every reference overload shape") {
    // (x, p) — plain percentile
    val med = one("SELECT approx_percentile(x, 0.5) FROM (VALUES (1e0), (2e0), (3e0)) t(x)")
    assert(med == 2.0)
    // (x, 1, p) — integer literal weight of 1 is a WEIGHT, not a
    // percentile: degenerates to the unweighted median
    val w1 = one("SELECT approx_percentile(x, 1, 0.5) FROM (VALUES (1e0), (2e0), (3e0)) t(x)")
    assert(w1 == 2.0)
    // (x, w, p) with a real weight column — weight on the larger value
    // shifts the estimate above the unweighted median (the t-digest
    // interpolates on tiny inputs, so bounds, not equality; c10 certifies
    // the values against an exact row-expansion oracle at scale)
    val wcol = one(
      "SELECT approx_percentile(x, w, 0.5) FROM (VALUES (1e0, 1L), (3e0, 2L)) t(x, w)")
    assert(wcol.asInstanceOf[Double] > 2.0 && wcol.asInstanceOf[Double] <= 3.0)
    // bigint x with weights returns bigint like the reference
    val wint = one(
      "SELECT approx_percentile(x, w, 0.5) FROM (VALUES (10L, 1L), (30L, 2L)) t(x, w)")
    assert(wint.isInstanceOf[Long] && wint.asInstanceOf[Long] > 20L
      && wint.asInstanceOf[Long] <= 30L)
    // (x, p, eps) — fractional accuracy epsilon converts to Spark's
    // integral 1/eps instead of failing analysis
    val acc = one("SELECT approx_percentile(x, 0.5, 0.01) FROM (VALUES (1e0), (2e0), (3e0)) t(x)")
    assert(acc == 2.0)
    // (x, w, ARRAY[...]) — weighted with a percentile array: one digest
    // queried per percentile (reference array overload), monotone output
    val warr = one(
      "SELECT approx_percentile(x, w, ARRAY[0.25E0, 0.75E0]) FROM (VALUES (1e0, 1L), (3e0, 2L)) t(x, w)")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(warr.length == 2 && warr(0) <= warr(1) && warr(1) <= 3.0)
    // integral x keeps its type elementwise (array(bigint) out)
    val warrInt = one(
      "SELECT approx_percentile(x, w, ARRAY[0.5E0]) FROM (VALUES (10L, 1L), (30L, 2L)) t(x, w)")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(warrInt.length == 1 && warrInt.head >= 10L && warrInt.head <= 30L)
  }

  test("utility statements: SHOW / DESCRIBE / EXPLAIN / SET SESSION") {
    val tables = Engine.sql(spark, dir, "SHOW TABLES")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(Tables.names.toSet.subsetOf(tables))
    assert(Engine.sql(spark, dir, "SHOW COLUMNS IN orders").count() > 0)
    assert(Engine.sql(spark, dir, "SHOW FUNCTIONS").count() > 100)
    assert(Engine.sql(spark, dir, "DESCRIBE orders").count() > 0)
    val plan = Engine.sql(spark, dir, "EXPLAIN SELECT count(*) FROM orders")
      .collect()(0).getString(0)
    assert(plan.contains("Physical Plan"))
    Engine.sql(spark, dir, "SET SESSION spark.sql.shuffle.partitions = 8")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    // SHOW SESSION lists session properties (reference SqlBase.g4:125)
    assert(Engine.sql(spark, dir, "SHOW SESSION").count() > 0)
    // EXPLAIN option lists translate to Spark's spellings
    val dist = Engine.sql(spark, dir,
      "EXPLAIN (TYPE DISTRIBUTED) SELECT count(*) FROM orders")
      .collect()(0).getString(0)
    assert(dist.contains("Physical Plan"))
    assert(Engine.sql(spark, dir,
      "EXPLAIN (TYPE LOGICAL, FORMAT TEXT) SELECT 1").count() > 0)
  }

  test("SHOW CREATE TABLE reconstructs reference-typed DDL from the live schema") {
    val ddl = Engine.sql(spark, dir, "SHOW CREATE TABLE orders")
      .collect()(0).getString(0)
    assert(ddl.startsWith("CREATE TABLE orders ("), ddl)
    assert(ddl.contains("\"o_orderkey\" bigint"), ddl)
    assert(ddl.contains("\"o_totalprice\" double"), ddl)
    assert(ddl.contains("\"o_orderstatus\" varchar"), ddl)
    assert(ddl.contains("format = 'PARQUET'"), ddl)
    intercept[Exception](Engine.sql(spark, dir, "SHOW CREATE TABLE nope_missing"))
    // views are rejected with the reference's redirect, not fabricated DDL
    Engine.sql(spark, dir,
      "CREATE OR REPLACE VIEW graft_sct_v AS SELECT 1 AS x").collect()
    val e = intercept[IllegalArgumentException](
      Engine.sql(spark, dir, "SHOW CREATE TABLE graft_sct_v"))
    assert(e.getMessage.contains("Use SHOW CREATE VIEW"), e.getMessage)
    Engine.sql(spark, dir, "DROP VIEW graft_sct_v").collect()
  }

  test("USE acks the single schema, rejects unknown schemas loudly") {
    assert(Engine.sql(spark, dir, "USE graft").collect()(0).getString(1) == "graft")
    assert(Engine.sql(spark, dir, "USE memory.default").count() == 1)
    val ex = intercept[IllegalArgumentException](
      Engine.sql(spark, dir, "USE hive.web_logs"))
    assert(ex.getMessage.contains("does not exist"), ex.getMessage)
  }

  test("transaction statements: autocommit acks, ROLLBACK fails loud") {
    assert(Engine.sql(spark, dir, "START TRANSACTION").collect()(0)
      .getString(0) == "START TRANSACTION")
    assert(Engine.sql(spark, dir,
      "START TRANSACTION ISOLATION LEVEL READ COMMITTED").count() == 1)
    assert(Engine.sql(spark, dir, "COMMIT").collect()(0).getString(0) == "COMMIT")
    assert(Engine.sql(spark, dir, "COMMIT WORK").count() == 1)
    val ex = intercept[UnsupportedOperationException](
      Engine.sql(spark, dir, "ROLLBACK"))
    assert(ex.getMessage.contains("auto-commit"), ex.getMessage)
  }

  test("EXPLAIN (TYPE IO) reports read columns and pushed constraints per table") {
    val io = Engine.sql(spark, dir,
      """EXPLAIN (TYPE IO)
        |SELECT o_orderpriority, count(*) FROM orders
        |WHERE o_orderkey < 1000 GROUP BY o_orderpriority""".stripMargin)
      .collect()(0).getString(0)
    assert(io.contains("\"inputTableColumnInfos\""), io)
    assert(io.contains("\"table\": \"orders\""), io)
    // pruned read set: only the two referenced columns
    assert(io.contains("\"columns\": [\"o_orderkey\", \"o_orderpriority\"]"), io)
    // the key range reached the scan as a pushed constraint
    assert(io.contains("LessThan(o_orderkey,1000)"), io)
    // a join lists both inputs
    val two = Engine.sql(spark, dir,
      """EXPLAIN (TYPE IO)
        |SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)
      .collect()(0).getString(0)
    assert(two.contains("\"table\": \"customer\"") && two.contains("\"table\": \"nation\""), two)
    // a pushed string literal carrying ')' and ',' (rendered UNQUOTED by
    // source-Filter toString) must not shatter the constraint list into
    // phantom fragments
    val tricky = Engine.sql(spark, dir,
      """EXPLAIN (TYPE IO)
        |SELECT count(*) FROM orders WHERE o_orderpriority LIKE '%a)b, c%'""".stripMargin)
      .collect()(0).getString(0)
    assert(tricky.contains("StringContains(o_orderpriority,a)b, c)"), tricky)
    assert(!tricky.contains("\"c)\""), tricky)
  }

  test("EXPLAIN ANALYZE executes and reports observed per-operator metrics") {
    val df = Engine.sql(spark, dir,
      """EXPLAIN ANALYZE
        |SELECT n_name, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    assert(df.columns.toSeq == Seq("Query Plan"))
    val text = df.collect()(0).getString(0)
    // the query RAN: the header carries the real output row count (25
    // nations) and join + aggregate operators carry observed rows-output
    assert(text.contains("output rows: 25"), text)
    assert(text.contains("Join"), text)
    assert(text.contains("Aggregate"), text)
    // at least one operator line shows a populated numOutputRows metric
    assert("numOutputRows: [1-9]".r.findFirstIn(text).isDefined, text)
    // the scans really appear under the AQE wrappers (not rendered as a
    // leaf AdaptiveSparkPlan)
    assert(text.contains("Scan"), text)
    // VERBOSE widens the metric set
    val verbose = Engine.sql(spark, dir,
      "EXPLAIN ANALYZE VERBOSE SELECT count(*) FROM orders")
      .collect()(0).getString(0)
    assert(verbose.contains("output rows: 1"), verbose)
  }

  test("color scalars propagate NULL like the reference") {
    val r = Engine.sql(spark, dir,
      """SELECT color(CAST(NULL AS VARCHAR)) AS c1,
        |  rgb(CAST(NULL AS BIGINT), 0, 0) AS c2,
        |  render(CAST(NULL AS VARCHAR), rgb(255, 0, 0)) AS c3,
        |  bar(CAST(NULL AS DOUBLE), 10) AS c4""".stripMargin).head()
    (0 until 4).foreach(i => assert(r.isNullAt(i), s"col $i must be NULL"))
  }

  test("polymorphic merge over stored sketches (hyperloglog.rst pattern)") {
    // per-group approx_set cast to varbinary (the storage roundtrip from
    // docs/functions/hyperloglog.rst), merged back under the reference's
    // polymorphic merge() spelling; same estimate as the direct sketch
    val direct = Engine.sql(spark, dir,
      "SELECT hll_cardinality(approx_set(o_custkey)) AS n FROM orders")
      .head().getLong(0)
    val merged = Engine.sql(spark, dir,
      """SELECT hll_cardinality(merge(CAST(hll AS HyperLogLog))) AS n
        |FROM (SELECT CAST(approx_set(o_custkey) AS VARBINARY) AS hll
        |      FROM orders GROUP BY o_orderstatus) t""".stripMargin)
      .head().getLong(0)
    assert(direct == merged)
    // tdigest and qdigest states dispatch by their array element types
    val td = Engine.sql(spark, dir,
      """SELECT round(td_value_at_quantile(merge(d), 0.5), 4) AS v
        |FROM (SELECT tdigest_agg(o_totalprice) AS d
        |      FROM orders GROUP BY o_orderstatus) t""".stripMargin)
    assert(!td.head().isNullAt(0))
    val qd = Engine.sql(spark, dir,
      """SELECT value_at_quantile(merge(d), 0.5) AS v
        |FROM (SELECT qdigest_agg(o_totalprice) AS d
        |      FROM orders GROUP BY o_orderstatus) t""".stripMargin)
    assert(!qd.head().isNullAt(0))
  }

  test("SHOW STATS FOR table and for a (SELECT ...) subset") {
    // reference shape: sql/show-stats.rst — per-column rows + a summary
    // row whose column_name is NULL and row_count the frame's row count
    val full = Engine.sql(spark, dir, "SHOW STATS FOR region").collect()
    assert(full.map(r => Option(r.getString(0))).count(_.isEmpty) == 1)
    val summary = full.find(_.isNullAt(0)).get
    assert(summary.getDouble(4) == 5.0) // region has 5 rows
    assert(full.length == 3) // 2 fixture columns + summary
    // the query form computes over the filtered projection only
    val sub = Engine.sql(spark, dir,
      "SHOW STATS FOR (SELECT r_name FROM region WHERE r_regionkey < 2)")
      .collect()
    assert(sub.length == 2)
    assert(sub.find(_.isNullAt(0)).get.getDouble(4) == 2.0)
    val nameRow = sub.find(r => r.getString(0) == "r_name").get
    assert(nameRow.getDouble(2) == 2.0) // distinct_values_count
  }

  test("ANALYZE persists statistics that SHOW STATS then serves") {
    // reference contract (docs sql/analyze.rst): ANALYZE collects and
    // STORES table statistics; SHOW STATS serves the stored values. Prove
    // the storage by analyzing a view, mutating its contents, and
    // observing that SHOW STATS still reports the analyzed snapshot until
    // the next ANALYZE.
    val s = spark
    import s.implicits._
    Seq(1L, 2L, 3L).toDF("v").createOrReplaceTempView("graft_an_t")
    val res = Engine.sql(spark, dir, "ANALYZE graft_an_t").collect()
    assert(res.length == 1 && res(0).getAs[Long]("rows") == 3L)
    def rowCount(): Double =
      Engine.sql(spark, dir, "SHOW STATS FOR graft_an_t").collect()
        .find(_.isNullAt(0)).get.getDouble(4)
    assert(rowCount() == 3.0)
    Seq(1L, 2L, 3L, 4L, 5L).toDF("v").createOrReplaceTempView("graft_an_t")
    // stored stats still serve the pre-mutation snapshot
    assert(rowCount() == 3.0)
    // re-ANALYZE refreshes the stored stats (WITH properties accepted)
    val re = Engine.sql(spark, dir,
      "ANALYZE graft_an_t WITH (partitions = ARRAY[ARRAY['p1']])").collect()
    assert(re(0).getAs[Long]("rows") == 5L)
    assert(rowCount() == 5.0)
    // un-analyzed tables still compute on demand
    assert(Engine.sql(spark, dir, "SHOW STATS FOR region").collect()
      .find(_.isNullAt(0)).get.getDouble(4) == 5.0)
  }

  test("trivia scalars: typeof / parse_presto_data_size / wilson / current_user") {
    assert(one("SELECT typeof(CAST(1 AS BIGINT))") == "bigint")
    assert(one("SELECT typeof(1.5E0)") == "double")
    // string literals carry their parameterized length (typeof('cat')
    // = varchar(3) in conversion.rst); column varchars report bare varchar
    assert(one("SELECT typeof('x')") == "varchar(1)")
    assert(one("SELECT typeof(NULL)") == "unknown")
    assert(one("SELECT typeof(ARRAY['a'])") == "array(varchar)")
    assert(one("SELECT typeof(CAST(1.5 AS DECIMAL(10, 2)))") == "decimal(10,2)")
    // typeof never evaluates its argument (reference is calledOnNullInput):
    // an erroring expression still types fine — and int/int division now
    // TYPES AS INTEGER like the reference (IntegerDivisionRewrite; this
    // assertion read "double" while that was a documented divergence)
    assert(one("SELECT typeof(CAST(1 AS INT) / 0)") == "integer")
    assert(one("SELECT CAST(parse_presto_data_size('2.3MB') AS BIGINT)") == 2411724L)
    // 1 YB = 1024^8 = 2^80 ≈ 1.2089e24 — past bigint range, exact in decimal
    assert(one("SELECT CAST(parse_presto_data_size('1YB') AS DECIMAL(38, 0)) > CAST(1e24 AS DECIMAL(38, 0))") == true)
    assertThrows[Exception](one("SELECT parse_presto_data_size('2.3xB')"))
    assert(one("SELECT TRY(parse_presto_data_size('junk'))") == null)
    // Wilson 95% interval brackets the sample proportion
    val lo = one("SELECT wilson_interval_lower(1250, 1310, 1.96E0)").asInstanceOf[Double]
    val hi = one("SELECT wilson_interval_upper(1250, 1310, 1.96E0)").asInstanceOf[Double]
    assert(lo > 0.93 && lo < 1250.0 / 1310 && 1250.0 / 1310 < hi && hi < 0.97)
    assert(one("SELECT length(current_user) > 0") == true)
  }

  test("IEEE division rewrite leaves a TRY-mode divide alone") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Divide, EvalMode, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    def rewritten(mode: EvalMode.Value) =
      graft.plans.DoubleDivisionRewrite(Project(
        Seq(Alias(Divide(Literal(1.0), Literal(0.0), mode), "q")()),
        OneRowRelation())).expressions.head
    // TRY promises NULL on a zero divisor; ieeedivide would give Infinity
    val kept = rewritten(EvalMode.TRY)
    assert(kept.collectFirst { case d: Divide => d.evalContext.evalMode }
      .contains(EvalMode.TRY), kept)
    assert(kept.eval(null) == null, kept)
    val ieee = rewritten(EvalMode.ANSI)
    assert(ieee.exists(_.isInstanceOf[graft.functions.IeeeDivide]), ieee)
    assert(ieee.eval(null) == Double.PositiveInfinity, ieee)
  }

  test("json pack: size/contains/get/parse semantics") {
    assert(one("SELECT json_size('{\"a\": {\"b\": 1, \"c\": 2}}', '$.a')") == 2L)
    assert(one("SELECT json_size('{\"a\": [9]}', '$.a')") == 1L)
    assert(one("SELECT json_size('{\"a\": \"s\"}', '$.a')") == 0L)
    assert(one("SELECT json_array_contains('[1.5, 2.5]', 2.5)") == true)
    assert(one("SELECT json_array_contains('[\"1\"]', 1)") == false) // typed, no coercion
    // reference wart (json.rst "invalid JSON" note): string elements
    // come back UNQUOTED, container elements as JSON text
    assert(one("SELECT json_array_get('[\"a\",\"b\"]', 0)") == "a")
    assert(one("SELECT json_array_get('[\"a\", [3, 9]]', 1)") == "[3,9]")
    assert(one("SELECT json_array_get('[1]', 5)") == null)
    assertThrows[Exception](one("SELECT json_parse('{bad')"))
    assert(one("SELECT TRY(json_parse('{bad'))") == null)
  }

  test("string extras: hamming errors on length mismatch; normalize forms") {
    assertThrows[Exception](one("SELECT hamming_distance('ab', 'abc')"))
    // NFD expands é to two codepoints; NFC recomposes to one
    assert(one("SELECT length(normalize('é', 'NFD'))") == 2)
    assert(one("SELECT length(normalize(normalize('é', 'NFD')))") == 1)
    assert(one("SELECT from_utf8(to_utf8('日本語'))") == "日本語")
    assert(one("SELECT to_base(from_base('ff', 16), 2)") == "11111111")
    assert(one("SELECT fail_is_aliased FROM (SELECT levenshtein_distance('a', 'ab') = 1 AS fail_is_aliased)") == true)
  }

  test("skewness/kurtosis follow the reference's small-n and sample semantics") {
    // below the reference's minimums → NULL (Spark's builtins emit NaN)
    assert(one("SELECT skewness(x) FROM (VALUES (1e0), (2e0)) t(x)") == null)
    assert(one("SELECT kurtosis(x) FROM (VALUES (1e0), (2e0), (3e0)) t(x)") == null)
    // symmetric data → skewness 0
    assert(math.abs(one(
      "SELECT skewness(x) FROM (VALUES (1e0), (2e0), (3e0), (4e0), (5e0)) t(x)")
      .asInstanceOf[Double]) < 1e-9)
    // sample-adjusted excess kurtosis of 1,2,3,4,5 is exactly -1.2
    // ((n−1)((n+1)(k+3)−3(n−1))/((n−2)(n−3)) with population k = −1.3)
    assert(math.abs(one(
      "SELECT kurtosis(x) FROM (VALUES (1e0), (2e0), (3e0), (4e0), (5e0)) t(x)")
      .asInstanceOf[Double] - (-1.2)) < 1e-9)
  }

  test("differential_entropy: fixed-histogram MLE in bits") {
    // 4 samples uniform over 4 unit-width buckets → exactly 2 bits
    assert(one(
      """SELECT differential_entropy(CAST(4 AS BIGINT), x, CAST(1 AS DOUBLE),
        |  'fixed_histogram_mle', CAST(0 AS DOUBLE), CAST(4 AS DOUBLE))
        |FROM (VALUES (0.5E0), (1.5E0), (2.5E0), (3.5E0)) t(x)""".stripMargin)
      == 2.0)
    // one bucket of width 1 → 0 bits; width 2 → 1 bit (the ln(width) term)
    assert(one(
      """SELECT differential_entropy(CAST(1 AS BIGINT), x, CAST(1 AS DOUBLE),
        |  'fixed_histogram_mle', CAST(0 AS DOUBLE), CAST(2 AS DOUBLE))
        |FROM (VALUES (0.5E0), (1.5E0)) t(x)""".stripMargin) == 1.0)
    // empty input → NULL like every aggregate
    assert(one(
      """SELECT differential_entropy(CAST(4 AS BIGINT), x, CAST(1 AS DOUBLE),
        |  'fixed_histogram_mle', CAST(0 AS DOUBLE), CAST(4 AS DOUBLE))
        |FROM (VALUES (0.5E0)) t(x) WHERE x < 0""".stripMargin) == null)
    // the nondeterministic reservoir methods are rejected loudly
    assertThrows[Exception](one(
      """SELECT differential_entropy(CAST(4 AS BIGINT), x, CAST(1 AS DOUBLE),
        |  'reservoir', CAST(0 AS DOUBLE), CAST(4 AS DOUBLE))
        |FROM (VALUES (0.5E0)) t(x)""".stripMargin))
  }

  test("PREPARE / EXECUTE USING / DEALLOCATE PREPARE") {
    Engine.sql(spark, dir,
      "PREPARE fs_q FROM SELECT count(*) AS n FROM orders WHERE o_totalprice > ? AND o_orderpriority = ?")
    val executed = Engine.sql(spark, dir,
      "EXECUTE fs_q USING 100000.0, '1-URGENT'").collect()(0).getLong(0)
    val inlined = Engine.sql(spark, dir,
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > 100000.0 AND o_orderpriority = '1-URGENT'")
      .collect()(0).getLong(0)
    assert(executed == inlined && executed > 0)
    // a '?' inside a literal is not a placeholder
    Engine.sql(spark, dir,
      "PREPARE fs_q2 FROM SELECT count(*) AS n FROM orders WHERE o_orderpriority <> '?' AND o_orderkey < ?")
    assert(Engine.sql(spark, dir, "EXECUTE fs_q2 USING 100")
      .collect()(0).getLong(0) > 0)
    // parameter arity mismatches fail loudly
    assertThrows[Exception](Engine.sql(spark, dir, "EXECUTE fs_q USING 100000.0"))
    assertThrows[Exception](
      Engine.sql(spark, dir, "EXECUTE fs_q USING 1.0, 'x', 'extra'"))
    // re-PREPARE replaces; DEALLOCATE removes
    Engine.sql(spark, dir, "PREPARE fs_q FROM SELECT 42 AS n")
    assert(Engine.sql(spark, dir, "EXECUTE fs_q").collect()(0).getInt(0) == 42)
    Engine.sql(spark, dir, "DEALLOCATE PREPARE fs_q")
    assertThrows[Exception](Engine.sql(spark, dir, "EXECUTE fs_q"))
  }

  test("DESCRIBE INPUT / DESCRIBE OUTPUT of a prepared statement") {
    Engine.sql(spark, dir,
      "PREPARE fs_d FROM SELECT o_orderkey, o_totalprice AS p FROM orders WHERE o_totalprice > ? AND o_orderpriority = ?")
    val input = Engine.sql(spark, dir, "DESCRIBE INPUT fs_d").collect()
    assert(input.map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((0, "unknown"), (1, "unknown")))
    val output = Engine.sql(spark, dir, "DESCRIBE OUTPUT fs_d")
    assert(output.columns.toSeq == Seq(
      "Column Name", "Catalog", "Schema", "Table", "Type", "Type Size", "Aliased"))
    assert(output.collect().map(r => (r.getString(0), r.getString(4))).toSeq
      == Seq(("o_orderkey", "bigint"), ("p", "double")))
    // no placeholders → the reference's single all-NULL row
    Engine.sql(spark, dir, "PREPARE fs_d0 FROM SELECT 1 AS one")
    val none = Engine.sql(spark, dir, "DESCRIBE INPUT fs_d0").collect()
    assert(none.length == 1 && none(0).isNullAt(0))
    // plain DESCRIBE <table> is untouched by the prepared-statement path
    assert(Engine.sql(spark, dir, "DESCRIBE orders").count() > 0)
  }

  test("UNNEST followed by a JOIN rewrites to the lateral-subquery form") {
    val translated = Engine.translate(
      "SELECT * FROM t CROSS JOIN UNNEST(t.arr) AS u(w) JOIN r ON r.k = u.w")
    assert(translated.contains("JOIN LATERAL"))
    val rows = Engine.sql(spark, dir,
      """SELECT t.id, u.w, r.name
        |FROM (VALUES (1, ARRAY[10, 20]), (2, ARRAY[30])) AS t(id, arr)
        |CROSS JOIN UNNEST(t.arr) AS u(w)
        |JOIN (VALUES (10, 'a'), (30, 'b')) AS r(k, name) ON r.k = u.w
        |ORDER BY t.id, u.w""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
      == Seq((1, 10, "a"), (2, 30, "b")))
    // outer spelling mid-chain keeps empty-array rows
    val outer = Engine.sql(spark, dir,
      """SELECT t.id, u.w
        |FROM (VALUES (1, ARRAY[10]), (2, ARRAY[])) AS t(id, arr)
        |LEFT JOIN UNNEST(t.arr) AS u(w) ON TRUE
        |JOIN (VALUES (1), (2)) AS keep(id2) ON keep.id2 = t.id
        |ORDER BY t.id""".stripMargin).collect()
    assert(outer.length == 2 && outer(1).isNullAt(1))
    // chained UNNESTs still compose as stacked lateral views
    assert(Engine.sql(spark, dir,
      """SELECT a.x, b.y
        |FROM (VALUES (ARRAY[1], ARRAY[2])) AS t(a1, a2)
        |CROSS JOIN UNNEST(t.a1) AS a(x)
        |CROSS JOIN UNNEST(t.a2) AS b(y)""".stripMargin).count() == 1)
  }

  test("UNNEST of an array of rows with a 3+ column alias uses inline") {
    val rows = Engine.sql(spark, dir,
      """SELECT t.a, t.b, t.c
        |FROM (SELECT array(named_struct('a', 1, 'b', 'x', 'c', true),
        |                   named_struct('a', 2, 'b', 'y', 'c', false)) AS rs) s
        |CROSS JOIN UNNEST(s.rs) AS t(a, b, c)
        |ORDER BY t.a""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSeq
      == Seq((1, "x", true), (2, "y", false)))
  }

  test("UNNEST decides array-of-row vs map by type, not alias arity") {
    // map with two aliases → (key, value)
    val m = Engine.sql(spark, dir,
      """SELECT t.k, t.v FROM (SELECT map(array['a','b'], array[1,2]) AS m) s
        |CROSS JOIN UNNEST(s.m) AS t(k, v) ORDER BY t.k""".stripMargin).collect()
    assert(m.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("a", 1), ("b", 2)))
    // array of TWO-field rows with two aliases → field expansion (the
    // shape that is textually indistinguishable from a map)
    val r2 = Engine.sql(spark, dir,
      """SELECT t.a, t.b
        |FROM (SELECT array(named_struct('x', 1, 'y', 'p'),
        |                   named_struct('x', 2, 'y', 'q')) AS rs) s
        |CROSS JOIN UNNEST(s.rs) AS t(a, b) ORDER BY t.a""".stripMargin).collect()
    assert(r2.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "p"), (2, "q")))
    // array of SINGLE-field rows with one alias → the field, not the struct
    val r1 = Engine.sql(spark, dir,
      """SELECT t.a
        |FROM (SELECT array(named_struct('x', 7), named_struct('x', 8)) AS rs) s
        |CROSS JOIN UNNEST(s.rs) AS t(a) ORDER BY t.a""".stripMargin).collect()
    assert(r1.map(_.getInt(0)).toSeq == Seq(7, 8))
  }

  test("UNNEST WITH ORDINALITY over rows, maps, and mixed arguments") {
    // array of rows + ordinality (fields..., ordinality last, 1-based)
    val rows = Engine.sql(spark, dir,
      """SELECT t.a, t.b, t.i
        |FROM (SELECT array(named_struct('a', 10, 'b', 'x'),
        |                   named_struct('a', 20, 'b', 'y')) AS rs) s
        |CROSS JOIN UNNEST(s.rs) WITH ORDINALITY AS t(a, b, i)
        |ORDER BY t.i""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      == Seq((10, "x", 1L), (20, "y", 2L)))
    // map + ordinality
    val m = Engine.sql(spark, dir,
      """SELECT t.k, t.v, t.i FROM (SELECT map(array['a','b'], array[1,2]) AS m) s
        |CROSS JOIN UNNEST(s.m) WITH ORDINALITY AS t(k, v, i)
        |ORDER BY t.i""".stripMargin).collect()
    assert(m.map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      == Seq(("a", 1, 1L), ("b", 2, 2L)))
    // map zipped with a longer array: NULL padding on the map columns
    val mixed = Engine.sql(spark, dir,
      """SELECT t.x, t.k, t.v
        |FROM (SELECT array[1, 2, 3] AS arr,
        |             map(array['a'], array[9]) AS m) s
        |CROSS JOIN UNNEST(s.arr, s.m) AS t(x, k, v)
        |ORDER BY t.x""".stripMargin).collect()
    assert(mixed.length == 3)
    assert(mixed(0).getString(1) == "a" && mixed(0).getInt(2) == 9)
    assert(mixed(1).isNullAt(1) && mixed(1).isNullAt(2))
  }

  test("UNNEST without a column list keeps row field names") {
    val rows = Engine.sql(spark, dir,
      """SELECT t.name, t.qty
        |FROM (SELECT array(named_struct('name', 'a', 'qty', 1),
        |                   named_struct('name', 'b', 'qty', 2)) AS rs) s
        |CROSS JOIN UNNEST(s.rs) AS t ORDER BY t.name""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq
      == Seq(("a", 1), ("b", 2)))
    // no alias either: columns resolve unqualified
    val bare = Engine.sql(spark, dir,
      """SELECT name, qty
        |FROM (SELECT array(named_struct('name', 'c', 'qty', 3)) AS rs) s
        |CROSS JOIN UNNEST(s.rs) ORDER BY name""".stripMargin).collect()
    assert(bare.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("c", 3)))
  }

  test("chained UNNESTs followed by a real JOIN all switch to JOIN LATERAL") {
    val t = Engine.translate(
      "SELECT * FROM t CROSS JOIN UNNEST(t.a) AS u1(x) CROSS JOIN UNNEST(t.b) AS u2(y) JOIN r ON r.k = u1.x")
    assert(t.contains("JOIN LATERAL (SELECT graft_unnest(t.a) AS x) u1") &&
      t.contains("JOIN LATERAL (SELECT graft_unnest(t.b) AS y) u2"), t)
    val rows = Engine.sql(spark, dir,
      """SELECT t.id, u1.x, u2.y, r.name
        |FROM (VALUES (1, ARRAY[10], ARRAY[7])) AS t(id, a, b)
        |CROSS JOIN UNNEST(t.a) AS u1(x)
        |CROSS JOIN UNNEST(t.b) AS u2(y)
        |JOIN (VALUES (10, 'ten')) AS r(k, name) ON r.k = u1.x""".stripMargin).collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
      == Seq((1, 10, 7, "ten")))
  }

  test("null propagation: json_array_contains, strrpos, approx_set") {
    assert(one("SELECT json_array_contains('[1,2]', CAST(NULL AS DOUBLE))") == null)
    assert(one("SELECT json_array_contains('[true]', CAST(NULL AS BOOLEAN))") == null)
    assert(one("SELECT strrpos(CAST(NULL AS VARCHAR), 'x')") == null)
    assert(one("SELECT strrpos('abc', CAST(NULL AS VARCHAR))") == null)
    // NULL rows never inflate the sketch (xxhash64(NULL) would hash the seed)
    assert(one(
      "SELECT hll_cardinality(approx_set(x)) FROM (VALUES ('a'), (CAST(NULL AS VARCHAR)), ('a')) t(x)")
      == 1L)
    // trim_array rejects negative sizes loudly
    val e = intercept[Exception](
      one("SELECT trim_array(ARRAY[1, 2, 3], -1)"))
    assert(e.getMessage.contains("negative"), e.getMessage)
  }

  test("TIME literals narrow to epoch-day timestamps with correct arithmetic") {
    val row = Engine.sql(spark, dir,
      """SELECT hour(TIME '23:45:01') AS h,
        |  TIME '08:00:00' < TIME '09:30:00' AS cmp,
        |  date_format(TIME '23:30:00' + INTERVAL '90' MINUTE, '%H:%i:%s') AS wrapped,
        |  date_format(TIME '23:30:00' - INTERVAL '45' MINUTE, '%H:%i:%s') AS back,
        |  hour(localtime) AS lt_h""".stripMargin).collect()(0)
    assert(row.getAs[Any]("h").toString == "23")
    assert(row.getAs[Boolean]("cmp"))
    assert(row.getAs[String]("wrapped") == "01:00:00") // wrap-around
    assert(row.getAs[String]("back") == "22:45:00")
    val h = row.getAs[Any]("lt_h").toString.toInt
    assert(h >= 0 && h <= 23)
  }

  test("TSWTZ instant semantics reach BETWEEN and IN operands") {
    // The reference compares TSWTZ on the INSTANT (DateTimeEncoding
    // packs millis+zoneKey; comparison reads the millis). at_timezone
    // results standing as BETWEEN operands (either side) or IN-list
    // members are stripped to their instant by normalizeZonedValues —
    // without the strip, the narrowed wall-clock shift (+5:30 Kolkata)
    // would make every one of these FALSE.
    val row = Engine.sql(spark, dir,
      """SELECT
        |  at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'Asia/Kolkata')
        |    BETWEEN TIMESTAMP '2024-03-01 12:00:00'
        |    AND TIMESTAMP '2024-03-01 12:00:00' AS betw_subject,
        |  TIMESTAMP '2024-03-01 12:00:00'
        |    BETWEEN at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'Asia/Kolkata')
        |    AND at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'America/New_York')
        |    AS betw_bounds,
        |  at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'Asia/Kolkata')
        |    NOT BETWEEN TIMESTAMP '2024-03-02 00:00:00'
        |    AND TIMESTAMP '2024-03-03 00:00:00' AS not_betw,
        |  at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'Asia/Kolkata')
        |    IN (TIMESTAMP '1999-01-01 00:00:00',
        |        TIMESTAMP '2024-03-01 12:00:00') AS in_subject,
        |  TIMESTAMP '2024-03-01 12:00:00' IN (
        |    at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'Asia/Kolkata'),
        |    TIMESTAMP '1999-01-01 00:00:00') AS in_element,
        |  at_timezone(TIMESTAMP '2024-03-01 12:00:00', 'Asia/Kolkata')
        |    NOT IN (TIMESTAMP '1999-01-01 00:00:00') AS not_in""".stripMargin)
      .collect()(0)
    for (c <- Seq("betw_subject", "betw_bounds", "not_betw",
        "in_subject", "in_element", "not_in"))
      assert(row.getAs[Boolean](c), s"$c must compare on the instant")
    // rendering positions are NOT stripped: the value still speaks the
    // zone's wall clock outside comparison contexts
    assert(Engine.sql(spark, dir,
      "SELECT CAST(hour(at_timezone(TIMESTAMP '2024-03-01 12:00:00', " +
        "'Asia/Kolkata')) AS BIGINT) AS h").collect()(0)
      .getAs[Long]("h") == 17L)
  }

  test("TIME WITH TIME ZONE literals: instant comparison, value-zone extraction") {
    // COMPARISON: the offset applies at parse (10:00+05:30 IS 04:30
    // UTC), so cross-offset equality/ordering match the reference's
    // UTC normalization. EXTRACTION over a with-zone LITERAL follows
    // the reference and speaks the LITERAL's zone (the zone is
    // statically known — Dialect.ZoneSensitiveFns); zone-less column
    // values keep the session-zone narrowing.
    val row = Engine.sql(spark, dir,
      """SELECT CAST(hour(TIME '10:00:00 +05:30') AS BIGINT) AS h_val,
        |  TIME '10:00:00 +05:30' = TIME '04:30:00' AS cmp_eq,
        |  TIME '10:00:00+05:30' = TIME '04:30:00' AS nospace_eq,
        |  TIME '23:00:00 -02:00' > TIME '10:00:00 +05:30' AS ord_ok,
        |  CAST(hour(TIMESTAMP '2001-08-22 03:04:05 America/Los_Angeles')
        |    AS BIGINT) AS ts_h,
        |  timezone_hour(TIME '10:00:00 +05:30') AS tz_h,
        |  timezone_minute(TIME '10:00:00 +05:30') AS tz_m,
        |  timezone_hour(TIMESTAMP '2001-08-22 03:04:05 America/Los_Angeles')
        |    AS la_tz_h,
        |  date_format(TIME '10:00:00 +05:30', '%H:%i') AS rendered,
        |  CAST(hour(TIMESTAMP '2024-01-02 03:04:05') AS BIGINT) AS plain_h,
        |  CAST(EXTRACT(HOUR FROM TIME '10:00:00 +05:30') AS BIGINT) AS ex_h""".stripMargin)
      .collect()(0)
    assert(row.getAs[Long]("h_val") == 10L) // the value's OWN wall clock
    assert(row.getAs[Boolean]("cmp_eq"))
    assert(row.getAs[Boolean]("nospace_eq"))
    assert(row.getAs[Boolean]("ord_ok")) // -02:00 evening sorts past midnight
    assert(row.getAs[Long]("ts_h") == 3L) // the LA wall clock, not UTC's 10
    assert(row.getAs[Long]("tz_h") == 5L)
    assert(row.getAs[Long]("tz_m") == 30L)
    assert(row.getAs[Long]("la_tz_h") == -7L) // PDT in August
    assert(row.getAs[String]("rendered") == "10:00")
    assert(row.getAs[Long]("plain_h") == 3L) // zoneless literal: unchanged
    assert(row.getAs[Long]("ex_h") == 10L) // EXTRACT spelling agrees with hour()
    // a malformed zone suffix still fails loudly rather than silently
    // parsing as something else
    assertThrows[Exception](
      Engine.sql(spark, dir, "SELECT TIME '10:00:00 Mars/Olympus'"))
  }

  test("reservoir_sample is seeded, reproducible, and seed-sensitive") {
    def sample(seed: String): Seq[String] =
      Engine.sql(spark, dir,
        s"SELECT reservoir_sample(CAST(o_orderkey AS VARCHAR), 5L, '$seed') FROM orders")
        .collect()(0).getSeq[String](0).toSeq
    val a = sample("s1")
    assert(a.length == 5)
    assert(sample("s1") == a)       // same seed → identical sample
    assert(sample("s2") != a)       // fresh seed → independent sample
  }

  test("CREATE FUNCTION ... RETURN registers a SQL-invoked function") {
    def ddl(sql: String): Unit = Engine.sql(spark, dir, sql).collect()
    // Presto types + routine characteristics, TEMPORARY form
    ddl("""CREATE TEMPORARY FUNCTION graft_f1(x DOUBLE)
          |RETURNS DOUBLE
          |LANGUAGE SQL DETERMINISTIC
          |RETURN x * 2""".stripMargin)
    assert(one("SELECT graft_f1(21.0)") == 42.0)
    // OR REPLACE takes effect
    ddl("CREATE OR REPLACE TEMPORARY FUNCTION graft_f1(x DOUBLE) RETURNS DOUBLE RETURN x * 3")
    assert(one("SELECT graft_f1(14.0)") == 42.0)
    // parameter name SHADOWS a column of the same name: the argument is
    // bound positionally, not captured from the enclosing row scope
    ddl("CREATE TEMPORARY FUNCTION graft_shadow(v BIGINT) RETURNS BIGINT RETURN v + 1")
    assert(one("SELECT graft_shadow(v) FROM (SELECT 41L AS v)") == 42L)
    assert(one("SELECT graft_shadow(v * 10) FROM (SELECT 4L AS v)") == 41L)
    // Presto varchar/array(…) types map to Spark DDL; body goes through
    // the dialect rewrite (|| concat)
    ddl("""CREATE TEMPORARY FUNCTION graft_greet(name VARCHAR)
          |RETURNS VARCHAR RETURN 'hello, ' || name""".stripMargin)
    assert(one("SELECT graft_greet('world')") == "hello, world")
    ddl("""CREATE TEMPORARY FUNCTION graft_second(xs ARRAY(DOUBLE))
          |RETURNS DOUBLE RETURN xs[2]""".stripMargin)
    assert(one("SELECT graft_second(ARRAY[1.0, 5.0])") == 5.0)
    // RETURNS NULL ON NULL INPUT wraps the body in a null guard
    ddl("""CREATE TEMPORARY FUNCTION graft_nn(x DOUBLE, y DOUBLE)
          |RETURNS DOUBLE
          |RETURNS NULL ON NULL INPUT
          |RETURN coalesce(x, 0.0) + coalesce(y, 0.0)""".stripMargin)
    assert(one("SELECT graft_nn(1.0, 2.0)") == 3.0)
    assert(one("SELECT graft_nn(1.0, CAST(NULL AS DOUBLE))") == null)
    // qualified reference-style name collapses to its last part
    ddl("CREATE TEMPORARY FUNCTION example.default.graft_q(x BIGINT) RETURNS BIGINT RETURN x")
    assert(one("SELECT graft_q(7L)") == 7L)
    // DROP FUNCTION with the Presto type-list disambiguator
    ddl("DROP TEMPORARY FUNCTION graft_q")
    ddl("DROP FUNCTION IF EXISTS graft_never_created(double)")
    intercept[Exception](one("SELECT graft_q(7L)"))
  }

  test("CREATE/DROP/SHOW CREATE VIEW through the facade") {
    def ddl(sql: String): Unit = { Engine.sql(spark, dir, sql).collect(); () }
    ddl("""CREATE VIEW graft_v_nations SECURITY DEFINER AS
          |SELECT r_name, count(*) AS n FROM nation
          |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""".stripMargin)
    assert(Engine.sql(spark, dir,
      "SELECT sum(n) FROM graft_v_nations").collect()(0).getLong(0) == 25L)
    // the stored text comes back verbatim (SECURITY clause dropped)
    assert(one("SHOW CREATE VIEW graft_v_nations").toString
      .contains("CREATE VIEW graft_v_nations AS"))
    // no OR REPLACE → second create fails; with it → succeeds
    intercept[Exception](ddl("CREATE VIEW graft_v_nations AS SELECT 1 AS x"))
    ddl("CREATE OR REPLACE VIEW graft_v_nations AS SELECT 1 AS x")
    assert(one("SELECT x FROM graft_v_nations") == 1)
    ddl("DROP VIEW graft_v_nations")
    intercept[Exception](one("SHOW CREATE VIEW graft_v_nations"))
    intercept[Exception](ddl("DROP VIEW graft_v_nations"))
    ddl("DROP VIEW IF EXISTS graft_v_nations")
  }

  test("CREATE TYPE: structural row types, distinct aliases, nesting") {
    def ddl(sql: String): Unit = { Engine.sql(spark, dir, sql).collect(); () }
    def one(sql: String): Any = Engine.sql(spark, dir, sql).collect()(0).get(0)
    // the reference's own cases (presto-tests TestUserDefinedTypes)
    ddl("CREATE TYPE graft.t.pair AS (fst integer, snd integer)")
    ddl("CREATE TYPE graft.t.pair3 AS (fst graft.t.pair, snd integer)")
    assert(one(
      """SELECT p.fst.fst FROM (SELECT
        |  CAST(ROW(CAST(ROW(1, 2) AS graft.t.pair), 3) AS graft.t.pair3) AS p)"""
        .stripMargin) == 1)
    assert(one(
      """SELECT p.fst.snd FROM (SELECT
        |  CAST(ROW(CAST(ROW(1, 2) AS graft.t.pair), 3) AS graft.t.pair3) AS p)"""
        .stripMargin) == 2)
    // distinct type: alias of a base type, observed only at the cast
    ddl("CREATE TYPE graft.t.num AS integer")
    assert(one("SELECT CAST(4 AS graft.t.num)") == 4)
    ddl("CREATE TYPE graft.t.mypair AS (fst graft.t.num, snd integer)")
    assert(one(
      "SELECT p.fst FROM (SELECT CAST(ROW(4, 3) AS graft.t.mypair) AS p)") == 4)
    // unqualified names and duplicates fail loud (the reference stores
    // types in a function namespace)
    val e1 = intercept[Exception](ddl("CREATE TYPE barename AS integer"))
    assert(e1.getMessage.contains("qualified name"), e1.getMessage)
    val e2 = intercept[Exception](ddl("CREATE TYPE graft.t.num AS bigint"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
  }

  test("view/MV names colliding with base tables or each other fail loud") {
    def ddl(sql: String): Unit = { Engine.sql(spark, dir, sql).collect(); () }
    // a view named after a fixture table would be silently clobbered by
    // the next statement's table re-registration — must be rejected
    val e1 = intercept[Exception](
      ddl("CREATE VIEW orders AS SELECT 1 AS x"))
    assert(e1.getMessage.contains("base table"), e1.getMessage)
    val e2 = intercept[Exception](
      ddl("CREATE MATERIALIZED VIEW lineitem AS SELECT 1 AS x"))
    assert(e2.getMessage.contains("base table"), e2.getMessage)
    // cross-kind collision: view vs materialized view share the namespace
    ddl("CREATE VIEW graft_coll_v AS SELECT 1 AS x")
    val e3 = intercept[Exception](
      ddl("CREATE MATERIALIZED VIEW graft_coll_v AS SELECT 2 AS x"))
    assert(e3.getMessage.contains("existing view"), e3.getMessage)
    ddl("CREATE MATERIALIZED VIEW graft_coll_mv AS SELECT 2 AS x")
    val e4 = intercept[Exception](
      ddl("CREATE VIEW graft_coll_mv AS SELECT 3 AS x"))
    assert(e4.getMessage.contains("materialized view"), e4.getMessage)
    ddl("DROP VIEW graft_coll_v")
    ddl("DROP MATERIALIZED VIEW graft_coll_mv")
  }

  test("materialized view: partition-scoped refresh picks up base changes") {
    def ddl(sql: String): Unit = { Engine.sql(spark, dir, sql).collect(); () }
    val base = java.nio.file.Files.createTempDirectory("graft_mv_base").toString
    val s = spark
    import s.implicits._
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("graft_mv_base")
    ddl("""CREATE MATERIALIZED VIEW graft_mv_sums
          |WITH (partitioned_by = ARRAY['k']) AS
          |SELECT k, sum(v) AS total FROM graft_mv_base GROUP BY k""".stripMargin)
    def totals(): Map[String, Long] =
      Engine.sql(spark, dir, "SELECT k, total FROM graft_mv_sums")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals() == Map("a" -> 3L, "b" -> 10L))
    // mutate the base, refresh ONLY partition k='a': b stays stale — the
    // reference's WHERE-scoped refresh contract
    Seq(("a", 5L), ("b", 100L)).toDF("k", "v")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("graft_mv_base")
    val refreshed = Engine.sql(spark, dir,
      "REFRESH MATERIALIZED VIEW graft_mv_sums WHERE k = 'a'").collect()(0)
    assert(refreshed.getAs[Long]("partitions_refreshed") == 1L)
    assert(totals() == Map("a" -> 5L, "b" -> 10L))
    assert(one("SHOW CREATE MATERIALIZED VIEW graft_mv_sums").toString
      .contains("CREATE MATERIALIZED VIEW graft_mv_sums AS"))
    // a ROW-LEVEL predicate is rejected loudly — it would silently drop
    // the partition's non-matching rows (the MetadataDelete contract)
    val rowLevel = intercept[Exception](ddl(
      "REFRESH MATERIALIZED VIEW graft_mv_sums WHERE total > 5"))
    assert(rowLevel.getMessage.contains("partition columns only"),
      rowLevel.getMessage)
    // a partition whose rows VANISH from the base is dropped on refresh,
    // not left serving stale rows
    Seq(("b", 100L)).toDF("k", "v")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("graft_mv_base")
    val afterVanish = Engine.sql(spark, dir,
      "REFRESH MATERIALIZED VIEW graft_mv_sums WHERE k = 'a'").collect()(0)
    assert(afterVanish.getAs[Long]("partitions_refreshed") == 1L)
    assert(totals() == Map("b" -> 10L), totals().toString)
    // partition values Spark path-escapes (':' in the value) survive the
    // round trip — the overwrite path is Spark's own, not string-built
    Seq(("x:1", 7L), ("y=2", 9L)).toDF("k", "v")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("graft_mv_base")
    ddl("""CREATE MATERIALIZED VIEW IF NOT EXISTS graft_mv_esc
          |WITH (partitioned_by = ARRAY['k']) AS
          |SELECT k, sum(v) AS total FROM graft_mv_base GROUP BY k""".stripMargin)
    intercept[Exception](ddl("CREATE MATERIALIZED VIEW graft_mv_esc AS SELECT 1 AS x"))
    Seq(("x:1", 70L), ("y=2", 9L)).toDF("k", "v")
      .write.mode("overwrite").parquet(base)
    spark.read.parquet(base).createOrReplaceTempView("graft_mv_base")
    Engine.sql(spark, dir,
      "REFRESH MATERIALIZED VIEW graft_mv_esc WHERE k = 'x:1'").collect()
    assert(Engine.sql(spark, dir, "SELECT k, total FROM graft_mv_esc")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x:1" -> 70L, "y=2" -> 9L))
    ddl("DROP MATERIALIZED VIEW graft_mv_esc")
    // unpartitioned MV refuses WHERE-refresh loudly
    ddl("CREATE MATERIALIZED VIEW graft_mv_flat AS SELECT 1 AS x")
    intercept[Exception](
      ddl("REFRESH MATERIALIZED VIEW graft_mv_flat WHERE x = 1"))
    ddl("DROP MATERIALIZED VIEW graft_mv_flat")
    ddl("DROP MATERIALIZED VIEW graft_mv_sums")
    intercept[Exception](ddl("DROP MATERIALIZED VIEW graft_mv_sums"))
    ddl("DROP MATERIALIZED VIEW IF EXISTS graft_mv_sums")
    intercept[Exception](one("SELECT * FROM graft_mv_sums"))
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The executed plan's operators (through AQE stages) after a run. */
  private def executedOps(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    PlanWalk.collect(df.queryExecution.executedPlan) { case p => p }
  }

  private def codegenStages(df: DataFrame): Int =
    executedOps(df).count(_.isInstanceOf[WholeStageCodegenExec])

  test("small statements run interpreted; large ones, DDL and streams do not") {
    val s = spark.newSession()
    // a statement over a few kB runs on a clone without codegen stages;
    // the caller's tracker still holds its parse and analysis phases
    val tiny = Engine.sql(s, dir, "SELECT o_orderstatus, count(*) FROM orders GROUP BY 1")
    assert(tiny.sparkSession ne s)
    assert(codegenStages(tiny) == 0)
    assert(Set("parsing", "analysis").subsetOf(tiny.queryExecution.tracker.phases.keySet),
      tiny.queryExecution.tracker.phases.keySet)
    // the compiled path of the same statement has codegen stages
    assert(codegenStages(Engine.sql(s, dir,
      "SELECT o_orderstatus, count(*) FROM orders GROUP BY 1", smallPath = false)) > 0)
    // large inputs keep whole-stage codegen on the caller's session:
    // range(10000000) is 80 MB, sf0.1 lineitem 10.8 MB
    val range = Engine.sql(s, dir, "SELECT count(*) FROM range(10000000)")
    assert(range.sparkSession eq s)
    assert(codegenStages(range) > 0)
    val big = spark.newSession()
    val lineitem = Engine.sql(big, "/root/testdata/sf0.1", "SELECT count(*) FROM lineitem")
    assert(lineitem.sparkSession eq big)
    assert(codegenStages(lineitem) > 0)
    // facade DDL and Spark commands are not wrapped (a command already
    // ran eagerly; wrapping would run it again)
    assert(Engine.sql(s, dir, "CREATE VIEW graft_route_v AS SELECT 1 AS x")
      .sparkSession eq s)
    assert(Engine.sql(s, dir, "SHOW TABLES").sparkSession eq s)
    // a streaming plan is not wrapped
    s.readStream.format("rate").load().createOrReplaceTempView("graft_route_stream")
    val stream = Engine.sql(s, dir, "SELECT value FROM graft_route_stream")
    assert(stream.isStreaming && (stream.sparkSession eq s))
  }

  test("the small path sees a SET the caller made before the statement") {
    val s = spark.newSession()
    Engine.sql(s, dir, "SET SESSION spark.sql.autoBroadcastJoinThreshold = -1")
    val df = Engine.sql(s, dir,
      "SELECT count(*) FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
    assert(df.sparkSession ne s)
    val ops = executedOps(df)
    assert(ops.exists(_.isInstanceOf[SortMergeJoinExec]) &&
      !ops.exists(_.isInstanceOf[BroadcastHashJoinExec]), ops.map(_.nodeName))
    // the caller's conf keeps codegen on
    assert(s.conf.get("spark.sql.codegen.wholeStage") == "true")
  }

  test("UNNEST argument scan survives comments and quoted identifiers") {
    // a comment containing ')' and ',' inside the argument list
    assert(Engine.sql(spark, dir,
      """SELECT u.w FROM (SELECT ARRAY[1, 2] AS arr) s
        |CROSS JOIN UNNEST(s.arr /* not a split, (really) */) AS u(w)""".stripMargin)
      .count() == 2)
    // a double-quoted identifier argument (Presto spelling)
    assert(Engine.sql(spark, dir,
      """SELECT u.w FROM (SELECT ARRAY[1] AS "Arr") s
        |CROSS JOIN UNNEST("Arr") AS u(w)""".stripMargin).count() == 1)
  }

  test("a string literal that spells a rewritable clause comes back as written") {
    assert(one("SELECT 'GROUP BY ()' AS s") == "GROUP BY ()")
  }
}
