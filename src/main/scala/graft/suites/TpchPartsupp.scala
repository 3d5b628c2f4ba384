package graft.suites

import graft.{Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The partsupp-dependent TPC-H queries in their VERBATIM benchto shapes
  * (reference: presto-benchto-benchmarks/src/main/resources/sql/presto/
  * tpch/q02.sql, q09.sql, q11.sql, q16.sql, q20.sql). The fixture star
  * schema ships no partsupp table, so it is served from the graft-tpch
  * DataSource V2 generator (sources/TpchGenSource — the reference's
  * serve-from-generator connector contract, presto-tpch/.../
  * TpchMetadata.java:139-165): 4 suppliers per part via dbgen's
  * published assignment formula, closed-form quantities/costs, sized to
  * the CURRENT data directory's part/supplier counts so the joins are
  * real at every scale factor. The DuckDB oracles regenerate the exact
  * same rows from range() — an independent derivation, not a replay.
  *
  * Adaptations (the fixture lacks several TPC-H columns — FIXTURES.md):
  * select lists drop absent columns (p_mfgr, s_address, s_phone,
  * comments), constant predicates map onto the fixture domains (nation
  * names are NATION_n, p_type is a 6-value set), and q11's ORDER BY
  * gains a ps_partkey tiebreak because the synthetic value column ties
  * at sf0.1 (8 duplicate sums over 3238 groups) — the reference text's
  * bare `ORDER BY value DESC` is nondeterministic there on ANY engine.
  * Join structure, subquery shapes and aggregate forms are verbatim.
  *
  * All oracles are duckOnly: DuckDB's range() table function generates
  * partsupp on the oracle side (not valid Spark SQL).
  */
object TpchPartsupp {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The generated partsupp frame, sized to the directory's fixture key
    * spaces (0-based dense keys, verified in FIXTURES.md). The two
    * count() jobs read parquet footers only — O(files), not O(rows). */
  private def partsupp(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part").count()
    val suppliers = t(s, dir, "supplier").count()
    s.read.format("graft-tpch")
      .option("table", "partsupp")
      .option("parts", parts)
      .option("suppliers", suppliers)
      .option("splits", 8)
      .load()
  }

  /** DuckDB-side regeneration of the same rows. The 400k range cap
    * covers 100k parts (sf0.5); beyond it the oracle would truncate and
    * the gate would fail LOUDLY against the Spark side. */
  private val psCte: String =
    """WITH partsupp AS (
      |  SELECT
      |    CAST(r.range // 4 AS BIGINT) AS ps_partkey,
      |    CAST(((r.range // 4) + (r.range % 4) *
      |      ((SELECT count(*) FROM supplier) // 4 +
      |       (r.range // 4) // (SELECT count(*) FROM supplier)))
      |      % (SELECT count(*) FROM supplier) AS BIGINT) AS ps_suppkey,
      |    CAST((r.range * 7919) % 9999 + 1 AS INT) AS ps_availqty,
      |    CAST((r.range * 6271) % 900 + 100 AS DOUBLE) AS ps_supplycost
      |  FROM range(0, 400000) r
      |  WHERE r.range < 4 * (SELECT count(*) FROM part)
      |)""".stripMargin

  val defs: Seq[Qdef] = Seq(

    // q11 — important stock identification: two-level aggregate with a
    // global-threshold scalar subquery over the SAME join.
    Qdef.duckOnly(
      "q11_important_stock",
      psCte + """
        |SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
        |FROM partsupp, supplier, nation
        |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_7'
        |GROUP BY ps_partkey
        |HAVING sum(ps_supplycost * ps_availqty) > (
        |  SELECT sum(ps_supplycost * ps_availqty) * 0.0001
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_7')
        |ORDER BY value DESC, ps_partkey""".stripMargin) { (s, dir) =>
      val german = partsupp(s, dir)
        .join(t(s, dir, "supplier"), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("ps_partkey"), (col("ps_supplycost") * col("ps_availqty")).as("v"))
      val byPart = german.groupBy("ps_partkey").agg(sum("v").as("value"))
      val threshold = german.agg((sum("v") * 0.0001).as("thr"))
      byPart.crossJoin(broadcast(threshold))
        .filter(col("value") > col("thr"))
        .select("ps_partkey", "value")
        .orderBy(col("value").desc, col("ps_partkey"))
    },

    // q02 — minimum-cost supplier: correlated scalar MIN subquery over
    // the same 4-table join, decorrelated to a per-part min + equijoin.
    Qdef.duckOnly(
      "q02v_min_cost_supplier",
      psCte + """
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
        |FROM part, supplier, partsupp, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_size = 15 AND p_type LIKE '%AR%'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps_supplycost)
        |    FROM partsupp, supplier, nation, region
        |    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |      AND r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin) { (s, dir) =>
      val europeSupp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      val europePs = partsupp(s, dir)
        .join(europeSupp, col("ps_suppkey") === col("s_suppkey"))
      val minCost = europePs.groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min("ps_supplycost").as("min_cost"))
      europePs
        .join(minCost,
          col("ps_partkey") === col("mc_partkey") &&
          col("ps_supplycost") === col("min_cost"))
        .join(t(s, dir, "part").filter(
            col("p_size") === 15 && col("p_type").like("%AR%")),
          col("p_partkey") === col("ps_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
    },

    // q09 — product-type profit with the REAL supply-cost term (the
    // adapted q09_product_profit used a retail-margin proxy): profit =
    // revenue - ps_supplycost * l_quantity, grouped by nation and year.
    Qdef.duckOnly(
      "q09v_product_profit",
      psCte + """
        |SELECT nation, o_year, sum(amount) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount)
        |           - ps_supplycost * l_quantity AS amount
        |  FROM part, supplier, lineitem, partsupp, orders, nation
        |  WHERE s_suppkey = l_suppkey
        |    AND ps_suppkey = l_suppkey AND ps_partkey = l_partkey
        |    AND p_partkey = l_partkey AND o_orderkey = l_orderkey
        |    AND s_nationkey = n_nationkey
        |    AND p_name LIKE '%gear%'
        |) profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_name").like("%gear%")),
          col("p_partkey") === col("l_partkey"))
        .join(partsupp(s, dir),
          col("ps_suppkey") === col("l_suppkey") &&
          col("ps_partkey") === col("l_partkey"))
        .join(t(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(
          col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("ps_supplycost") * col("l_quantity")).as("amount"))
        .groupBy("nation", "o_year")
        .agg(sum("amount").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // q16 — parts/supplier relationship over the REAL partsupp pairs
    // (the adapted q16_supplier_cnt counted lineitem suppliers):
    // NOT IN anti join + count(DISTINCT) per part group.
    Qdef.duckOnly(
      "q16v_parts_supplier_cnt",
      psCte + """
        |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#5'
        |  AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, dir) =>
      val complainers = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      partsupp(s, dir)
        .join(t(s, dir, "part").filter(
            col("p_brand") =!= "Brand#5" &&
            !col("p_type").like("PROMO%") &&
            col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)),
          col("p_partkey") === col("ps_partkey"))
        .join(complainers, col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    // q20 — potential part promotion: IN over partsupp with a
    // TWO-COLUMN-correlated availqty threshold subquery (half the
    // shipped quantity of that part+supplier pair in 1994).
    Qdef.duckOnly(
      "q20v_potential_promotion",
      psCte + """
        |SELECT s_name, s_acctbal
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |  SELECT ps_suppkey FROM partsupp
        |  WHERE ps_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |    AND ps_availqty > (
        |      SELECT 0.5 * sum(l_quantity) FROM lineitem
        |      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |        AND l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'))
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |ORDER BY s_name""".stripMargin) { (s, dir) =>
      val redParts = t(s, dir, "part").filter(col("p_name").like("red%"))
        .select("p_partkey")
      // decorrelated threshold: empty 1994 shipments give a NULL sum in
      // the reference text (availqty > NULL filters out), so the inner
      // join reproduces the semantics exactly
      val shipped = t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1994-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1995-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((lit(0.5) * sum("l_quantity")).as("half_qty"))
      val promoSupp = partsupp(s, dir)
        .join(redParts, col("ps_partkey") === col("p_partkey"), "leftsemi")
        .join(shipped,
          col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") > col("half_qty"))
        .select("ps_suppkey").distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(promoSupp, col("s_suppkey") === col("ps_suppkey"), "leftsemi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    })
}
