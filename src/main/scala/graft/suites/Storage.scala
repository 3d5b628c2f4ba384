package graft.suites

import java.nio.file.Files

import graft.{Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Writer + format corpus (SURVEY §2.1): CTAS/INSERT round-trips through
  * parquet/ORC/CSV/JSON, partitioned writes with partition pruning and
  * dynamic partition pruning. Reference: operator/TableWriterOperator.java
  * (write path), presto-hive-metastore/.../HiveStorageFormat.java:51-102
  * (formats), PickTableLayout + dynamic filtering (pruning). Each entry
  * writes to a scratch dir, reads back, and aggregates — the oracle
  * computes the same aggregate from the source table, so a lossy
  * round-trip fails the gate.
  */
object Storage {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def scratch(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Orders slice used by every round-trip (small, typed: ints, doubles,
    * strings, timestamps). */
  private def slice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") < 2000)

  private val roundTripOracle =
    """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  round(sum(o_totalprice), 2) AS price_sum,
      |  count(DISTINCT o_orderstatus) AS n_status
      |FROM orders WHERE o_orderkey < 2000""".stripMargin

  private def readBackAgg(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      sum("o_orderkey").cast("bigint").as("key_sum"),
      round(sum("o_totalprice"), 2).as("price_sum"),
      countDistinct("o_orderstatus").as("n_status"))

  val defs: Seq[Qdef] = Seq(

    // CTAS to parquet and read back (TableWriter + TableFinish path).
    Qdef("w01_ctas_parquet", roundTripOracle) { (s, dir) =>
      val out = scratch("graft_parquet")
      slice(s, dir).write.mode(SaveMode.Overwrite).parquet(out)
      readBackAgg(s.read.parquet(out))
    },

    // ORC round-trip.
    Qdef("w02_orc_roundtrip", roundTripOracle) { (s, dir) =>
      val out = scratch("graft_orc")
      slice(s, dir).write.mode(SaveMode.Overwrite).orc(out)
      readBackAgg(s.read.orc(out))
    },

    // CSV round-trip (header + explicit timestamp format survive).
    Qdef("w03_csv_roundtrip", roundTripOracle) { (s, dir) =>
      val out = scratch("graft_csv")
      slice(s, dir).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(out)
      readBackAgg(s.read.option("header", "true")
        .schema(slice(s, dir).schema).csv(out))
    },

    // JSON-lines round-trip.
    Qdef("w04_json_roundtrip", roundTripOracle) { (s, dir) =>
      val out = scratch("graft_json")
      slice(s, dir).write.mode(SaveMode.Overwrite).json(out)
      readBackAgg(s.read.schema(slice(s, dir).schema).json(out))
    },

    // Partitioned write + static partition pruning: only the selected
    // partition directories are scanned on read-back.
    Qdef(
      "w05_partitioned_pruning",
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val out = scratch("graft_part")
      slice(s, dir).write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },

    // Bucketed co-located join (reference: the PARTITIONED distribution of
    // sql/planner/SystemPartitioningHandle.java made durable): both sides
    // bucketed 8 ways on the join key, so the join runs WITHOUT a shuffle
    // — the plan shape `PlanSpec` asserts. At 100 TB, bucketing the fact
    // table once amortizes the exchange across every downstream join.
    Qdef(
      "w07_bucketed_join",
      """SELECT c_nationkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey < 5000
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      val wh = java.nio.file.Files.createTempDirectory("graft_bucket").toString
      val ord = t(s, dir, "orders").filter(col("o_orderkey") < 5000)
      val cust = t(s, dir, "customer")
      s.sql("DROP TABLE IF EXISTS graft_b_orders")
      s.sql("DROP TABLE IF EXISTS graft_b_customer")
      ord.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/b_orders").mode(SaveMode.Overwrite)
        .saveAsTable("graft_b_orders")
      cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/b_customer").mode(SaveMode.Overwrite)
        .saveAsTable("graft_b_customer")
      s.table("graft_b_orders")
        .join(s.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_nationkey")
    },

    // INSERT INTO (append) semantics: two writes into the same table,
    // counts double.
    Qdef(
      "w06_insert_append",
      """SELECT CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM orders WHERE o_orderkey < 1000
        |      UNION ALL
        |      SELECT * FROM orders WHERE o_orderkey < 1000) u""".stripMargin) { (s, dir) =>
      val out = scratch("graft_append")
      val src = t(s, dir, "orders").filter(col("o_orderkey") < 1000)
      src.write.mode(SaveMode.Overwrite).parquet(out)
      src.write.mode(SaveMode.Append).parquet(out)
      s.read.parquet(out).agg(count(lit(1)).as("n"))
    },

    // Metadata-only DELETE (reference: MetadataDeleteOptimizer.java):
    // DELETE WHERE <partition predicate> drops whole partition
    // directories — O(partitions), zero row rewrites — then the read-back
    // aggregate must equal the oracle's post-delete state. Non-partition
    // predicates are rejected loudly (MetadataDeleteSpec).
    Qdef(
      "w09_metadata_delete",
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey < 2000 AND o_orderstatus <> 'O'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val out = scratch("graft_mdel")
      slice(s, dir).write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderstatus").parquet(out)
      graft.ops.MetadataDelete.deleteWhere(s, out, col("o_orderstatus") === "O")
      graft.ops.MetadataDelete.table(s, out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },

    // Row-level DELETE via copy-on-write (reference: operator/
    // DeleteOperator.java): a NON-partition predicate rewrites only the
    // files containing matches (RowLevelDeleteSpec proves untouched files
    // stay byte-identical), then the read-back aggregate must equal the
    // oracle's post-delete state.
    Qdef(
      "w10_row_level_delete",
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey < 2000
        |  AND NOT (o_orderpriority = '5-LOW' AND o_totalprice < 100000)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val out = scratch("graft_rdel")
      slice(s, dir).repartition(4).write.mode(SaveMode.Overwrite).parquet(out)
      graft.ops.RowLevelDelete.deleteWhere(s, out,
        col("o_orderpriority") === "5-LOW" && col("o_totalprice") < 100000)
      graft.ops.RowLevelDelete.table(s, out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },

    // The DSv2 generator connector (reference: the presto-tpch connector,
    // TpchConnectorFactory.java — deterministic data served straight from
    // a generator, no storage). Every cell is a closed-form integer
    // function of the row key, so DuckDB regenerates the whole table from
    // a range() sequence and verifies the pushed-down slice aggregate
    // cell-for-cell. The o_orderkey predicate is CONSUMED by the
    // connector into its key range (SourcesSpec pins that plan fact);
    // sums stay integer-exact in DOUBLE (whole dollars, < 2^53).
    Qdef.duckOnly(
      "w11_generator_connector",
      """WITH gen AS (
        |  SELECT i AS o_orderkey,
        |    (i * 2654435761) % 99991 AS o_custkey,
        |    CAST((i * 7621) % 900000 + 100000 AS DOUBLE) AS o_totalprice,
        |    DATE '1970-01-01' + CAST(9000 + (i * 13) % 2557 AS INT) AS o_orderdate,
        |    (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])
        |      [CAST((i * 11) % 5 AS INT) + 1] AS o_orderpriority
        |  FROM range(1, 60001) t(i))
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(o_totalprice) AS DOUBLE) AS total,
        |  min(o_orderdate) AS first_day,
        |  CAST(sum(o_custkey) AS BIGINT) AS cust_sum
        |FROM gen
        |WHERE o_orderkey <= 50000
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, _) =>
      s.read.format("graft-tpch")
        .option("rows", "60000").option("splits", "16").load()
        .filter(col("o_orderkey") <= 50000)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum("o_totalprice").as("total"),
          min("o_orderdate").as("first_day"),
          sum("o_custkey").as("cust_sum"))
        .orderBy("o_orderpriority")
    }
  )
}
