package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table registry over the driver-generated testdata
  * (see TESTDATA.md / FIXTURES.md). The reference resolves tables via a
  * connector metadata layer (reference: presto-main/.../metadata/
  * MetadataManager.java); here every table is a parquet directory whose
  * schema comes from the footer, which keeps scans vectorized and lets
  * Catalyst push filters/projections into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Input-aware scan split sizing: aim for ~2 tasks per core on the
    * LARGEST table of the dataset, floored at 4 MB and capped at Spark's
    * 128 MB default. A hard-coded split size is wrong in one direction or
    * the other — 4 MB explodes task counts at 100 TB, 128 MB under-splits
    * small multi-row-group inputs — so derive it from the data. (Measured
    * at sf0.1 the knob is inert either way: the fixtures are single-row-
    * group files, and a row group always lands in exactly one split.)
    */
  // Last-applied dir per session: the tuning writes SESSION-GLOBAL confs,
  // so it must be re-applied whenever the same session switches to a
  // different data directory (a memoized once-per-(session,dir) set would
  // silently keep the other dir's sizing). Weak keys so a discarded
  // session can be GC'd (a strong-keyed map pins every session for
  // process lifetime in a long-lived multi-session service), and the
  // record+apply runs under the map-wide monitor so two racing loads
  // with different dirs can't leave the conf from one dir while the map
  // records the other. (One monitor serializes tuning across ALL
  // sessions — acceptable: the critical section is a handful of file
  // stats + two conf writes, and re-tuning only fires on a dir switch.)
  private val tunedDir: java.util.Map[SparkSession, String] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def tuneScans(spark: SparkSession, dir: String): Unit =
    tunedDir.synchronized {
      if (tunedDir.get(spark) != dir) {
        tunedDir.put(spark, dir)
        val sizes = names.map(n => new java.io.File(s"$dir/$n.parquet"))
          .filter(_.exists).map(_.length)
        if (sizes.nonEmpty) {
          val cores = spark.sparkContext.defaultParallelism.toLong
          val split = math.min(
            math.max(sizes.max / (2 * cores), 4L * 1024 * 1024),
            128L * 1024 * 1024)
          spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
          spark.conf.set("spark.sql.files.openCostInBytes",
            math.max(split / 8, 512L * 1024).toString)
        }
      }
    }

  // Inferred-schema cache: Spark 4 resolves a schemaless read through the
  // ResolveDataSource analyzer rule, and parquet schema inference there
  // launches a footer-reading Spark job — measured ~60 ms per load even
  // for `nation`, which made table loads 85-95% of DataFrame-construction
  // time (q05 builds 6 scans = ~0.36 s of pure re-inference per
  // construction; RuleExecutor metrics: ResolveDataSource 20.1 s of a
  // 23.1 s rule total over the headline suite). Fixture directories are
  // immutable for the life of the process (the environment contract:
  // /root/testdata is read-only), so the schema is cached per
  // (dir, table) and passed explicitly — `spark.read.schema(s)` skips
  // inference entirely while still minting FRESH attribute ids per call,
  // so self-join disambiguation behaves exactly as before. The
  // nanosAsLong conf participates in the key because it changes what
  // inference returns for events.ts (raw long vs NTZ). A deployment over
  // mutable paths would drop this cache or key it by snapshot version.
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    tuneScans(spark, dir)
    val path = s"$dir/$name.parquet"
    val nanosConf = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("false")
    val schema = schemaCache.getOrElseUpdate((dir, name, nanosConf),
      spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") eventsTs(df) else df
  }

  /** The one `events.ts` normalization, for the batch table and the
    * stream alike. events.ts has shipped as parquet TIMESTAMP(NANOS) —
    * which Spark's vectorized reader only accepts as a raw long
    * (nanosAsLong, set in Engine.session) — and as TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark infers as TIMESTAMP_NTZ.
    * Normalize both to a plain TimestampType `ts` so every downstream
    * operator (including withWatermark, which rejects NTZ event time)
    * sees one type. The session TZ is pinned UTC (Engine.session), so
    * the NTZ→instant cast is value-preserving. */
  private[graft] def eventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // `div` (integral division) — col/1000L would go through double and
      // lose exactness past 2^53 epoch-nanos.
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Register all tables as temp views so `spark.sql` works too.
    * Memoized per (session, dir) — Engine.sql calls this on EVERY
    * statement, and 10 view re-registrations per statement is pure
    * planning tax once the views exist (base-table names can never be
    * clobbered through the facade: Engine.requireFreeName rejects
    * view/MV DDL over them). A caller that drops a base temp view
    * BEHIND the facade (spark.catalog.dropTempView directly) must
    * re-register by switching dirs or calling load itself. Same weak-key
    * + monitor shape as tunedDir, for the same lifecycle reasons. */
  private val registeredDir: java.util.Map[SparkSession, String] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  def registerAll(spark: SparkSession, dir: String): Unit =
    registeredDir.synchronized {
      if (registeredDir.get(spark) != dir) {
        registeredDir.put(spark, dir)
        names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      }
    }

  /** The reference's UNPREFIXED TPC-H `tiny` schema over the fixture —
    * the schema its engine-level H2 corpus is written against
    * (presto-tests/.../AbstractTestQueries.java et al.; the TPC-H
    * connector exposes unprefixed column names and `tiny` = sf0.01,
    * reference: presto-tpch/.../TpchMetadata.java:95-99). The fixture's
    * prefixed columns are projected to the reference names and its
    * timestamp-typed date columns cast to DATE (the reference schema's
    * type). Registers the standard views first, then SHADOWS the seven
    * TPC-H names, and claims the session's registration slot so a later
    * registerAll for the same dir leaves the tiny views in place — use
    * a dedicated session (spark.newSession()) since the standard
    * prefixed names become unreachable there. */
  def registerTinyViews(spark: SparkSession, dir: String): Unit =
    registeredDir.synchronized {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
      val tiny: Map[String, Seq[String]] = Map(
        "orders" -> Seq("o_orderkey AS orderkey", "o_custkey AS custkey",
          "o_orderstatus AS orderstatus", "o_totalprice AS totalprice",
          "CAST(o_orderdate AS DATE) AS orderdate",
          "o_orderpriority AS orderpriority"),
        "lineitem" -> Seq("l_orderkey AS orderkey", "l_partkey AS partkey",
          "l_suppkey AS suppkey", "l_linenumber AS linenumber",
          "l_quantity AS quantity", "l_extendedprice AS extendedprice",
          "l_discount AS discount", "l_tax AS tax",
          "l_returnflag AS returnflag", "l_linestatus AS linestatus",
          "CAST(l_shipdate AS DATE) AS shipdate"),
        "customer" -> Seq("c_custkey AS custkey", "c_name AS name",
          "c_nationkey AS nationkey", "c_acctbal AS acctbal",
          "c_mktsegment AS mktsegment"),
        "supplier" -> Seq("s_suppkey AS suppkey", "s_name AS name",
          "s_nationkey AS nationkey", "s_acctbal AS acctbal"),
        "part" -> Seq("p_partkey AS partkey", "p_name AS name",
          "p_brand AS brand", "p_type AS type", "p_size AS size",
          "p_retailprice AS retailprice"),
        "nation" -> Seq("n_nationkey AS nationkey", "n_name AS name",
          "n_regionkey AS regionkey"),
        "region" -> Seq("r_regionkey AS regionkey", "r_name AS name"))
      tiny.foreach { case (n, proj) =>
        load(spark, dir, n).selectExpr(proj: _*).createOrReplaceTempView(n)
      }
    }
}
