package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine facade: session construction + the SQL entry point. The
  * reference's only public query surface is SQL over HTTP (reference:
  * presto-main/src/main/java/com/facebook/presto/server/protocol/
  * QueuedStatementResource.java:168-169, parsed by presto-parser/.../
  * parser/SqlParser.java); our equivalent is `Engine.sql` — table
  * registration + a light Presto→Spark dialect shim + `spark.sql`, so
  * Catalyst does parse/analyze/optimize/execute (SURVEY §3.1-3.2).
  */
object Engine {

  /** Build a session with [[graft.plans.GraftExtensions]] (the resolution
    * rules and the whole function catalog), configured the way a large
    * cluster job would be: AQE on (runtime re-plan, skew-join splitting,
    * dynamic coalesce), `shufflePartitions` shuffle partitions, UTC,
    * and generated code compiled once per JVM and shared by every clone
    * of the session (see the two codegen settings below). The
    * master is the one already set in conf (spark-submit), else
    * `local[cores]`. The defaults suit a 32-core host; pass the host's
    * core count elsewhere.
    */
  def session(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(masterFor(new SparkConf(), cores))
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Hive-style ${var} substitution would rewrite regexp named-group
      // replacement references (regexp_replace(s, p, '${name}')) out of
      // the SQL TEXT before parsing — the reference has no such
      // substitution surface, so turn it off
      .config("spark.sql.variable.substitute", "false")
      // ObjectHashAggregate, which runs every typed Aggregator in the
      // catalog (tdigest_agg, qdigest_agg, approx_set_agg, khyperloglog_agg,
      // set-digest and HLL merges, map_union_sum, histogram,
      // approx_most_frequent, the samplers), falls back to SORT-based
      // aggregation after this many distinct keys per partition. The
      // 128 default turns a grouped sketch build into a full sort of
      // every partition once a partition sees more than 128 groups.
      // 32k entries of sketch buffers is tens of MB; a deployment with
      // multi-KB buffers re-tunes this.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "32768")
      // Spark's JVM-wide cache of compiled generated classes, keyed by
      // (context class loader, code body), holds 100 entries by default
      // and evicts the least recently used. One perfbench `pipelines`
      // pass needs 110 bodies, so cycled through 100 entries every
      // lookup missed and each pass compiled them all again. A full
      // graft.Verify run (308 entries) needs 2 670 keys when nothing is
      // evicted; 4096 holds that with room to spare. Static: it takes
      // effect for the session that starts the JVM's SparkContext.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Artifact isolation (Spark's default) gives every session UUID
      // its own executor class loader. Tasks run under that loader, so
      // each clone session — one per stream start (StreamExecution),
      // one per small statement (SmallStatement.route) — missed the
      // cache above and compiled its task-side projections, joiners and
      // orderings again. The engine adds no per-session jar or
      // artifact. The trade: an artifact added to one session becomes
      // visible to every other session that also runs with isolation off.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // ANSI error semantics — Spark 4's own default, pinned explicitly
      // because the engine RELIES on it in two ways: (1) the reference
      // raises on division by zero / numeric overflow (presto-main/.../
      // type/BigintOperators.java:114,126) and ANSI mode matches that
      // exactly, with TRY(...) null-on-error in both engines (corpus
      // n07); (2) the ConcatArrayElement resolution rule needs ANSI
      // coercion to keep `ARRAY[1] || 2` un-stringified (see its
      // COUPLING note). `SET SESSION ansi_errors = false` (or
      // spark.conf.set) opts one session into Spark's legacy
      // NULL-on-error arithmetic; a corpus-wide experiment runs
      // `graft.Profile ab <regex> --conf spark.sql.ansi.enabled=true,false`.
      .config("spark.sql.ansi.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS); read as long, converted in
      // Tables.load (Spark has no nanos timestamp type).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark 4.1's per-checkpoint-file checksum writer (new in 4.1;
      // 4.0 and earlier had no such file) funnels every stateful task's
      // store commit through ChecksumCheckpointFileManager.awaitResult —
      // a thread dump of st05 showed all 32 join tasks parked there
      // (132 task-run-seconds vs 2.1 CPU-seconds in one micro-batch),
      // and the interleaved A/B (OPTIMIZATION_r16.md §10, item 1)
      // measured st05 8.3 → 4.9 s, st02 3.65 → 2.6, st01 1.58 → 1.27
      // with it off. Off restores the ≤4.0 checkpoint durability
      // semantics (the checksum only adds corruption DETECTION); a
      // deployment that wants the extra check re-enables it per session
      // (spark.conf.set) — the trade is documented in BASELINE.md's
      // streaming-durability note.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Stream checkpoints on a local file system go through the Hadoop
      // FileSystem API (ops/FsCheckpointFileManager); every other scheme
      // keeps Spark's FileContext-based manager. Without libhadoop,
      // FileContext.rename forks a `readlink` process per link-status
      // lookup, four per atomic checkpoint file (offsets, commits and
      // source logs on the stream thread, each state partition's delta
      // file in its task). A JDK Flight Recorder count of
      // jdk.ProcessStart events over one st01 run read 112 `readlink`s
      // with the default and 0 with this manager (StreamingOpsSpec pins
      // the 0). In a traced perfbench `pipelines` pass (4 cores) the
      // state-store commit fell 0.84 → 0.11 s of task time.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.ops.FsCheckpointFileManager].getName)
      // NOTE on string literals: Presto's are standard SQL ('' doubling
      // only; backslash is an ordinary character — SqlBase.g4 STRING
      // rule). The facade preserves that inside translation
      // (Dialect.preserveBackslashes doubles them so Spark's C-escaping
      // parser reconstructs the original) rather than via Spark's legacy
      // escapedStringLiterals flag, which would stop un-doubling ''
      // (measured: 'it''s' stays "it''s") and change the rules for
      // every DataFrame-side expr() string too.
      // Scan split sizing is input-aware, set per data directory in
      // Tables.tuneScans (a fixed value is wrong at one end of the scale
      // or the other); the session starts at Spark's defaults.
      // keep managed-table data out of the repo working tree
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The master `session` asks for: the one already set in conf (e.g. by
    * spark-submit --master), else `local[cores]`. */
  private[graft] def masterFor(conf: SparkConf, cores: Int): String =
    conf.getOption("spark.master").getOrElse(s"local[$cores]")

  /** The session zone of the QUERY being evaluated right now, for use
    * inside UDF bodies: SQLConf.get is thread-local on the driver and
    * task-propagated on executors, so this tracks a live
    * `SET spark.sql.session.timeZone` where a closure-captured zone
    * would not. ZoneId.of caches, so the per-call cost is a map lookup.
    */
  def currentZone: java.time.ZoneId =
    java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)

  /** Escape a Scala string for embedding in a Spark SQL single-quoted
    * literal: backslashes first (Spark's default literal parser treats
    * them as escapes), then quote doubling. */
  private def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  /** One weak-keyed per-session named store (prepared statements, views,
    * materialized views, ANALYZE stats): a discarded session's entries
    * stay collectable, and every feature shares this single
    * synchronized-WeakHashMap shape instead of re-copying it. */
  private final class SessionStore[T] {
    private val store: java.util.Map[
        SparkSession, scala.collection.concurrent.TrieMap[String, T]] =
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[
          SparkSession, scala.collection.concurrent.TrieMap[String, T]]())
    def apply(spark: SparkSession): scala.collection.concurrent.TrieMap[String, T] =
      store.synchronized {
        var m = store.get(spark)
        if (m == null) {
          m = scala.collection.concurrent.TrieMap.empty[String, T]
          store.put(spark, m)
        }
        m
      }
  }

  /** Per-session prepared-statement store for PREPARE / EXECUTE …
    * USING / DEALLOCATE PREPARE (reference: SqlBase.g4:131-133; the
    * reference keeps these in the client session the same way). Weak
    * keys so a discarded session's statements are collectable. */
  private val preparedFor = new SessionStore[String]

  /** Fail on a session built without [[graft.plans.GraftExtensions]]: it
    * has neither the function catalog nor the resolution rules the
    * translated SQL relies on, so it would run with other semantics. */
  private def requireExtensions(spark: SparkSession): Unit =
    if (!spark.sessionState.analyzer.extendedResolutionRules
        .contains(graft.plans.ConcatArrayElement))
      throw new IllegalStateException(
        "Engine.sql needs a session built with graft.plans.GraftExtensions: " +
          "use Engine.session, or set " +
          "spark.sql.extensions=graft.plans.GraftExtensions")

  private val ExplainAnalyzeRe =
    "(?is)^\\s*EXPLAIN\\s+ANALYZE(\\s+VERBOSE)?\\b(.*)$".r

  private val ExplainIoRe =
    "(?is)^\\s*EXPLAIN\\s*\\(([^)]*\\btype\\s+io\\b[^)]*)\\)(.*)$".r

  /** True while the current thread is analyzing a plan submitted
    * through [[sql]] — the Presto-dialect marker
    * [[graft.plans.IntegerDivisionRewrite]] keys on. `spark.sql`
    * analyzes eagerly on the calling thread, so the flag brackets
    * exactly the facade's own resolution; DataFrame programs and
    * direct `spark.sql` callers never see it. */
  private val prestoDialect: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  def prestoDialectActive: Boolean = prestoDialect.get()

  /** Register the parquet catalog and run a query through Spark SQL after
    * the dialect shim. This is the reference's `POST /v1/statement`
    * equivalent: SQL in, DataFrame (result cursor) out. PREPARE /
    * EXECUTE … USING / DEALLOCATE PREPARE are handled here (the store is
    * session state, not translation): PREPARE and DEALLOCATE return a
    * one-row acknowledgment frame like the reference's OK result.
    */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame =
    sql(spark, dir, query, smallPath = true)

  /** [[sql]] with the small-statement path switchable: `smallPath =
    * false` keeps every query on whole-stage codegen, the compiled side
    * the interpreted path is checked against. */
  private[graft] def sql(spark: SparkSession, dir: String, query: String,
      smallPath: Boolean): DataFrame = {
    val prevDialect = prestoDialect.get()
    prestoDialect.set(true)
    try sqlImpl(spark, dir, query, smallPath)
    finally prestoDialect.set(prevDialect)
  }

  private def sqlImpl(spark: SparkSession, dir: String, query: String,
      smallPath: Boolean): DataFrame = {
    requireExtensions(spark)
    Tables.registerAll(spark, dir)
    // shadow the object-level translate: every statement path in this
    // method first resolves the session's user-defined type names
    // (CREATE TYPE), then runs the dialect translation
    def translate(q: String): String =
      Dialect.translate(substituteTypes(spark,
        Dialect.substituteEnums(q, enumsFor(spark))))
    ExplainIoRe.findFirstMatchIn(query) match {
      case Some(m) =>
        // EXPLAIN (TYPE IO) — the reference's I/O plan document
        // (IOPlanPrinter.java; QueryExplainer case IO); see
        // graft.plans.ExplainIo for the emulation contract.
        return graft.plans.ExplainIo.run(spark, spark.sql(translate(m.group(2))))
      case None =>
    }
    ExplainAnalyzeRe.findFirstMatchIn(query) match {
      case Some(m) =>
        // EXPLAIN ANALYZE executes the statement and reports the observed
        // per-operator metrics (reference: operator/ExplainAnalyzeOperator
        // .java; SqlBase.g4:103) — see graft.plans.ExplainAnalyze.
        return graft.plans.ExplainAnalyze.run(
          spark, spark.sql(translate(m.group(2))), verbose = m.group(1) != null)
      case None =>
    }
    Dialect.classifyPrepared(query) match {
      case Some(Dialect.PrepareStmt(name, body)) =>
        preparedFor(spark).put(name, body)
        spark.sql(s"SELECT 'PREPARE' AS result, '$name' AS statement_name")
      case Some(Dialect.ExecuteStmt(name, params)) =>
        val body = preparedFor(spark).getOrElse(name,
          throw new IllegalArgumentException(s"Prepared statement not found: $name"))
        spark.sql(translate(Dialect.substituteParams(body, params)))
      case Some(Dialect.DeallocateStmt(name)) =>
        preparedFor(spark).remove(name)
        spark.sql(s"SELECT 'DEALLOCATE' AS result, '$name' AS statement_name")
      case Some(Dialect.DescribeInputStmt(name)) =>
        // reference: sql/rewrite/DescribeInputRewrite.java — ("Position",
        // "Type") per placeholder, 0-based, ordered; an all-NULL row when
        // the statement has none. Types surface as 'unknown': parameter
        // types aren't inferred before binding (same as the reference
        // before analysis can type them).
        val body = preparedFor(spark).getOrElse(name,
          throw new IllegalArgumentException(s"Prepared statement not found: $name"))
        val n = Dialect.countParams(body)
        if (n == 0)
          spark.sql("SELECT CAST(NULL AS INT) AS `Position`, CAST(NULL AS STRING) AS `Type`")
        else
          spark.sql((0 until n).map(i => s"($i, 'unknown')")
            .mkString("SELECT * FROM VALUES ", ", ",
              " AS t(`Position`, `Type`) ORDER BY `Position`"))
      case Some(Dialect.DescribeOutputStmt(name)) =>
        // reference: sql/rewrite/DescribeOutputRewrite.java — one row per
        // output column. The statement is analyzed (not executed) with
        // placeholders bound to NULL to type the projection. Divergences:
        // Catalog/Schema/Table are empty (temp views carry no origin),
        // Type Size is 0, Aliased is always true.
        val body = preparedFor(spark).getOrElse(name,
          throw new IllegalArgumentException(s"Prepared statement not found: $name"))
        val bound = Dialect.substituteParams(
          body, Seq.fill(Dialect.countParams(body))("NULL"))
        val rows = spark.sql(translate(bound)).schema.fields.map { f =>
          val nm = f.name.replace("'", "''")
          val tp = graft.functions.TriviaScalars.prestoTypeName(f.dataType)
          s"('$nm', '', '', '', '$tp', 0, true)"
        }
        spark.sql(rows.mkString("SELECT * FROM VALUES ", ", ",
          " AS t(`Column Name`, `Catalog`, `Schema`, `Table`, `Type`, `Type Size`, `Aliased`)"))
      case Some(Dialect.ShowCreateTableStmt(name)) =>
        // reconstructed from the live schema (the reference's rewrite
        // reads the connector metadata the same way); single-part names
        // and the parquet storage format are the session's one catalog.
        // Views/MVs are rejected like the reference's ShowQueriesRewrite
        // ("Relation is a view. Use SHOW CREATE VIEW") — fabricating a
        // parquet DDL for them would be a silent wrong answer.
        if (viewsFor(spark).contains(name))
          throw new IllegalArgumentException(
            s"Relation '$name' is a view. Use SHOW CREATE VIEW")
        if (matViewsFor(spark).contains(name))
          throw new IllegalArgumentException(
            s"Relation '$name' is a materialized view. " +
              "Use SHOW CREATE MATERIALIZED VIEW")
        val fields = spark.table(name).schema.fields.map { f =>
          val ident = f.name.replace("\"", "\"\"") // Presto identifier quoting
          s"""   "$ident" ${graft.functions.TriviaScalars.prestoTypeName(f.dataType)}"""
        }
        val ddl = s"CREATE TABLE $name (\n" + fields.mkString(",\n") +
          "\n)\nWITH (\n   format = 'PARQUET'\n)"
        spark.sql(s"SELECT '${sqlLit(ddl)}' AS `Create Table`")
      case Some(Dialect.ShowStatsStmt(target, isQuery)) =>
        // ANALYZE-persisted stats serve table targets (reference contract:
        // SHOW STATS surfaces the connector's STORED statistics); without a
        // prior ANALYZE the stats are computed on demand (divergence
        // documented on showStats).
        statsFor(spark).get(target) match {
          case Some(rows) if !isQuery =>
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](
                scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
              statsSchema)
          case _ =>
            val df =
              if (isQuery) spark.sql(translate(target)) else spark.table(target)
            showStats(spark, df)
        }
      case Some(Dialect.AnalyzeStmt(table)) =>
        // reference: docs sql/analyze.rst — one distributed stats pass,
        // result persisted for the session; returns the analyzed row count
        // (the reference's single "rows" output column).
        val rows = showStats(spark, spark.table(table)).collect().toSeq
        statsFor(spark).put(table, rows)
        val total = rows.last.getAs[java.lang.Double]("row_count")
        spark.sql(s"SELECT CAST(${total.toLong} AS BIGINT) AS rows")
      case Some(Dialect.CreateViewStmt(name, body, orReplace)) =>
        // reference: execution/CreateViewTask.java — plain view DDL. The
        // defining text is stored verbatim for SHOW CREATE VIEW; the Spark
        // temp view holds the TRANSLATED query.
        requireFreeName(spark, name, "View")
        require(orReplace || !viewsFor(spark).contains(name),
          s"View already exists: $name")
        spark.sql(translate(body)).createOrReplaceTempView(name)
        viewsFor(spark).put(name, s"CREATE VIEW $name AS $body")
        spark.sql(s"SELECT 'CREATE VIEW' AS result, '$name' AS view")
      case Some(Dialect.DropViewStmt(name, ifExists)) =>
        viewsFor(spark).remove(name) match {
          case Some(_) => spark.catalog.dropTempView(name)
          case None => require(ifExists, s"View '$name' does not exist")
        }
        spark.sql(s"SELECT 'DROP VIEW' AS result, '$name' AS view")
      case Some(Dialect.ShowCreateViewStmt(name)) =>
        val text = viewsFor(spark).getOrElse(name,
          throw new IllegalArgumentException(s"View '$name' does not exist"))
        spark.sql(s"SELECT '${sqlLit(text)}' AS `Create View`")
      case Some(Dialect.CreateMatViewStmt(name, ifNotExists, partBy, body)) =>
        if (matViewsFor(spark).contains(name)) {
          require(ifNotExists, s"Materialized view already exists: $name")
          spark.sql(s"SELECT 'CREATE MATERIALIZED VIEW' AS result, '$name' AS view")
        } else {
          requireFreeName(spark, name, "Materialized view")
          val mv = graft.plans.Views.MatView(
            name, body, s"CREATE MATERIALIZED VIEW $name AS $body",
            mvRoot(spark) + "/" + name, partBy)
          val res = graft.plans.Views.create(spark, mv, translate(body))
          matViewsFor(spark).put(name, mv)
          res
        }
      case Some(Dialect.DropMatViewStmt(name, ifExists)) =>
        matViewsFor(spark).remove(name) match {
          case Some(mv) => graft.plans.Views.drop(spark, mv)
          case None => require(ifExists, s"Materialized view '$name' does not exist")
        }
        spark.sql(s"SELECT 'DROP MATERIALIZED VIEW' AS result, '$name' AS view")
      case Some(Dialect.RefreshMatViewStmt(name, pred)) =>
        val mv = matViewsFor(spark).getOrElse(name,
          throw new IllegalArgumentException(
            s"Materialized view '$name' does not exist"))
        graft.plans.Views.refresh(
          spark, mv, translate(mv.bodySql), translate(pred))
      case Some(Dialect.ShowCreateMatViewStmt(name)) =>
        val mv = matViewsFor(spark).getOrElse(name,
          throw new IllegalArgumentException(
            s"Materialized view '$name' does not exist"))
        spark.sql(
          s"SELECT '${sqlLit(mv.createSql)}' AS `Create Materialized View`")
      case Some(Dialect.CreateTypeStmt(name, definition)) =>
        // reference: execution/CreateTypeTask.java — a named structural
        // ROW type or a distinct alias, stored per session and observed
        // at CAST sites. The reference requires the name to live in a
        // function namespace (catalog.schema.name), which also makes the
        // textual substitution unambiguous (a bare identifier could be a
        // column). Definitions are FLATTENED at create time (prior type
        // names inside them resolve immediately), so use-site
        // substitution is a single pass.
        require(name.contains("."),
          s"CREATE TYPE requires a qualified name " +
            s"(catalog.schema.name — the reference stores user-defined " +
            s"types in a function namespace), got '$name'")
        require(!typesFor(spark).contains(name), s"Type already exists: $name")
        Dialect.parseEnumDef(definition) match {
          case Some(ed) =>
            // enum value map (Dialect.EnumDef Scaladoc). The name ALSO
            // registers as a distinct alias of the base type so nested
            // type positions (row(y test.enum.mood)) resolve; CAST sites
            // get the membership check via substituteEnums.
            enumsFor(spark).put(name, ed)
            typesFor(spark).put(name,
              if (ed.base == "bigint") "bigint" else "varchar")
          case None =>
            val resolved = substituteTypes(spark, definition).trim
            val stored =
              if (resolved.startsWith("(")) "ROW " + resolved // structural row
              else resolved                                   // distinct alias
            typesFor(spark).put(name, stored)
        }
        spark.sql(s"SELECT 'CREATE TYPE' AS result, '$name' AS type")
      case Some(Dialect.UseStmt(schema)) =>
        val known = Set("graft", "default", "graft.default", "memory.default")
        if (!known(schema))
          throw new IllegalArgumentException(
            s"Schema '$schema' does not exist — this engine serves the " +
              "single registered fixture schema (USE graft|default)")
        spark.sql(s"SELECT 'USE' AS result, '$schema' AS schema")
      case Some(Dialect.StartTransactionStmt()) =>
        // autocommit narrowing (see Dialect.StartTransactionStmt)
        spark.sql("SELECT 'START TRANSACTION' AS result")
      case Some(Dialect.CommitStmt()) =>
        spark.sql("SELECT 'COMMIT' AS result")
      case Some(Dialect.RollbackStmt()) =>
        throw new UnsupportedOperationException(
          "ROLLBACK: statements auto-commit under the per-statement " +
            "atomic-write narrowing — there is no transaction to roll " +
            "back. Re-create the previous state explicitly instead.")
      case None =>
        // a plain query over little input runs interpreted (see
        // org.apache.spark.sql.classic.SmallStatement)
        val df = spark.sql(translate(query))
        if (smallPath) org.apache.spark.sql.classic.SmallStatement.route(df)
        else df
    }
  }

  private val viewsFor = new SessionStore[String]
  private val matViewsFor = new SessionStore[graft.plans.Views.MatView]
  private val typesFor = new SessionStore[String]
  private val enumsFor = new SessionStore[Dialect.EnumDef]

  /** Resolve registered user-defined type names (qualified, so they
    * cannot collide with bare column identifiers) to their stored
    * definitions, longest name first so one registered name can never
    * clip another's prefix. Case-insensitive, token-bounded, and
    * literal-aware: text inside '…' strings passes through verbatim. */
  private def substituteTypes(spark: SparkSession, sql: String): String = {
    val types = typesFor(spark)
    if (types.isEmpty) return sql
    def subst(span: String): String =
      types.toSeq.sortBy(-_._1.length).foldLeft(span) {
        case (acc, (name, defn)) =>
          acc.replaceAll(
            "(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(name) + "(?![\\w.])",
            java.util.regex.Matcher.quoteReplacement(defn))
      }
    val out = new StringBuilder
    var i = 0
    var spanStart = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '\'') {
        out.append(subst(sql.substring(spanStart, i)))
        var j = i + 1 // find the literal's end ('' escapes a quote)
        while (j < sql.length &&
            (sql.charAt(j) != '\'' ||
              (j + 1 < sql.length && sql.charAt(j + 1) == '\'' && { j += 1; true }))) j += 1
        val end = math.min(j + 1, sql.length)
        out.append(sql.substring(i, end))
        i = end
        spanStart = end
      } else i += 1
    }
    out.append(subst(sql.substring(spanStart)))
    out.toString
  }

  /** Fail loudly when view/MV DDL would take a name already serving the
    * shared namespace: fixture tables are re-registered with
    * createOrReplaceTempView on every Engine.sql call, so a same-named
    * view would silently serve the BASE TABLE while SHOW CREATE VIEW
    * still reports the view — a silent wrong answer. The reference
    * rejects such collisions in the one shared namespace
    * (metadata/MetadataManager.java createView: "Table already exists").
    * Cross-kind collisions (view vs materialized view) fail for the same
    * reason: last writer would clobber the temp view. */
  private def requireFreeName(
      spark: SparkSession, name: String, kind: String): Unit = {
    require(!Tables.names.contains(name),
      s"$kind name '$name' collides with a registered base table — the " +
        "fixture catalog re-registers tables on every statement, so the " +
        "view would be silently shadowed. Pick a different name.")
    if (kind != "View")
      require(!viewsFor(spark).contains(name),
        s"$kind name '$name' collides with an existing view")
    if (kind != "Materialized view")
      require(!matViewsFor(spark).contains(name),
        s"$kind name '$name' collides with an existing materialized view")
  }

  /** Session-scoped storage root for materialized views: a once-per-
    * session UUID directory (identityHashCode is NOT unique across live
    * sessions — two sessions could silently share MV storage) recorded in
    * the session conf, removed on JVM exit so tmp does not accumulate
    * stale MV data a future session could collide with. */
  private def mvRoot(spark: SparkSession): String = {
    val key = "graft.mv.root"
    val existing = spark.conf.getOption(key)
    existing.getOrElse {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_mv_${java.util.UUID.randomUUID().toString}")
      require(dir.mkdirs(), s"cannot create MV root $dir")
      val path = dir.getAbsolutePath
      spark.conf.set(key, path)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        // best-effort at JVM exit: a failed cleanup must not mask the
        // process's real exit path (FsOps stays loud for in-run deletes)
        try graft.ops.FsOps.deleteRecursively(dir)
        catch { case _: Throwable => () }))
      path
    }
  }

  /** SHOW STATS result (reference: sql/rewrite/ShowStatsRewrite.java and
    * docs sql/show-stats.rst): one row per column + a summary row with
    * the reference's seven-column shape. The reference surfaces the
    * connector's PRE-COMPUTED estimates; a parquet scan catalog has
    * none, so the stats are computed on demand in ONE distributed
    * aggregation pass over the frame (documented divergence: exact
    * values and scan cost instead of stored estimates — at warehouse
    * scale a user would persist these like ANALYZE does).
    *
    * data_size: fixed-width types report width*non_null_count,
    * strings/binary the summed byte length, else NULL.
    * low_value/high_value: numeric, date and timestamp columns only,
    * rendered as varchar. The single collected row is the bounded
    * aggregate, never data. */
  private def showStats(
      spark: SparkSession, df: org.apache.spark.sql.DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val fields = df.schema.fields
    def width(dt: DataType): Option[Int] = dt match {
      case BooleanType | ByteType => Some(1)
      case ShortType => Some(2)
      case IntegerType | FloatType | DateType => Some(4)
      case LongType | DoubleType | TimestampType | TimestampNTZType => Some(8)
      case _: DecimalType => Some(16)
      case _ => None
    }
    def ranged(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val size = f.dataType match {
        case StringType => sum(octet_length(c)).cast("double")
        case BinaryType => sum(length(c)).cast("double")
        case dt => width(dt) match {
          case Some(w) => (count(c) * w).cast("double")
          case None => lit(null).cast("double")
        }
      }
      Seq(
        count(c).cast("double").as(s"__cnt$i"),
        countDistinct(c).cast("double").as(s"__ndv$i"),
        size.as(s"__size$i"),
        (if (ranged(f.dataType)) min(c).cast("string")
         else lit(null).cast("string")).as(s"__lo$i"),
        (if (ranged(f.dataType)) max(c).cast("string")
         else lit(null).cast("string")).as(s"__hi$i"))
    } :+ count(lit(1)).cast("double").as("__total")
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    val total = row.getAs[Double]("__total")
    def d(n: String): java.lang.Double =
      if (row.isNullAt(row.fieldIndex(n))) null
      else java.lang.Double.valueOf(row.getAs[Double](n))
    val colRows = fields.zipWithIndex.map { case (f, i) =>
      val cnt = row.getAs[Double](s"__cnt$i")
      val nullsFrac: java.lang.Double =
        if (total == 0) null else java.lang.Double.valueOf((total - cnt) / total)
      org.apache.spark.sql.Row(
        f.name, d(s"__size$i"), d(s"__ndv$i"), nullsFrac,
        null.asInstanceOf[java.lang.Double],
        row.getAs[String](s"__lo$i"), row.getAs[String](s"__hi$i"))
    } :+ org.apache.spark.sql.Row(
      null, null, null, null, java.lang.Double.valueOf(total), null, null)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(colRows.toSeq).asJava),
      statsSchema)
  }

  /** SHOW STATS / ANALYZE result shape (reference seven columns). */
  private val statsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("column_name", StringType),
      StructField("data_size", DoubleType),
      StructField("distinct_values_count", DoubleType),
      StructField("nulls_fraction", DoubleType),
      StructField("row_count", DoubleType),
      StructField("low_value", StringType),
      StructField("high_value", StringType)))
  }

  /** ANALYZE-persisted stats per session (bounded: one Row per column). */
  private val statsFor = new SessionStore[Seq[org.apache.spark.sql.Row]]

  /** Translate Presto-dialect SQL to Spark SQL — see [[Dialect]] for the
    * full rule list (function aliases, ARRAY literals, 1-based
    * subscripts, quoted identifiers, TRY, NULLS LAST injection).
    */
  def translate(query: String): String = Dialect.translate(query)

  /** Presto/MySQL date_format tokens → java.time patterns (reference:
    * presto-main/.../operator/scalar/DateTimeFunctions.java — Presto's
    * date_format/date_parse speak the MySQL '%'-token dialect, Spark's
    * date_format speaks java.time). Literal letters are quoted so they
    * can't be misread as pattern letters.
    */
  private val mysqlTokens: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'c' -> "M", 'm' -> "MM", 'b' -> "MMM",
    'M' -> "MMMM", 'd' -> "dd", 'e' -> "d", 'j' -> "DDD",
    'a' -> "EEE", 'W' -> "EEEE",
    'H' -> "HH", 'k' -> "H", 'h' -> "hh", 'l' -> "h", 'p' -> "a",
    'i' -> "mm", 's' -> "ss", 'S' -> "ss", 'f' -> "SSSSSS",
    'T' -> "HH:mm:ss")

  def prestoDateFormat(pattern: String): String = {
    val sb = new StringBuilder
    // Consecutive literal letters accumulate into ONE quoted run ('at',
    // not 'a''t' — java.time reads the latter as a't, the '' being an
    // escaped quote inside a single quoted section).
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      sb.append('\'').append(lit.toString.replace("'", "''")).append('\'')
      lit.clear()
    }
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '%' && i + 1 < pattern.length) {
        val t = pattern.charAt(i + 1)
        mysqlTokens.get(t) match {
          case Some(p)            => flush(); sb.append(p)
          case None if t == '%'   => flush(); sb.append('%')
          case None               => lit.append(t)
        }
        i += 2
      } else {
        if (c.isLetter) lit.append(c) else { flush(); sb.append(c) }
        i += 1
      }
    }
    flush()
    sb.toString
  }
}
