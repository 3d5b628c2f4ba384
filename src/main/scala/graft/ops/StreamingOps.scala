package graft.ops

import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming plumbing for the `events` table (SURVEY §2.10).
  * The reference has no streaming runtime — Kafka topics are scanned as
  * batch tables (reference: presto-kafka/.../KafkaMetadata.java:61,120,
  * KafkaSplitManager.java:117-120 — splits are offset ranges captured at
  * plan time); Structured Streaming is the north-star upgrade. On a real
  * cluster the same code reads Kafka/files continuously; here the parquet
  * fixture is replayed with Trigger.AvailableNow so results are
  * deterministic and batch-verifiable.
  */
object StreamingOps {

  /** `events` as a stream: same schema + ts normalization as Tables.load
    * ([[graft.Tables.eventsTs]]), via the file stream source. */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // The file stream source wants a directory; narrow it to the events
    // file with a glob filter.
    graft.Tables.eventsTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** Stateful-shuffle sizing from the replayed input's size (r16, the
    * scale-adaptive-partitioning rule): every stateful operator mints
    * one state-store PROVIDER per shuffle partition (a stream-stream
    * join mints FOUR), each paying per-batch checkpoint files and a
    * serialized turn through the global StateStore.loadedProviders
    * lock (thread-dump evidence: all 32 st05 join tasks parked in
    * getStateStoreProvider). A fixed partition count is wrong at one
    * end of the scale or the other — 32 partitions for a 2 MB replay
    * is 128 providers of overhead (interleaved A/B: st05 4.8 → 2.2 s,
    * st02 2.35 → 1.36, st01 1.16 → 0.85 at 8), while a 100-TB stream
    * needs many more than the core count. Target ~64 MB of input per
    * state partition, floored at 8, capped at 32× parallelism. */
  def statePartitionsFor(spark: SparkSession, inputBytes: Long): Int = {
    val byInput = math.ceil(inputBytes.toDouble / (64L * 1024 * 1024)).toInt
    math.max(8,
      math.min(byInput, 32 * spark.sparkContext.defaultParallelism))
  }

  /** Bytes behind the file stream sources in `df`'s own analyzed plan
    * (each distinct path + glob filter once), or 0 when it reads none.
    * Through the Hadoop FileSystem API (not java.io.File, which silently
    * returns 0 off the local filesystem): getContentSummary aggregates a
    * directory listing too, so an hdfs://… or s3a://… source sizes the
    * same way. A source that cannot be sized counts 0 — it degrades to
    * the un-sized fallback, never breaks the stream. */
  private[graft] def streamInputBytes(df: DataFrame): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    df.queryExecution.analyzed.collect { case r: StreamingRelation =>
      val opts = CaseInsensitiveMap(r.dataSource.options)
      (opts.get("path"), opts.get("pathGlobFilter"))
    }.distinct.collect { case (Some(path), glob) =>
      try {
        val dir = new Path(path)
        val fs = dir.getFileSystem(conf)
        val files = glob match {
          case Some(g) => Option(fs.globStatus(new Path(dir, g))).toSeq.flatten.map(_.getPath)
          case None => Seq(dir).filter(fs.exists)
        }
        files.map(fs.getContentSummary(_).getLength).sum
      } catch { case NonFatal(_) => 0L }
    }.sum
  }

  /** Run a streaming query to completion over the available data and
    * return the final result (memory sink; complete mode for
    * aggregations, append for joins/projections). The stateful shuffle
    * is sized by [[statePartitionsFor]] from [[streamInputBytes]]
    * (shuffle-partition conf is read at stream START, so it is set for
    * the stream's lifetime and restored after — the corpus runs one
    * query at a time, so no concurrent planner sees the temporary
    * value). A stream with no sized file source keeps the session's
    * partition count. */
  def runToCompletion(
      df: DataFrame, spark: SparkSession,
      mode: String = "complete"): DataFrame = {
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    val partKey = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(partKey)
    val inputBytes = streamInputBytes(df)
    if (inputBytes > 0)
      spark.conf.set(partKey, statePartitionsFor(spark, inputBytes).toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally prev match {
      case Some(v) => spark.conf.set(partKey, v)
      case None    => spark.conf.unset(partKey)
    }
    spark.table(name)
  }

  /** Per-user running activity totals via Spark 4's transformWithState —
    * the arbitrary-state successor to mapGroupsWithState (SURVEY §2.10's
    * custom-state row; the reference's analog is per-key accumulator
    * state in its streaming-less batch aggregators). Exercises the NEW
    * surface the older API can't express: MULTIPLE named state variables
    * per key, each with its own type — two ValueStates (count, sum) and
    * one MapState (per-event-type counts whose key count is the distinct
    * type cardinality) — all RocksDB-backed. Input (user_id, event_type,
    * value); output one (user_id, n_events, n_types, total_value) row
    * per key per batch, so Update mode + a single AvailableNow batch
    * yields exactly the batch-aggregation answer. */
  class UserActivityProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Double), (Long, Long, Long, Double)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
      TimerValues, TTLConfig, ValueState}
    @transient private var nState: ValueState[Long] = _
    @transient private var sumState: ValueState[Double] = _
    @transient private var typeState: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState("n", Encoders.scalaLong, TTLConfig.NONE)
      sumState = getHandle.getValueState("sum", Encoders.scalaDouble, TTLConfig.NONE)
      typeState = getHandle.getMapState(
        "types", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, String, Double)],
        timers: TimerValues): Iterator[(Long, Long, Long, Double)] = {
      var n = if (nState.exists()) nState.get() else 0L
      var sum = if (sumState.exists()) sumState.get() else 0.0
      rows.foreach { case (_, tpe, v) =>
        n += 1; sum += v
        val c = if (typeState.containsKey(tpe)) typeState.getValue(tpe) else 0L
        typeState.updateValue(tpe, c + 1)
      }
      nState.update(n); sumState.update(sum)
      Iterator.single((key, n, typeState.keys().size.toLong, sum))
    }
  }

  /** Run `df` to completion with the RocksDB state store provider forced
    * for the query's lifetime (transformWithState refuses the default
    * HDFS-backed provider), restoring the previous provider after so the
    * rest of the suite keeps its configuration. */
  def runWithRocksDb(
      df: DataFrame, spark: SparkSession, mode: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToCompletion(df, spark, mode)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run a stream through foreachBatch into parquet (the production sink
    * pattern: per-microbatch exactly-once file commits). */
  def runToParquet(df: DataFrame, outDir: String): Unit = {
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
