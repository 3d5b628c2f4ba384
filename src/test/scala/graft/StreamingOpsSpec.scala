package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** StreamingOps sizes each stream's state partitions from the file
  * sources in that stream's own plan, and leaves nothing in the session
  * conf for a later stream to inherit. Stream checkpoints on the local
  * file system go through [[graft.ops.FsCheckpointFileManager]]: no
  * forked process per checkpoint file, and a restart resumes from them. */
class StreamingOpsSpec extends QueryAssertions {
  private val partKey = "spark.sql.shuffle.partitions"

  private def stream(name: String): Qdef =
    SparkEntry.streamingDefs.find(_.name == name).get

  /** Run `names` with the session default at 3 and return each stateful
    * operator's shuffle partition count from the streams' progress. */
  private def statePartitions(names: String*): Seq[Long] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.synchronized(seen ++= e.progress.stateOperators.map(_.numShufflePartitions))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val prior = spark.conf.get(partKey)
    spark.conf.set(partKey, "3")
    spark.streams.addListener(listener)
    try {
      names.foreach(n => stream(n).run(spark, sfDir).collect())
      Measure.flushListenerBus(spark.sparkContext)
      assert(spark.conf.get(partKey) == "3", "the session default must be restored")
      seen.synchronized(seen.toVector)
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(partKey, prior)
    }
  }

  test("st01 and st08 run with 8 state partitions sized from their own source") {
    val parts = statePartitions("st01_tumbling_window", "st08_stream_tdigest")
    assert(parts.nonEmpty && parts.forall(_ == 8), parts)
  }

  test("no stream marker outlives a runToParquet run") {
    stream("st06_foreachbatch_sink").run(spark, sfDir).collect()
    val markers = spark.conf.getAll.keys.filter(_.startsWith("graft.stream"))
    assert(markers.isEmpty, markers)
    // and the next stream still sizes from its own source
    val parts = statePartitions("st01_tumbling_window")
    assert(parts.nonEmpty && parts.forall(_ == 8), parts)
  }

  test("an st01 run forks no readlink process") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = java.nio.file.Files.createTempFile("st01_", ".jfr")
    val commands =
      try {
        rec.start()
        // a fork of our own, so an empty recording cannot pass
        assert(new ProcessBuilder("true").start().waitFor() == 0)
        stream("st01_tumbling_window").run(spark, sfDir).collect()
        rec.stop()
        rec.dump(dump)
        jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command"))
      } finally { rec.close(); java.nio.file.Files.deleteIfExists(dump) }
    assert(commands.exists(_.startsWith("true")), commands)
    val readlinks = commands.filter(_.contains("readlink"))
    assert(readlinks.isEmpty, s"${readlinks.size} readlink forks, first: ${readlinks.headOption}")
  }

  test("a stream restarted on its local checkpoint resumes at the next batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_restart_").toFile
    val in = new java.io.File(root, "in")
    val ckpt = new java.io.File(root, "ckpt").toURI.toString
    val events = Tables.load(spark, sfDir, "events")
    val schema = events.schema
    /** Write `rows` as one parquet file `in/<name>.parquet`, whole. */
    def addFile(rows: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(root, s"stage_$name")
      rows.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      in.mkdirs()
      assert(part.renameTo(new java.io.File(in, s"$name.parquet")))
    }
    /** One AvailableNow run over `in` on `ckpt`; its last batch id and
      * the event count it reports. */
    def runOnce(name: String): (Long, Long) = {
      val q = spark.readStream.schema(schema).parquet(in.getPath)
        .groupBy(col("event_type")).count()
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (q.lastProgress.batchId, spark.table(name).agg(Map("count" -> "sum")).first().getLong(0))
    }
    try {
      addFile(events.filter(col("event_id") % 2 === 0), "a")
      val (b1, n1) = runOnce("restart_first")
      addFile(events.filter(col("event_id") % 2 =!= 0), "b")
      val (b2, n2) = runOnce("restart_second")
      assert(n1 == events.filter(col("event_id") % 2 === 0).count())
      assert(n2 == events.count(), "the second run must count both files")
      assert(b2 == b1 + 1, (b1, b2))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("checkpoint files go through the FileSystem API only on a local file system") {
    val conf = spark.sessionState.newHadoopConf()
    def delegate(p: String) = CheckpointFileManager.create(new Path(p), conf) match {
      case m: graft.ops.FsCheckpointFileManager => m.delegate
      case other => fail(s"the session names another manager: $other")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toUri.toString
    try {
      assert(delegate(dir).isInstanceOf[FileSystemBasedCheckpointFileManager])
      // no name node listens here; building the manager contacts none
      assert(delegate("hdfs://localhost:1/ckpt").isInstanceOf[FileContextBasedCheckpointFileManager])
    } finally new java.io.File(new java.net.URI(dir)).delete()
  }
}
