package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** StreamingOps sizes each stream's state partitions from the file
  * sources in that stream's own plan, and leaves nothing in the session
  * conf for a later stream to inherit. */
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
}
