package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** One Spark job as the ledger saw it: the caller's tag, the driver-side
  * [start, end] in epoch ms, and the executor work of every stage that
  * completed for it. */
final case class JobRow(
    tag: String, id: Int, startMs: Long, endMs: Long,
    stages: Int, tasks: Int, runMs: Long, cpuMs: Long,
    shuffleRead: Long, shuffleWrite: Long, memSpill: Long, diskSpill: Long)

/** The engine's one job/stage metrics collector. A caller marks a scope
  * with [[JobLedger.tagged]]; every job submitted inside it, on the
  * calling thread or on a thread it starts (broadcast and AQE stage jobs,
  * a stream's micro-batches inherit Spark's local properties), becomes
  * one [[JobRow]] under that tag. Untagged jobs are not recorded, so a
  * ledger left on a shared context stays small and sees only what it
  * was asked about.
  *
  * Events arrive on Spark's asynchronous listener bus; [[take]] flushes
  * the bus before it reads. */
final class JobLedger private (sc: SparkContext) extends SparkListener {
  private val open = scala.collection.mutable.Map.empty[Int, JobRow]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val done = scala.collection.mutable.ArrayBuffer.empty[JobRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(JobLedger.TagKey)).orNull
    if (tag != null) synchronized {
      open(e.jobId) = JobRow(tag, e.jobId, e.time, e.time, 0, 0, 0L, 0L, 0L, 0L, 0L, 0L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (id <- stageJob.get(info.stageId); j <- open.get(id); tm <- Option(info.taskMetrics))
      open(id) = j.copy(stages = j.stages + 1, tasks = j.tasks + info.numTasks,
        runMs = j.runMs + tm.executorRunTime,
        cpuMs = j.cpuMs + tm.executorCpuTime / 1000000L,
        shuffleRead = j.shuffleRead + tm.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = j.shuffleWrite + tm.shuffleWriteMetrics.bytesWritten,
        memSpill = j.memSpill + tm.memoryBytesSpilled,
        diskSpill = j.diskSpill + tm.diskBytesSpilled)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      stageJob.filterInPlace((_, id) => id != e.jobId)
      done += j.copy(endMs = e.time)
    }
  }

  /** Remove and return the finished jobs whose tag satisfies `keep`, in
    * start order. */
  def take(keep: String => Boolean): Vector[JobRow] = {
    Measure.flushListenerBus(sc)
    synchronized {
      val (hit, rest) = done.partition(r => keep(r.tag))
      done.clear()
      done ++= rest
      hit.sortBy(r => (r.startMs, r.id)).toVector
    }
  }

  def take(tag: String): Vector[JobRow] = take(_ == tag)

  /** Stop listening. Rows already finished stay readable. */
  def close(): Unit = sc.removeSparkListener(this)
}

object JobLedger {
  /** The Spark local property a caller's tag travels in. */
  val TagKey = "graft.ledger.tag"

  def install(sc: SparkContext): JobLedger = {
    val l = new JobLedger(sc)
    sc.addSparkListener(l)
    l
  }

  /** Run `f` with every job it submits tagged `tag`; the previous tag (or
    * none) is restored afterwards, also when `f` throws. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }

  /** Length of the union of `[start, end]` intervals, clipped to
    * `[lo, hi]`. AQE stage jobs and broadcasts overlap each other, so a
    * plain sum would count the same wall twice. */
  def unionMs(spans: Seq[(Long, Long)], lo: Long = Long.MinValue,
      hi: Long = Long.MaxValue): Long = {
    var total = 0L
    var reach = Long.MinValue
    for ((s0, e0) <- spans.sortBy(_._1)) {
      val s = math.max(math.max(s0, lo), reach)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}
