package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are System.nanoTime values; `parent` is the
  * id of the span that caused it (0 for a statement root), `stmt` the id
  * of the statement every span of one statement shares. */
final case class Span(
    id: Long, name: String, start: Long, end: Long, parent: Long, stmt: String)

/** Spans and counters recorded around the calls the benchmark makes into
  * the engine, kept in memory until the run ends.
  *
  * Client-side spans are opened by [[span]] on the one client thread.
  * Job spans come from the listener: every job carries the id of the
  * client span that was open when it was submitted (a Spark local
  * property), so it nests under the layer that started it. Listener
  * times are wall-clock milliseconds; they are moved onto the nanoTime
  * axis with one offset taken at start and clipped to their parent.
  */
final class Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val open = mutable.Stack.empty[Long]
  private val clockOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nanoOfMillis(ms: Long): Long = ms * 1000000L - clockOffsetNs

  var stmt: String = ""
  var onEnter: Long => Unit = _ => ()
  /** Id of the client span that closed last. */
  var lastClosed = 0L

  def current: Long = if (open.isEmpty) 0L else open.top

  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = current
    open.push(id)
    onEnter(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      onEnter(current)
      lastClosed = id
      record(Span(id, name, t0, t1, parent, stmt))
    }
  }

  /** A span whose interval was measured elsewhere (listener, tracker). */
  def add(name: String, start: Long, end: Long, parent: Long, stmt: String): Unit = {
    val id = synchronized { nextId += 1; nextId }
    record(Span(id, name, start, math.max(start, end), parent, stmt))
  }

  private def record(s: Span): Unit = synchronized { spans += s }

  /** Self time per span name: a span's duration minus the part of it its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfTimes: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      cs.foreach { case (a, b) =>
        if (a > hi) { covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      self(s.name) += (s.end - s.start - covered) / 1e9
    }
    self.toMap
  }
}

/** Per-statement executor counters, filled by [[ExecListener]]. */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var schedDelayMs = 0L
  var eagerJobs = 0L
  var eagerTaskMs = 0L
}

/** Counts jobs, stages and tasks per traced statement and turns each job
  * into a span under the client span that submitted it. Only events that
  * carry the benchmark's statement property are counted. */
final class ExecListener(trace: Trace) extends SparkListener {
  val counters = mutable.Map.empty[String, ExecCounters]
  private val stageOwner = mutable.Map.empty[Int, (String, Boolean)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobInfo = mutable.Map.empty[Int, (String, Long, Long)]

  private def of(stmt: String) = counters.getOrElseUpdate(stmt, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val stmt = if (p == null) null else p.getProperty(ExecListener.StmtKey)
    if (stmt != null) {
      val parent = p.getProperty(ExecListener.SpanKey, "0").toLong
      val eager = p.getProperty(ExecListener.EagerKey, "0") == "1"
      val c = of(stmt)
      c.jobs += 1
      if (eager) c.eagerJobs += 1
      e.stageInfos.foreach(s => stageOwner(s.stageId) = (stmt, eager))
      jobInfo(e.jobId) = (stmt, parent, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (stmt, parent, t0) =>
      trace.add("exec.job", trace.nanoOfMillis(t0), trace.nanoOfMillis(e.time),
        parent, stmt)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (stmt, _) =>
      of(stmt).stages += 1
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (stmt, eager) =>
      val c = of(stmt)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach { sub =>
        c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (eager) c.eagerTaskMs += m.executorRunTime
      }
    }
  }
}

object ExecListener {
  val StmtKey = "perfbench.stmt"
  val SpanKey = "perfbench.span"
  val EagerKey = "perfbench.eager"
}

/** Micro-batch progress of every streaming query, summed. */
final class StreamListener extends StreamingQueryListener {
  var batches = 0L
  var inputRows = 0L
  var triggerMs = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L
  var stateCommitMs = 0L
  var stateRows = 0L
  var stateMemBytes = 0L

  private def ms(m: java.util.Map[String, java.lang.Long], k: String): Long =
    Option(m.get(k)).map(_.longValue).getOrElse(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    inputRows += p.numInputRows
    triggerMs += ms(p.durationMs, "triggerExecution")
    addBatchMs += ms(p.durationMs, "addBatch")
    walCommitMs += ms(p.durationMs, "walCommit")
    p.stateOperators.foreach { s =>
      stateCommitMs += s.commitTimeMs
      stateRows += s.numRowsTotal
      stateMemBytes += s.memoryUsedBytes
    }
  }
}
