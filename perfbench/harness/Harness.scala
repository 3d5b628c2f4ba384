package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.{Engine, SparkEntry, Tables}

/** The benchmark's JVM side. It drives the engine only through its
  * public entry points (Engine.session / translate / sql,
  * SparkEntry.queries / streamingDefs, Tables) and times them from
  * outside; the Python runner builds the inputs, checks the outputs and
  * prints the metrics.
  *
  *   Harness catalog <out.json>          streaming entries and oracles
  *   Harness run <plan.json> <out.json>  one workload run
  *
  * A run sets the engine up `setups` times (session, function catalog,
  * view registration) and keeps the last session.
  * It then runs the untimed warm-up list once and `passes` timed passes
  * over the statement list with one client thread, each statement timed
  * from the call to its last row.
  * With trace on, each untraced pass is followed by a traced and an
  * untraced repeat of it; the traced one records a span at every layer
  * boundary plus listener counters.
  */
object Harness {

  final case class Item(id: String, kind: String, text: String, name: String,
      dir: String)

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => write(out, catalog)
    case "run" :: plan :: out :: Nil =>
      write(out, run(parse(new String(Files.readAllBytes(Paths.get(plan)), "UTF-8"))))
    case _ =>
      System.err.println("usage: Harness catalog <out> | run <plan> <out>")
      sys.exit(2)
  }

  /** The whole artifact is one JSON value, serialized here and only here. */
  def write(path: String, artifact: JValue): Unit =
    Files.write(Paths.get(path), compact(render(artifact)).getBytes("UTF-8"))

  def catalog: JValue = {
    val defs = SparkEntry.allDefs
    JObject(
      "streaming" -> JArray(
        SparkEntry.streamingDefs.toList.map(d => JString(d.name))),
      "oracles" -> JObject(defs.toList.flatMap(d =>
        d.oracle.map(o => d.name -> (JString(o): JValue)))))
  }

  // ---------------------------------------------------------------- run

  private lazy val pipelines: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.streamingDefs.map(d => d.name -> d.run)

  private def items(v: JValue): List[Item] = v match {
    case JArray(xs) => xs.map { x =>
      Item((x \ "id").extract[String], (x \ "kind").extract[String],
        (x \ "text").extractOrElse[String](""),
        (x \ "name").extractOrElse[String](""), (x \ "dir").extract[String])
    }
    case _ => Nil
  }

  /** One statement, untraced: its rows. */
  private def execute(spark: SparkSession, it: Item): Array[Row] =
    (if (it.kind == "sql") Engine.sql(spark, it.dir, it.text)
     else pipelines(it.name)(spark, it.dir)).collect()

  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after a full collection, in MB. The first
    * collection lets Spark's cleaner drop blocks of unreachable
    * broadcasts and shuffles; the second reclaims them. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def num(v: Double): JValue = JDouble(v)
  private def obj(kv: (String, JValue)*): JObject = JObject(kv.toList)

  def run(plan: JValue): JValue = {
    val workload = (plan \ "workload").extract[String]
    val cores = (plan \ "cores").extract[Int]
    val views = (plan \ "views").extract[String]
    val dir = (plan \ "dir").extract[String]
    val setups = (plan \ "setups").extract[Int]
    val passes = (plan \ "passes").extract[Int]
    val traced = (plan \ "trace").extract[Int] == 1
    val rowCap = (plan \ "row_cap").extract[Int]
    val list = items(plan \ "items")
    val warmupItems = items(plan \ "warmup")
    val protocol = (plan \ "protocol").extract[String]

    // ---- set-up, several times; the last session is kept
    val setupRows = scala.collection.mutable.ArrayBuffer.empty[JValue]
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Engine.session(cores = cores, shufflePartitions = cores)
      val t1 = System.nanoTime()
      if (views == "tiny") Tables.registerTinyViews(spark, dir)
      else Tables.registerAll(spark, dir)
      val t2 = System.nanoTime()
      setupRows += obj("total_s" -> num((t2 - t0) / 1e9),
        "session_s" -> num((t1 - t0) / 1e9), "register_s" -> num((t2 - t1) / 1e9))
    }
    val sc = spark.sparkContext

    // ---- timed passes
    var heapPeak = 0.0
    val trace = new Trace
    val execL = new ExecListener(trace)
    val streamL = new StreamListener
    var rules = Map.empty[String, (Long, Long, Long)] // name -> (ns, calls, effective)
    var parseMs, analysisMs = 0L
    val results = scala.collection.mutable.LinkedHashMap.empty[String, JValue]

    def tracedOne(it: Item): Array[Row] = {
      trace.stmt = it.id
      sc.setLocalProperty(ExecListener.StmtKey, it.id)
      trace.onEnter = id => sc.setLocalProperty(ExecListener.SpanKey, id.toString)
      try trace.span("stmt") {
        val df = it.kind match {
          case "sql" =>
            trace.span("dialect.translate")(Engine.translate(it.text))
            val df = trace.span("engine.sql")(Engine.sql(spark, it.dir, it.text))
            val parent = trace.lastClosed
            df.queryExecution.tracker.phases.foreach { case (phase, p) =>
              if (phase == "parsing" || phase == "analysis")
                trace.add(if (phase == "parsing") "engine.parse" else "engine.analysis",
                  trace.nanoOfMillis(p.startTimeMs), trace.nanoOfMillis(p.endTimeMs),
                  parent, it.id)
            }
            df
          case kind =>
            sc.setLocalProperty(ExecListener.EagerKey, "1")
            try trace.span(if (kind == "stream") "stream.run" else "ops.construct")(
              pipelines(it.name)(spark, it.dir))
            finally sc.setLocalProperty(ExecListener.EagerKey, null)
        }
        trace.span("engine.optimize")(df.queryExecution.optimizedPlan)
        trace.span("engine.physical_plan")(df.queryExecution.executedPlan)
        val rows = trace.span("exec")(df.collect())
        val tr = df.queryExecution.tracker
        tr.phases.get("parsing").foreach(p => parseMs += p.durationMs)
        tr.phases.get("analysis").foreach(p => analysisMs += p.durationMs)
        tr.rules.foreach { case (n, r) =>
          val (a, b, c) = rules.getOrElse(n, (0L, 0L, 0L))
          rules += n -> ((a + r.totalTimeNs, b + r.numInvocations,
            c + r.numEffectiveInvocations))
        }
        rows
      } finally {
        trace.onEnter = _ => ()
        sc.setLocalProperty(ExecListener.StmtKey, null)
        sc.setLocalProperty(ExecListener.SpanKey, null)
      }
    }

    /** One pass; returns (wall, per-statement records). */
    def pass(withTrace: Boolean, keep: Boolean): (Double, List[JValue]) = {
      val p0 = System.nanoTime()
      val recs = list.map { it =>
        val t0 = System.nanoTime()
        val out = try Right(if (withTrace) tracedOne(it) else execute(spark, it))
          catch { case e: Throwable => Left(e) }
        val lat = (System.nanoTime() - t0) / 1e9
        if (keep) results(it.id) = Canon.result(it.id, out, protocol, rowCap)
        obj("id" -> JString(it.id), "lat_s" -> num(lat),
          "ok" -> JBool(out.isRight))
      }
      ((System.nanoTime() - p0) / 1e9, recs)
    }

    // one untimed warm-up pass, so timing starts in a warm JVM
    val w0 = System.nanoTime()
    warmupItems.foreach(it => try execute(spark, it) catch { case _: Throwable => })
    val warmup = (System.nanoTime() - w0) / 1e9
    val gc0 = gcMillis
    val cg0 = codegen
    val passRows = scala.collection.mutable.ArrayBuffer.empty[JValue]
    (1 to passes).foreach { i =>
      val (wall, recs) = pass(withTrace = false, keep = i == 1)
      heapPeak = math.max(heapPeak, liveHeapMb())
      passRows += obj("traced" -> JBool(false), "wall_s" -> num(wall), "stmts" -> JArray(recs))
      if (traced) {
        // listeners hear the traced pass only
        graft.Measure.flushListenerBus(sc)
        sc.addSparkListener(execL)
        spark.streams.addListener(streamL)
        val (tw, trecs) = pass(withTrace = true, keep = false)
        graft.Measure.flushListenerBus(sc)
        sc.removeSparkListener(execL)
        spark.streams.removeListener(streamL)
        passRows += obj("traced" -> JBool(true), "wall_s" -> num(tw), "stmts" -> JArray(trecs))
        // the same repeat pass untraced, the base of the tracing overhead
        val (uw, urecs) = pass(withTrace = false, keep = false)
        passRows += obj("traced" -> JBool(false), "repeat" -> JBool(true),
          "wall_s" -> num(uw), "stmts" -> JArray(urecs))
      }
    }
    val gcS = (gcMillis - gc0) / 1000.0
    val cg1 = codegen
    // the engine's CPU canary pair, once per run after the timed passes
    // (the I/O canary brackets the run from the runner)
    val (cpuSingle, cpuMulti) = graft.Measure.canaryPair()

    val layers: JValue = if (!traced) JNothing else {
      val c = execL.counters.values
      def sum(f: ExecCounters => Long): Double = c.map(f).sum.toDouble
      val graftRules = rules.filter(_._1.startsWith("graft."))
      val otherRules = rules.filterNot(_._1.startsWith("graft."))
      obj(
        "tracker_parse_s" -> num(parseMs / 1000.0),
        "tracker_analysis_s" -> num(analysisMs / 1000.0),
        "graft_rule_s" -> num(graftRules.values.map(_._1).sum / 1e9),
        "graft_rule_calls" -> num(graftRules.values.map(_._2).sum.toDouble),
        "graft_rule_effective" -> num(graftRules.values.map(_._3).sum.toDouble),
        "catalyst_rule_s" -> num(otherRules.values.map(_._1).sum / 1e9),
        "jobs" -> num(sum(_.jobs)), "stages" -> num(sum(_.stages)),
        "tasks" -> num(sum(_.tasks)), "failed_tasks" -> num(sum(_.failedTasks)),
        "task_run_s" -> num(sum(_.taskRunMs) / 1000.0),
        "task_cpu_s" -> num(sum(_.taskCpuNs) / 1e9),
        "input_bytes" -> num(sum(_.inputBytes)), "input_rows" -> num(sum(_.inputRows)),
        "shuffle_write_bytes" -> num(sum(_.shuffleWrite)),
        "shuffle_read_bytes" -> num(sum(_.shuffleRead)),
        "spill_bytes" -> num(sum(_.spill)),
        "sched_delay_s" -> num(sum(_.schedDelayMs) / 1000.0),
        "eager_jobs" -> num(sum(_.eagerJobs)),
        "eager_task_s" -> num(sum(_.eagerTaskMs) / 1000.0),
        "stream_batches" -> num(streamL.batches.toDouble),
        "stream_input_rows" -> num(streamL.inputRows.toDouble),
        "stream_trigger_s" -> num(streamL.triggerMs / 1000.0),
        "stream_add_batch_s" -> num(streamL.addBatchMs / 1000.0),
        "stream_wal_commit_s" -> num(streamL.walCommitMs / 1000.0),
        "stream_state_commit_s" -> num(streamL.stateCommitMs / 1000.0),
        "stream_state_rows" -> num(streamL.stateRows.toDouble),
        "stream_state_mem_bytes" -> num(streamL.stateMemBytes.toDouble),
        "self_s" -> JObject(trace.selfTimes.toList.sortBy(_._1)
          .map { case (k, v) => k -> num(v) }))
    }
    val spansOut = (plan \ "spans").extractOrElse[String]("")
    if (traced && spansOut.nonEmpty) write(spansOut, JArray(trace.spans.toList.map { s =>
      obj("id" -> JInt(s.id), "name" -> JString(s.name), "start_ns" -> JInt(s.start),
        "end_ns" -> JInt(s.end), "parent" -> JInt(s.parent), "stmt" -> JString(s.stmt))
    }))
    spark.stop()

    obj(
      "workload" -> JString(workload),
      "cores" -> JInt(cores),
      "setups" -> JArray(setupRows.toList),
      "passes" -> JArray(passRows.toList),
      "warmup_s" -> num(warmup),
      "results" -> JArray(results.values.toList),
      "heap_peak_mb" -> num(heapPeak),
      "gc_s" -> num(gcS),
      "codegen_compiles" -> num((cg1._1 - cg0._1).toDouble),
      "codegen_ms_mean" -> num(cg1._2),
      "cpu_canary" -> obj("single_s" -> num(cpuSingle), "multi_s" -> num(cpuMulti)),
      "layers" -> layers)
  }

  /** (compilations so far, mean compile ms of the recent window). */
  private def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
