package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** The one profiling main: `times`, `ab` or `plans` over the corpus
  * entries (`SparkEntry.allDefs`) and stress legs (`ScaleStress.LegNames`,
  * at `--scale N`, default 10) whose names `<regex>` finds. Every run goes
  * through the noop sink with its jobs tagged in a [[JobLedger]].
  *
  *  - `times <regex>`: one prewarm of every target, then three tagged
  *    runs of each, between a canary pair; prints the walls, the ledger's
  *    per-job table and the top of Spark's per-rule time ledger.
  *  - `ab <regex> --conf key=a,b [--rounds 2]`: one prewarm per value,
  *    then the rounds (the value order flips each round), a canary pair
  *    around every leg; the key's prior value (or absence) is restored.
  *  - `plans <regex> --out plans/<tag>`: `<name>.txt` (formatted plan of
  *    the returned DataFrame), `<name>_executed.txt` (the final plan of
  *    every action it ran, construction included), and the names whose
  *    plans hold a window with no partition spec.
  *
  * Env: SPARK_GRAFT_SF_DIR (the data directory, required) and
  * SPARK_GRAFT_CPUS (default 32). */
object Profile {
  final case class Target(name: String, build: () => DataFrame)
  final case class Timing(name: String, walls: Seq[Double], jobs: Seq[JobRow])
  final case class AbLeg(name: String, value: String, round: Int, sec: Double,
      pre: (Double, Double), post: (Double, Double))

  /** The targets `regex` selects (corpus entries first, then stress legs
    * over fixtures multiplied `scale`×) and a release for the stress
    * inputs. Fails when nothing matches. */
  def select(spark: SparkSession, sfDir: String, regex: String,
      scale: Int): (Seq[Target], () => Unit) = {
    val r = regex.r
    def hit(n: String) = r.findFirstIn(n).isDefined
    val entries = SparkEntry.allDefs.filter(q => hit(q.name))
      .map(q => Target(q.name, () => q.run(spark, sfDir)))
    lazy val legs = new graft.ops.ScaleStress.Legs(
      Tables.load(spark, sfDir, "documents"),
      Tables.load(spark, sfDir, "embeddings"), scale)
    val stress = graft.ops.ScaleStress.LegNames.filter(hit)
      .map(n => Target(n, () => legs.build(n)))
    require(entries.nonEmpty || stress.nonEmpty,
      s"no corpus entry or stress leg matches '$regex' " +
        s"(stress legs: ${graft.ops.ScaleStress.LegNames.mkString(", ")})")
    (entries ++ stress, () => if (stress.nonEmpty) legs.release())
  }

  /** Build `t` and run it through the noop sink; its jobs are tagged
    * `<tag>:construct` and `<tag>:run`. Returns the wall in seconds. */
  private def once(spark: SparkSession, t: Target, tag: String): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val df = JobLedger.tagged(sc, s"$tag:construct")(t.build())
    JobLedger.tagged(sc, s"$tag:run")(
      df.write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }

  def times(spark: SparkSession, targets: Seq[Target], runs: Int): Seq[Timing] = {
    val ledger = JobLedger.install(spark.sparkContext)
    try {
      targets.foreach(t => once(spark, t, "profile.prewarm"))
      RuleExecutor.resetMetrics() // the rule table covers the timed runs only
      targets.map { t =>
        val walls = (1 to runs).map(i => once(spark, t, s"${t.name}#$i"))
        Timing(t.name, walls, ledger.take(_.startsWith(s"${t.name}#")))
      }
    } finally ledger.close()
  }

  def ab(spark: SparkSession, targets: Seq[Target], key: String,
      values: Seq[String], rounds: Int): Seq[AbLeg] = {
    val prior = spark.conf.getAll.get(key)
    try targets.flatMap { t =>
      values.foreach { v => spark.conf.set(key, v); once(spark, t, "profile.prewarm") }
      for {
        r <- 1 to rounds
        v <- if (r % 2 == 1) values else values.reverse
      } yield {
        spark.conf.set(key, v)
        val pre = Measure.canaryPair()
        val sec = once(spark, t, s"${t.name}@$v")
        AbLeg(t.name, v, r, sec, pre, Measure.canaryPair())
      }
    } finally prior match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def hasGlobalWindow(p: SparkPlan): Boolean = collectWithSubqueries(p) {
      case w: WindowExecBase if w.partitionSpec.isEmpty => w
    }.nonEmpty
  }

  /** Run `body` and return its value with the final physical plan of
    * every action it ran on `spark` (name, executedPlan), in order —
    * construction-time barriers included: `localCheckpoint` runs as an
    * action of that name, so its plan is the one the operator ships. */
  def actionPlans[T](spark: SparkSession)(body: => T): (T, Seq[(String, SparkPlan)]) = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val capture = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.synchronized(actions += f -> qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(capture)
    try {
      val out = body
      Measure.flushListenerBus(spark.sparkContext)
      (out, actions.synchronized(actions.toVector))
    } finally spark.listenerManager.unregister(capture)
  }

  /** Write each target's plans under `outDir`; returns the names whose
    * plans (any action's) hold a window with an empty partition spec. */
  def plans(spark: SparkSession, targets: Seq[Target], outDir: java.io.File): Seq[String] = {
    outDir.mkdirs()
    def write(name: String, text: String): Unit =
      java.nio.file.Files.writeString(new java.io.File(outDir, name).toPath, text)
    targets.filter { t =>
      // printed first, so Spark's own planning warnings that follow in
      // the log belong to this target
      println(s"[plans] ${t.name}")
      val (_, ran) = actionPlans(spark) {
        val df = t.build()
        write(s"${t.name}.txt", df.queryExecution.explainString(FormattedMode))
        df.write.format("noop").mode("overwrite").save()
      }
      write(s"${t.name}_executed.txt",
        ran.map { case (f, p) => s"== $f ==\n$p" }.mkString("\n"))
      ran.exists { case (_, p) => PlanWalk.hasGlobalWindow(p) }
    }.map(_.name)
  }

  /** Parse `args` and run one mode on `spark`. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val usage = "usage: Profile times|ab|plans <regex> [--scale N] [--rounds N] " +
      "[--conf key=a,b] [--out dir]"
    require(args.size >= 2 && args.drop(2).size % 2 == 0, usage)
    val opts = args.drop(2).grouped(2).map(kv => kv.head -> kv(1)).toMap
    require(opts.keySet.subsetOf(
      Set("--rounds", "--scale", "--conf", "--out")), usage)
    def int(k: String, d: Int) = opts.get(k).map(_.toInt).getOrElse(d)
    val (targets, release) = select(spark, sfDir, args(1), int("--scale", 10))
    try args.head match {
      case "times" =>
        val pre = Measure.canaryPair()
        val legs = times(spark, targets, runs = 3)
        val post = Measure.canaryPair()
        legs.foreach { t =>
          println(s"[times] ${t.name} walls ${t.walls.map(w => f"$w%.3f").mkString(" ")}")
          println("  tag job wall_s stages tasks run_s cpu_s shuffle_r shuffle_w spill")
          t.jobs.foreach(j => println(f"  ${j.tag} ${j.id} ${(j.endMs - j.startMs) / 1e3}%.3f " +
            f"${j.stages} ${j.tasks} ${j.runMs / 1e3}%.2f ${j.cpuMs / 1e3}%.2f " +
            s"${j.shuffleRead} ${j.shuffleWrite} ${j.memSpill + j.diskSpill}"))
        }
        println(s"[times] sf=$sfDir canary pre=$pre post=$post")
        println(RuleExecutor.dumpTimeSpent().linesIterator.take(30).mkString("\n"))
      case "ab" =>
        val conf = opts.getOrElse("--conf", throw new IllegalArgumentException(usage))
        val (key, values) = conf.split("=", 2) match {
          case Array(k, vs) => (k, vs.split(",").toSeq)
          case _ => throw new IllegalArgumentException(usage)
        }
        val legs = ab(spark, targets, key, values, int("--rounds", 2))
        legs.foreach { l =>
          println(f"[ab] round ${l.round} ${l.name} $key=${l.value} ${l.sec}%.3f s " +
            f"canary [${l.pre._1}%.3f,${l.post._1}%.3f] multi [${l.pre._2}%.3f,${l.post._2}%.3f]")
        }
        for ((name, byValue) <- legs.groupBy(_.name); v <- values) {
          val secs = byValue.filter(_.value == v).map(_.sec).sorted
          val median = (secs((secs.size - 1) / 2) + secs(secs.size / 2)) / 2
          println(f"[ab] summary $name $key=$v median $median%.3f s " +
            s"runs ${secs.map(s => f"$s%.3f").mkString(" ")}")
        }
      case "plans" =>
        val out = new java.io.File(opts.getOrElse("--out",
          throw new IllegalArgumentException(usage)))
        val global = plans(spark, targets, out)
        println(s"[plans] wrote ${targets.size} targets to $out")
        println(s"[plans] ${global.size} with an unpartitioned window: ${global.mkString(", ")}")
      case _ => throw new IllegalArgumentException(usage)
    } finally release()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a data directory"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cores = cpus, shufflePartitions = cpus)
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }
}
