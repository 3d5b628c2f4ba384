package graft

import scala.collection.mutable.ArrayBuffer

/** Per-job/per-stage breakdown of ONE stress-block pipeline leg (the
  * ProbeJobs analog for ScaleStress legs, which are not corpus entries)
  * — r17 verdict #4: attribute d05x's 8-core driver gap (12.7 s vs
  * d02x 3.6 s at cpus=8, BENCH_r16_c8) to its stages.
  *
  * args: <legName: d02x_minhash|d05x_training_pipeline|d07x_embedding|
  *        d09x_components> [scale (default 10)] [repeats (default 3)]
  * env:  SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  *       SPARK_GRAFT_PROBE_STAGES=1 for per-stage lines
  */
object ProbeStressJobs {
  def main(args: Array[String]): Unit = {
    val legName = args(0)
    val scale = if (args.length > 1) args(1).toInt else 10
    val repeats = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cores = cpus, shufflePartitions = cpus)
    val docs = Tables.load(spark, sfDir, "documents")
    // legName "d07_headline" profiles the 1× corpus entry shape (no
    // multiply, default geometry) — for fixed-cost hunts
    val leg: () => org.apache.spark.sql.DataFrame =
      if (legName == "d07_headline") { () =>
        graft.ops.EmbeddingDedup.nearDuplicates(docs, "doc_id", "text", 0.8)
      } else {
        val docsK = graft.ops.ScaleStress.multiplyDocs(docs, scale)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nK = docsK.count()
        val geom = graft.ops.ScaleStress.geometryFor(nK)
        println(s"[stressjobs] leg=$legName scale=$scale rows=$nK cpus=$cpus " +
          s"geom=$geom")
        graft.ops.ScaleStress.pipelines(docsK, Some(geom))
          .collectFirst { case (n, b) if n == legName => b }
          .getOrElse(sys.error(s"no such leg: $legName"))
      }

    final case class JobRec(id: Int, submitted: Long, var finished: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var shuffleRead: Long = 0L,
      var shuffleWrite: Long = 0L, var desc: String = "",
      var runMs: Long = 0L, var cpuMs: Long = 0L)
    val jobs = ArrayBuffer.empty[JobRec]
    val byId = scala.collection.mutable.Map.empty[Int, JobRec]
    val stageToJob = scala.collection.mutable.Map.empty[Int, JobRec]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId, e.time)
        r.desc = Option(e.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        r.stages = e.stageIds.size
        jobs.synchronized { jobs += r; byId(e.jobId) = r
          e.stageIds.foreach(s => stageToJob(s) = r) }
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.synchronized { byId.get(e.jobId).foreach(_.finished = e.time) }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageInfo.stageId).foreach { r =>
            r.tasks += e.stageInfo.numTasks
            val tm = e.stageInfo.taskMetrics
            if (tm != null) {
              r.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
              r.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
              r.runMs += tm.executorRunTime
              r.cpuMs += tm.executorCpuTime / 1000000L
              if (sys.env.get("SPARK_GRAFT_PROBE_STAGES").contains("1"))
                println(f"    stage ${e.stageInfo.stageId}%4d job ${r.id}%3d " +
                  f"tasks ${e.stageInfo.numTasks}%4d run ${tm.executorRunTime / 1000.0}%7.2f " +
                  f"cpu ${tm.executorCpuTime / 1e9}%7.2f shW ${tm.shuffleWriteMetrics.bytesWritten}%11d " +
                  f"shR ${tm.shuffleReadMetrics.totalBytesRead}%11d  ${e.stageInfo.name.take(70)}")
            }
          }
        }
    }

    leg().write.format("noop").mode("overwrite").save() // prewarm
    spark.sparkContext.addSparkListener(listener)
    val walls = (1 to repeats).map { i =>
      jobs.synchronized { jobs.clear(); byId.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      leg().write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Measure.flushListenerBus(spark.sparkContext)
      val snap = jobs.synchronized { jobs.toVector }
      println(f"== run $i: total ${(t2 - t0) / 1e9}%.3f s")
      var prevEnd = 0L
      snap.sortBy(_.submitted).foreach { r =>
        val wall = (r.finished - r.submitted) / 1e3
        val gap = if (prevEnd == 0) 0.0 else (r.submitted - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.finished)
        println(f"  job ${r.id}%4d ${wall}%8.3f s  gap ${gap}%6.3f  stages ${r.stages}%2d tasks ${r.tasks}%4d  run ${r.runMs / 1000.0}%7.2f cpu ${r.cpuMs / 1000.0}%7.2f  shW ${r.shuffleWrite}%10d shR ${r.shuffleRead}%10d  ${r.desc.take(60)}")
      }
      (t2 - t0) / 1e9
    }
    println(f"[stressjobs] $legName walls: ${walls.map(w => f"$w%.3f").mkString(", ")}")
    spark.stop()
  }
}
