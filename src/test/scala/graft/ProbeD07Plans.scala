package graft

import org.apache.spark.sql.functions._

/** Dump the d07x pipeline's plans at a given stress scale — the
  * committed evidence for which join strategies the candidate and
  * verify joins get past broadcast reach.
  *
  * args: <scale> <outPrefix>
  *
  * Writes:
  *  - <outPrefix>.txt           — explain("formatted") of the composed
  *                                plan (materialize=false, AQE initial)
  *  - <outPrefix>_executed.txt  — the final AQE executedPlan after one
  *                                noop run (where the verify-join
  *                                strategy decision is visible)
  * and prints the pair count.
  */
object ProbeD07Plans {
  def main(args: Array[String]): Unit = {
    val scale = args(0).toInt
    val outPrefix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cores = cpus, shufflePartitions = cpus)
    val docs = Tables.load(spark, sfDir, "documents")
    val (input, p, t, cap) =
      if (scale <= 1) (docs, 8, 8, 0)
      else {
        val docsK = graft.ops.ScaleStress.multiplyDocs(docs, scale)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nK = docsK.count()
        val (pp, tt) = graft.ops.ScaleStress.geometryFor(nK)
        (docsK, pp, tt, graft.ops.EmbeddingDedup.occupancyCapFor(nK, pp))
      }
    println(s"[d07plans] scale=$scale planes=$p tables=$t cap=$cap")
    val df = graft.ops.EmbeddingDedup.nearDuplicates(input, "doc_id", "text",
      0.8, planes = p, tables = t, materialize = false, maxOccupancy = cap)
    def dump(path: String, text: String): Unit = {
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(text) finally w.close()
    }
    dump(s"$outPrefix.txt",
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val n = df.count() // one run so AQE finalizes the strategies
    println(s"[d07plans] pairs=$n")
    dump(s"${outPrefix}_executed.txt", df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
