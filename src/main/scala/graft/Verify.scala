package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Failures are
  * LOUD: every query that throws is recorded in `<outDir>/_failed.json`
  * (name → message) so a shrinking corpus can't read as an all-clear.
  */
object Verify {

  /** Run every query, parquet-dump the successes, and ALWAYS write
    * `_failed.json` (empty object when all pass). Returns the failures so
    * tests can exercise the mechanism with a deliberately-failing map. */
  def runAll(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }.toMap
    // json4s escapes quotes, backslashes and every control char: a tab
    // or CR in a message (or in hand-written oracle SQL) must not make
    // the comparer's json.load fail and zero the correctness record
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      Serialization.write(failed)(DefaultFormats))
    failed
  }

  /** args: <sfDir> <outDir> [nameRegex] — the optional regex restricts
    * the run (and the dumped oracle_sql.json) to matching entry names,
    * for fast local iteration on a slice; the driver's 2-arg invocation
    * is unchanged and runs everything. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val keep: String => Boolean =
      if (args.length > 2) { val r = args(2).r; n => r.findFirstIn(n).isDefined }
      else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Engine.session(cores = cpus, shufflePartitions = cpus)
    runAll(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keep(kv._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql.filter(kv => keep(kv._1)))(
        DefaultFormats))
    spark.stop()
  }
}
