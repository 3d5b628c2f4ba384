// Lives in Spark's classic package: SparkSession.cloneSession and
// Dataset.ofRows are private[sql] — the same pattern LambdaHofs uses for
// Catalyst's expression package.
package org.apache.spark.sql.classic

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, Command, LeafNode, LogicalPlan}
import org.apache.spark.sql.internal.SQLConf

/** The size-aware execution path of `graft.Engine.sql`. A query whose
  * scanned input is below [[Threshold]] runs on Catalyst's interpreted
  * evaluators (no whole-stage codegen, no generated projections or
  * predicates); every larger statement keeps whole-stage codegen.
  *
  * Janino compiles each generated class in ~10 ms. The reference compiles
  * its page processors to bytecode too (sql/gen/PageFunctionCompiler.java),
  * but a one-off compile only pays for itself over enough rows: a short
  * interactive statement over a tiny table spends more time compiling
  * than computing.
  *
  * The interpreted statement runs on a per-statement clone of the
  * caller's session, so every `SET` the caller made is seen and the
  * caller's own conf is never touched. The returned DataFrame's
  * `sparkSession` is that clone.
  *
  * The clone shares the executor class loader, and with it Spark's
  * JVM-wide cache of generated code, with its parent: the code generated
  * inside tasks (the partial aggregate's row joiner, orderings) is
  * compiled once and reused by every later statement. That holds only
  * because `graft.Engine.session` turns artifact isolation off
  * (`spark.sql.artifact.isolation.enabled=false`); with it on, each clone
  * gets its own class loader and compiles that code again.
  */
object SmallStatement {

  /** Scanned bytes (the leaves' `sizeInBytes`: parquet file sizes, range
    * and VALUES widths) below which a statement runs interpreted.
    * Measured on 4 cores, in a warm JVM:
    *  - sf0.01 (lineitem 1.04 MB, 60k rows): TPC-H Q3, Q6 and a
    *    COUNT(DISTINCT) ran 1.6–2.1× faster interpreted on their first
    *    run (Q3 879 → 421 ms). The benchmark's pass over 61 reference
    *    statements fell from a median 16.3 s to 11.9 s over ten
    *    interleaved pairs, with Janino compiles per pass down from 355
    *    to 36. Repeated with cached generated code, the same statements
    *    ran ~1.2× slower interpreted.
    *  - sf0.1 (lineitem 10.8 MB, 600k rows): Q1, Q3, Q6 and the
    *    COUNT(DISTINCT) ran 1.5–3.9× slower interpreted against cached
    *    code (Q1 374 → 1443 ms), and no faster on their first run.
    * 2 MB sits between the two. */
  private val Threshold: Long = 2L * 1024 * 1024

  /** `df` re-targeted at an interpreted clone session when its plan is
    * small; `df` itself otherwise, and always for commands (already
    * executed eagerly) and streaming plans. */
  def route(df: DataFrame): DataFrame = df match {
    case ds: Dataset[Row @unchecked] =>
      val qe = ds.queryExecution
      val plan = qe.analyzed
      val command = plan.exists(_.isInstanceOf[Command])
      if (plan.isStreaming || command || scannedBytes(plan).forall(_ >= Threshold)) df
      else {
        val clone = ds.sparkSession.cloneSession()
        clone.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false")
        clone.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key, "NO_CODEGEN")
        // the caller's tracker keeps the parse and analysis phases
        Dataset.ofRows(clone, plan, qe.tracker, qe.shuffleCleanupMode)
      }
    case _ => df
  }

  /** Summed `sizeInBytes` over the plan's leaves, subquery plans
    * included; None when a leaf cannot estimate its size. Reads file
    * sizes, never optimizes. A CTE reference is skipped: its definition
    * is summed where the plan's `WithCTE` holds it. */
  private def scannedBytes(plan: LogicalPlan): Option[BigInt] =
    try {
      var total = BigInt(0)
      plan.foreachWithSubqueries {
        case _: CTERelationRef =>
        case leaf: LeafNode => total += leaf.stats.sizeInBytes
        case _ =>
      }
      Some(total)
    } catch { case NonFatal(_) => None }
}
