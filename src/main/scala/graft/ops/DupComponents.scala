package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over a near-duplicate pair graph — the step a
  * real dedup pipeline runs AFTER pair detection (MinHash/Jaccard emits
  * pairs; keeping one representative per duplicate CLUSTER requires the
  * transitive closure, since A≈B and B≈C must collapse A,B,C together
  * even when A and C never paired).
  *
  * Algorithm: min-label propagation (the BSP/Pregel formulation of
  * components — Kang et al., HCC in PEGASUS, ICDM 2009): each round, a
  * node's label becomes the min of its own and its neighbors'; fixpoint
  * in O(diameter) rounds (duplicate-cluster diameters are tiny — chains
  * of near-identical docs).
  *
  * The rounds run on pair RDDs, so Catalyst plans only the input and the
  * returned frame, never a round. The symmetric adjacency is
  * hash-partitioned once and every labels RDD keeps that partitioner:
  * both joins of a round are narrow, and the neighbor-min `reduceByKey`
  * is its one shuffle. Each round is one job, whose convergence count is
  * the action that materializes the round's `localCheckpoint` (cutting
  * the lineage, so round k does not re-execute rounds 1..k-1). Round 1
  * needs no count — on a non-empty graph it always lowers the larger end
  * of every edge — and is materialized inside round 2's job. Nothing
  * data-sized is collected.
  */
object DupComponents {

  /** Round budget; duplicate-cluster diameters are tiny, so a chain
    * that needs more is a malformed pair graph. */
  private val MaxIters = 50

  /** @param pairs undirected edges, columns (a, b) of any integral type;
    *        a pair with a null end is no edge
    * @return (node, rep), both BIGINT, for every node appearing in
    *         `pairs`, where rep is the minimum node id of its component.
    *         Nodes with no edges are absent — callers left-join and
    *         coalesce to self.
    */
  def components(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val adj: RDD[(Long, Long)] = pairs
      .select(col("a").cast("long"), col("b").cast("long")).rdd
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val a = r.getLong(0)
          val b = r.getLong(1)
          Iterator((a, b), (b, a))
        }
      }
      .partitionBy(part)
      .localCheckpoint() // reused every round — materialize once
    var labels: RDD[(Long, Long)] = adj.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (n, m) => (n, math.min(n, m)) },
        preservesPartitioning = true)
      .localCheckpoint()
    var changed = 1L
    var round = 1 // the labelling above
    while (changed > 0 && round < MaxIters) {
      val viaNeighbor = adj.join(labels)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(part, math.min(_, _))
      // every labelled node has a neighbor (the adjacency is
      // symmetric), so the inner join keeps every node
      val next = labels.join(viaNeighbor)
        .mapValues { case (own, nb) => (math.min(own, nb), nb < own) }
        .localCheckpoint()
      changed = next.filter(_._2._2).count()
      labels = next.mapValues(_._1)
      round += 1
    }
    // Fail loud rather than return partially-propagated labels: a chain
    // longer than MaxIters would otherwise yield wrong cluster
    // representatives silently.
    require(changed == 0,
      s"DupComponents did not converge in $MaxIters rounds " +
        s"($changed labels still changing)")
    adj.unpersist(blocking = false)
    spark.createDataFrame(
      labels.map { case (n, l) => Row(n, l) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("rep", LongType, nullable = false))))
  }
}
