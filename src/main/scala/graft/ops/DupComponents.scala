package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the step a
  * real dedup pipeline runs AFTER pair detection (MinHash/Jaccard emits
  * pairs; keeping one representative per duplicate CLUSTER requires the
  * transitive closure, since A≈B and B≈C must collapse A,B,C together
  * even when A and C never paired).
  *
  * Algorithm: min-label propagation (the BSP/Pregel formulation of
  * components — Kang et al., HCC in PEGASUS, ICDM 2009): every node
  * starts labeled with itself; each round, a node's label becomes the
  * min of its own and its neighbors'; fixpoint in O(diameter) rounds
  * (duplicate-cluster diameters are tiny — chains of near-identical
  * docs). Each round is one shuffle of the edge list + one aggregation;
  * nothing data-sized ever reaches the driver (the convergence check is
  * a count). `localCheckpoint` after every round cuts the iterative
  * lineage so round k does not re-execute rounds 1..k-1 — the same
  * materialization lesson as IvfIndex's Lloyd loop.
  */
object DupComponents {

  /** Round budget; duplicate-cluster diameters are tiny, so a chain
    * that needs more is a malformed pair graph. */
  private val MaxIters = 50

  /** @param pairs undirected edges, columns (a, b)
    * @return (node, rep) for every node appearing in `pairs`, where rep
    *         is the minimum node id of its component. Nodes with no
    *         edges are absent — callers left-join and coalesce to self.
    */
  def components(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .localCheckpoint() // reused every round — materialize once
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxIters) {
      // r16 (guide §2.4, remove shuffles outright): the node's OWN label
      // rides through the min-aggregation as a second column (own is
      // non-null on exactly the one labels row per node, null on
      // neighbor rows, so min(own) = the previous label), which makes
      // the convergence check a FILTER over the just-checkpointed round
      // result — the previous shape re-joined next against labels,
      // paying one extra shuffle of the whole label set per round.
      val viaNeighbor = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("lbl"),
          lit(null).cast("long").as("own"))
      val next = labels.select(col("node"), col("lbl"), col("lbl").as("own"))
        .union(viaNeighbor)
        .groupBy("node").agg(min("lbl").as("lbl"), min("own").as("own"))
        .localCheckpoint()
      changed = next.filter(col("lbl") < col("own")).count()
      labels = next.select("node", "lbl")
      iter += 1
    }
    // Fail loud rather than return partially-propagated labels: a chain
    // longer than MaxIters would otherwise yield wrong cluster
    // representatives silently.
    require(changed == 0,
      s"DupComponents did not converge in $MaxIters rounds " +
        s"($changed labels still changing)")
    labels.select(col("node"), col("lbl").as("rep"))
  }
}
