package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Space-saving heavy hitters (reference: presto-main/.../operator/
  * aggregation/approxmostfrequent/ApproximateMostFrequentFunction.java).
  *
  * Distributed formulation: per-partition partial counts (map-side
  * combine), merge, then keep the top `capacity` — when `capacity` ≥ the
  * true number of distinct keys the result is exact (the property the
  * corpus entry relies on); when smaller, counts for surviving keys are
  * overestimates bounded by the evicted mass, exactly like the
  * single-node sketch. Never collects to the driver.
  */
object ApproxMostFrequent {

  /** Top-k keys by frequency with deterministic key tiebreak. A sort +
    * limit plans as per-partition top-n results merged in one step
    * (TakeOrderedAndProject), so no stage collapses the counts to one
    * partition the way an unpartitioned rank window would. */
  def topK(df: DataFrame, key: Column, k: Int, capacity: Int): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("k"))
      .limit(math.min(k, capacity))
}
