package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}

/** KDB-tree spatial partitioning (reference: presto-geospatial-toolkit/
  * .../KdbTree.java buildKdbTree + findIntersectingLeaves, the
  * spatial_partitioning aggregate of
  * SpatialPartitioningInternalAggregateFunction.java and the
  * spatial_partitions scalars of GeoFunctions.java:1194-1234) — the SPI
  * the reference's DISTRIBUTED spatial join rides on: build a
  * data-adaptive partitioning from a sample of envelopes, assign each
  * geometry the partition ids its (optionally distance-expanded)
  * envelope intersects, then equi-join on partition id.
  *
  * The tree build is the published algorithm: split the longer side at
  * the sample median (averaged with the next distinct value so the
  * larger population splits evenly), recurse until a node holds ≤
  * maxItemsPerNode = ceil(samples / partitionCount) samples, fall back
  * to the other axis when all split values collapse.
  *
  * Two documented improvements over the reference's aggregate, both
  * scale-motivated:
  *   - the reference's sample is a random reservoir and its combine
  *     THROWS ("must run on a single node") — ours is a deterministic
  *     bottom-k-by-hash sample (the d06 technique), which merges
  *     exactly, so the aggregate is decomposable and runs map-side
  *     combined at any scale, and equal inputs always build the SAME
  *     tree (replayable);
  *   - the sample cap is [[MaxSamples]] (the reference's 1M cap is the
  *     single-node budget; a bounded mergeable state must ship through
  *     the shuffle).
  * Serialized form is a compact JSON of nested {xmin, ymin, xmax, ymax,
  * leaf | split…} nodes — same model as KdbTreeUtils.toJson, our own
  * spelling.
  */
object KdbSpatial extends Serializable {

  val MaxSamples = 65536
  private val MaxLevels = 64

  final case class Rect(x0: Double, y0: Double, x1: Double, y1: Double) {
    def intersects(o: Rect): Boolean =
      x0 <= o.x1 && o.x0 <= x1 && y0 <= o.y1 && o.y0 <= y1
  }

  sealed trait Node { def extent: Rect }
  final case class Leaf(extent: Rect, id: Int) extends Node
  final case class Internal(
      extent: Rect, byX: Boolean, at: Double, left: Node, right: Node)
      extends Node

  // ----------------------------------------------------------- tree build

  def build(partitionCount: Int, samples: Seq[Rect]): Node = {
    require(partitionCount >= 1, s"partitionCount must be >= 1, got $partitionCount")
    require(samples.nonEmpty, "No rows supplied to spatial partition.")
    val maxPerNode = (samples.size + partitionCount - 1) / partitionCount
    val universe = Rect(
      Double.NegativeInfinity, Double.NegativeInfinity,
      Double.PositiveInfinity, Double.PositiveInfinity)
    val ids = new java.util.concurrent.atomic.AtomicInteger(0)
    def node(level: Int, extent: Rect, items: Seq[Rect]): Node = {
      if (items.size <= maxPerNode || level == MaxLevels)
        return Leaf(extent, ids.getAndIncrement())
      val wider = (extent.x1 - extent.x0) >= (extent.y1 - extent.y0)
      trySplit(wider, level, extent, items)
        .orElse(trySplit(!wider, level, extent, items))
        .getOrElse(Leaf(extent, ids.getAndIncrement()))
    }
    def trySplit(
        byX: Boolean, level: Int, extent: Rect, items: Seq[Rect]): Option[Node] = {
      val low: Rect => Double = if (byX) _.x0 else _.y0
      val sorted = items.sortBy(low)
      val middle = (sorted.size - 1) / 2
      val splitValue0 = low(sorted(middle))
      var splitIndex = middle
      while (splitIndex < sorted.size && low(sorted(splitIndex)) == splitValue0)
        splitIndex += 1
      if (splitIndex == sorted.size) return None
      // split midway between the median value and the next distinct one,
      // so the larger population these samples stand for splits evenly
      // a/2 + b/2, not (a+b)/2: near-DoubleMax sample values must not
      // overflow the midpoint to Infinity
      val at = splitValue0 / 2 + low(sorted(splitIndex)) / 2
      val (le, re) =
        if (byX) (extent.copy(x1 = at), extent.copy(x0 = at))
        else (extent.copy(y1 = at), extent.copy(y0 = at))
      Some(Internal(extent, byX, at,
        node(level + 1, le, sorted.take(splitIndex)),
        node(level + 1, re, sorted.drop(splitIndex))))
    }
    node(0, universe, samples)
  }

  def leaves(n: Node): Seq[Leaf] = n match {
    case l: Leaf => Seq(l)
    case i: Internal => leaves(i.left) ++ leaves(i.right)
  }

  /** Ids of leaves whose extent intersects the query rectangle
    * (reference KdbTree.findIntersectingLeaves). */
  def partitionsFor(n: Node, q: Rect): Seq[Int] = n match {
    case Leaf(_, id) => Seq(id)
    case Internal(_, byX, at, l, r) =>
      val lo = if (byX) q.x0 else q.y0
      val hi = if (byX) q.x1 else q.y1
      (if (lo <= at) partitionsFor(l, q) else Nil) ++
        (if (hi >= at) partitionsFor(r, q) else Nil)
  }

  // ------------------------------------------------------------ JSON form

  private def num(v: Double): String =
    if (v.isNegInfinity) "\"-inf\""
    else if (v.isPosInfinity) "\"inf\""
    else if (v.isNaN) throw new IllegalArgumentException(
      "Invalid KDB tree: NaN coordinate")
    else v.toString

  def toJson(n: Node): String = {
    val e = n.extent
    val ext = s""""x0":${num(e.x0)},"y0":${num(e.y0)},"x1":${num(e.x1)},"y1":${num(e.y1)}"""
    n match {
      case Leaf(_, id) => s"""{$ext,"leaf":$id}"""
      case Internal(_, byX, at, l, r) =>
        s"""{$ext,"by":"${if (byX) "x" else "y"}","at":${num(at)},""" +
          s""""left":${toJson(l)},"right":${toJson(r)}}"""
    }
  }

  def fromJson(json: String): Node = {
    val root = try {
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    } catch {
      case e: Exception =>
        throw new IllegalArgumentException(s"Invalid KDB tree: ${e.getMessage}")
    }
    def numOf(n: com.fasterxml.jackson.databind.JsonNode): Double =
      if (n.isTextual) {
        if (n.asText() == "inf") Double.PositiveInfinity
        else if (n.asText() == "-inf") Double.NegativeInfinity
        else throw new IllegalArgumentException(s"Invalid KDB tree number: ${n.asText()}")
      } else n.asDouble()
    def req(n: com.fasterxml.jackson.databind.JsonNode, key: String)
        : com.fasterxml.jackson.databind.JsonNode = {
      val v = n.get(key)
      if (v == null) throw new IllegalArgumentException(
        s"Invalid KDB tree: missing '$key'")
      v
    }
    def node(n: com.fasterxml.jackson.databind.JsonNode): Node = {
      val extent = Rect(numOf(req(n, "x0")), numOf(req(n, "y0")),
        numOf(req(n, "x1")), numOf(req(n, "y1")))
      if (n.has("leaf")) Leaf(extent, req(n, "leaf").asInt())
      else Internal(extent, req(n, "by").asText() == "x",
        req(n, "at").asDouble(), node(req(n, "left")), node(req(n, "right")))
    }
    node(root)
  }

  /** Parsed-tree cache: spatial_partitions is called once PER ROW with
    * the same broadcast tree JSON — parsing per row would dominate.
    * Bounded (trees are few per query). */
  private val treeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Node]()
  private def cachedTree(json: String): Node = {
    if (treeCache.size() > 32) treeCache.clear()
    treeCache.computeIfAbsent(json, fromJson)
  }

  // ------------------------------------------------------------ aggregate

  /** (count, partitionCount, bottom-k (hash, rect) sample). The hash is
    * over the envelope's bits — deterministic, so equal data gives an
    * equal sample under any partitioning. */
  type State = (Long, Int, Seq[(Long, (Double, Double, Double, Double))])

  private def rectHash(r: Rect): Long = {
    var h = 0x9e3779b97f4a7c15L
    for (v <- Seq(r.x0, r.y0, r.x1, r.y1)) {
      h ^= java.lang.Double.doubleToLongBits(v)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
    }
    h
  }

  /** Trim to the bottom-k by hash. Callers let the buffer grow to
    * 2×[[MaxSamples]] before trimming (see reduce), so the sort cost is
    * amortized O(log k) per row instead of a full re-sort per row once
    * the cap is reached. */
  private def capped(
      s: Seq[(Long, (Double, Double, Double, Double))])
      : Seq[(Long, (Double, Double, Double, Double))] =
    if (s.size <= MaxSamples) s else s.sortBy(_._1).take(MaxSamples)

  class SpatialPartitioningAgg(enc: Encoder[State])
      extends Aggregator[(String, Int), State, String] {
    def zero: State = (0L, 0, Vector.empty)
    def reduce(b: State, a: (String, Int)): State = {
      if (a == null || a._1 == null) return b
      val env = GeoFunctions.envelope(GeoFunctions.parse(a._1))
      env match {
        case None => b
        case Some((x0, y0, x1, y1)) =>
          require(!x0.isNaN && !y0.isNaN && !x1.isNaN && !y1.isNaN &&
            !x0.isInfinite && !y0.isInfinite && !x1.isInfinite && !y1.isInfinite,
            s"spatial_partitioning: non-finite envelope ($x0, $y0, $x1, $y1)")
          val r = Rect(x0, y0, x1, y1)
          val grown = b._3 :+ (rectHash(r), (x0, y0, x1, y1))
          // amortized cap: trim only at 2x, not on every row past the cap
          val next = if (grown.size >= 2 * MaxSamples) capped(grown) else grown
          (b._1 + 1, math.max(b._2, a._2), next)
      }
    }
    def merge(b1: State, b2: State): State =
      (b1._1 + b2._1, math.max(b1._2, b2._2), capped(b1._3 ++ b2._3))
    def finish(r: State): String = {
      require(r._1 > 0, "No rows supplied to spatial partition.")
      val rects = capped(r._3).map { case (_, (x0, y0, x1, y1)) => Rect(x0, y0, x1, y1) }
      toJson(build(r._2, rects))
    }
    def bufferEncoder: Encoder[State] = enc
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  // ---------------------------------------------------------- registration

  private def partitions(tree: String, wkt: String, distance: Double): Seq[Int] = {
    require(!distance.isNaN, "distance is NaN")
    require(!distance.isInfinite, "distance is infinite")
    require(distance >= 0, s"distance is negative")
    GeoFunctions.envelope(GeoFunctions.parse(wkt)) match {
      case None => null
      case Some((x0, y0, x1, y1)) =>
        partitionsFor(cachedTree(tree),
          Rect(x0 - distance, y0 - distance, x1 + distance, y1 + distance))
    }
  }

  private lazy val partitionsWithin = FunctionEntry.udf(
    "spatial_partitions_within", udf((tree: String, wkt: String, d: Double) =>
      if (tree == null || wkt == null) null else partitions(tree, wkt, d)))

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("spatial_partitioning",
      udaf(new SpatialPartitioningAgg(
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[State]()),
        Encoders.tuple(Encoders.STRING, Encoders.scalaInt))),
    // the reference's 3-arg distance overload (GeoFunctions.java:1213)
    FunctionEntry.overload("spatial_partitions",
      FunctionEntry.udf("spatial_partitions", udf((tree: String, wkt: String) =>
        if (tree == null || wkt == null) null else partitions(tree, wkt, 0.0))),
      partitionsWithin),
    partitionsWithin,
  )

}
