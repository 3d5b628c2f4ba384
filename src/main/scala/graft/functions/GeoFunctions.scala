package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.functions.udf

/** Planar geospatial scalars (reference: presto-geospatial/src/main/java/
  * com/facebook/presto/plugin/geospatial/GeoFunctions.java, spherical
  * distance from presto-geospatial-toolkit/.../SphericalGeographyUtils
  * .java:82-108, Bing tiles from BingTileFunctions.java + BingTileUtils
  * .java:133-196).
  *
  * Type narrowing (SURVEY §1.2): the reference's GEOMETRY type is an
  * Esri-serialized VARBINARY; ours is the geometry's canonical WKT as
  * VARCHAR, and BINGTILE is the tile's quadkey as VARCHAR. Same values,
  * string-typed — every function below parses/prints WKT at the edges and
  * computes on a small geometry ADT in between. All computation is
  * per-row and local (no driver state, no lookups), so each scalar
  * parallelizes exactly like any other projection at 100 TB.
  *
  * Supported geometry kinds: POINT, MULTIPOINT, LINESTRING,
  * MULTILINESTRING, POLYGON (with holes), MULTIPOLYGON, and
  * GEOMETRYCOLLECTION (which mixed-dimension overlay results produce).
  * Predicates, measures, hulls and simplification are implemented from
  * the published algorithms (ray casting, shoelace, monotone chain,
  * Douglas-Peucker); the general overlay ops (ST_Union / ST_Intersection
  * / ST_Difference / ST_SymDifference / ST_Buffer / full ST_Relate) run
  * on the planar-arrangement core in [[GeoOverlay]].
  */
object GeoFunctions {

  // ---------------------------------------------------------------- model

  final case class Pt(x: Double, y: Double)

  sealed trait Geom
  final case class GPoint(pt: Option[Pt]) extends Geom
  final case class GMultiPoint(pts: Vector[Pt]) extends Geom
  final case class GLineString(pts: Vector[Pt]) extends Geom
  final case class GMultiLineString(lines: Vector[Vector[Pt]]) extends Geom
  /** rings are stored CLOSED (first == last vertex); head is the shell */
  final case class GPolygon(rings: Vector[Vector[Pt]]) extends Geom
  final case class GMultiPolygon(polys: Vector[Vector[Vector[Pt]]]) extends Geom
  final case class GCollection(geoms: Vector[Geom]) extends Geom

  private def invalid(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  // ------------------------------------------------------------ WKT parse

  // --------------------------------------------- WKT↔Geom intern cache

  /** Bounded per-thread WKT→Geom intern table: [[print]] registers its
    * rendering so a chained scalar's [[parse]] gets the SAME immutable
    * value back without re-parsing — chained geo expressions like
    * `ST_Area(ST_Intersection(a, b))` pass intermediates by reference
    * while VARCHAR WKT stays the carrier type (this closes the
    * per-call parse tax of the WKT narrowing; the reference passes its
    * Esri-serialized GEOMETRY blob between calls the same way). Exact
    * because print() is invertible — Double.toString round-trips and
    * rings stay closed — except for -0.0 coordinates (rendered "0"),
    * which are simply not cached. parse() results are interned too, so
    * a CONSTANT geometry argument (the geo02 diamond, a spatial-join
    * tree) parses once per task thread, not once per row. LRU-bounded:
    * 64 entries, ≤4096 vertices each, per thread.
    */
  private val MaxCacheEntries = 64
  private val MaxCacheVertices = 4096
  private val NegZeroBits = java.lang.Double.doubleToRawLongBits(-0.0)
  private val geomCache =
    new ThreadLocal[java.util.LinkedHashMap[String, Geom]] {
      override def initialValue(): java.util.LinkedHashMap[String, Geom] =
        new java.util.LinkedHashMap[String, Geom](64, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, Geom]): Boolean =
            size() > MaxCacheEntries
        }
    }
  /** Real parse count (cache misses) — GeoSpec pins the chain win. */
  private[graft] val parseMisses =
    new java.util.concurrent.atomic.AtomicLong

  private def cacheable(g: Geom): Boolean = {
    val vs = vertices(g)
    vs.lengthCompare(MaxCacheVertices) <= 0 && !vs.exists(p =>
      java.lang.Double.doubleToRawLongBits(p.x) == NegZeroBits ||
        java.lang.Double.doubleToRawLongBits(p.y) == NegZeroBits)
  }

  /** Minimal WKT reader for the supported kinds. Tolerates arbitrary
    * whitespace; case-insensitive tags; EMPTY at any level. Consults
    * the intern table first (see above). */
  def parse(wkt: String): Geom = {
    val cache = geomCache.get()
    val hit = cache.get(wkt)
    if (hit != null) hit
    else {
      parseMisses.incrementAndGet()
      val p = new WktParser(wkt)
      val g = p.geometry()
      p.expectEnd()
      if (cacheable(g)) cache.put(wkt, g)
      g
    }
  }

  private final class WktParser(s: String) {
    private var i = 0
    private def skipWs(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def word(): String = {
      skipWs()
      val start = i
      while (i < s.length && (s.charAt(i).isLetter || s.charAt(i) == '_')) i += 1
      if (i == start) invalid(s"Invalid WKT: expected a geometry tag at offset $start in '$s'")
      s.substring(start, i).toUpperCase
    }
    private def peekEmpty(): Boolean = {
      skipWs()
      if (s.regionMatches(true, i, "EMPTY", 0, 5)) { i += 5; true } else false
    }
    private def expect(c: Char): Unit = {
      skipWs()
      if (i >= s.length || s.charAt(i) != c) invalid(s"Invalid WKT: expected '$c' at offset $i in '$s'")
      i += 1
    }
    private def tryComma(): Boolean = {
      skipWs()
      if (i < s.length && s.charAt(i) == ',') { i += 1; true } else false
    }
    private def number(): Double = {
      skipWs()
      val start = i
      while (i < s.length && !s.charAt(i).isWhitespace &&
             s.charAt(i) != ',' && s.charAt(i) != '(' && s.charAt(i) != ')') i += 1
      if (i == start) invalid(s"Invalid WKT: expected a number at offset $start in '$s'")
      try java.lang.Double.parseDouble(s.substring(start, i))
      catch { case _: NumberFormatException =>
        invalid(s"Invalid WKT: bad number '${s.substring(start, i)}' in '$s'") }
    }
    private def point(): Pt = { val x = number(); val y = number(); Pt(x, y) }
    private def pointList(): Vector[Pt] = {
      expect('(')
      val b = Vector.newBuilder[Pt]
      b += point()
      while (tryComma()) b += point()
      expect(')')
      b.result()
    }
    private def ringList(): Vector[Vector[Pt]] = {
      expect('(')
      val b = Vector.newBuilder[Vector[Pt]]
      b += closedRing(pointList())
      while (tryComma()) b += closedRing(pointList())
      expect(')')
      b.result()
    }
    private def closedRing(pts: Vector[Pt]): Vector[Pt] = {
      if (pts.length < 3) invalid("Invalid WKT: a polygon ring needs at least 3 distinct points")
      if (pts.head == pts.last) pts else pts :+ pts.head
    }
    def geometry(): Geom = word() match {
      case "POINT" =>
        if (peekEmpty()) GPoint(None)
        else { expect('('); val p = point(); expect(')'); GPoint(Some(p)) }
      case "MULTIPOINT" =>
        if (peekEmpty()) GMultiPoint(Vector.empty)
        else {
          // both MULTIPOINT (1 2, 3 4) and MULTIPOINT ((1 2), (3 4))
          expect('(')
          skipWs()
          val b = Vector.newBuilder[Pt]
          def one(): Unit = {
            skipWs()
            if (i < s.length && s.charAt(i) == '(') { expect('('); b += point(); expect(')') }
            else b += point()
          }
          one()
          while (tryComma()) one()
          expect(')')
          GMultiPoint(b.result())
        }
      case "LINESTRING" =>
        if (peekEmpty()) GLineString(Vector.empty) else GLineString(pointList())
      case "MULTILINESTRING" =>
        if (peekEmpty()) GMultiLineString(Vector.empty)
        else {
          expect('(')
          val b = Vector.newBuilder[Vector[Pt]]
          b += pointList()
          while (tryComma()) b += pointList()
          expect(')')
          GMultiLineString(b.result())
        }
      case "POLYGON" =>
        if (peekEmpty()) GPolygon(Vector.empty) else GPolygon(ringList())
      case "MULTIPOLYGON" =>
        if (peekEmpty()) GMultiPolygon(Vector.empty)
        else {
          expect('(')
          val b = Vector.newBuilder[Vector[Vector[Pt]]]
          b += ringList()
          while (tryComma()) b += ringList()
          expect(')')
          GMultiPolygon(b.result())
        }
      case "GEOMETRYCOLLECTION" =>
        if (peekEmpty()) GCollection(Vector.empty)
        else {
          expect('(')
          val b = Vector.newBuilder[Geom]
          b += geometry()
          while (tryComma()) b += geometry()
          expect(')')
          GCollection(b.result())
        }
      case other => invalid(s"Invalid WKT: unsupported geometry type $other")
    }
    def expectEnd(): Unit = {
      skipWs()
      if (i != s.length) invalid(s"Invalid WKT: trailing content at offset $i in '$s'")
    }
  }

  // ------------------------------------------------------------ WKT print

  /** Integer-valued coordinates print without a decimal part (the JTS
    * WKTWriter convention the reference's ST_AsText follows). */
  def num(v: Double): String =
    if (v == Math.rint(v) && Math.abs(v) < 9.007199254740992e15) v.toLong.toString
    else v.toString

  private def pt(p: Pt): String = s"${num(p.x)} ${num(p.y)}"
  private def seqStr(pts: Seq[Pt]): String = pts.map(pt).mkString("(", ", ", ")")

  def print(g: Geom): String = {
    val s = render(g)
    // intern the rendering so the NEXT scalar in a chained expression
    // parses it by reference (see the cache scaladoc above parse)
    if (cacheable(g)) geomCache.get().put(s, g)
    s
  }

  private def render(g: Geom): String = g match {
    case GPoint(None)           => "POINT EMPTY"
    case GPoint(Some(p))        => s"POINT (${pt(p)})"
    case GMultiPoint(ps) if ps.isEmpty => "MULTIPOINT EMPTY"
    case GMultiPoint(ps)        => "MULTIPOINT " + seqStr(ps)
    case GLineString(ps) if ps.isEmpty => "LINESTRING EMPTY"
    case GLineString(ps)        => "LINESTRING " + seqStr(ps)
    case GMultiLineString(ls) if ls.isEmpty => "MULTILINESTRING EMPTY"
    case GMultiLineString(ls)   => "MULTILINESTRING " + ls.map(seqStr).mkString("(", ", ", ")")
    case GPolygon(rs) if rs.isEmpty => "POLYGON EMPTY"
    case GPolygon(rs)           => "POLYGON " + rs.map(seqStr).mkString("(", ", ", ")")
    case GMultiPolygon(ps) if ps.isEmpty => "MULTIPOLYGON EMPTY"
    case GMultiPolygon(ps)      => "MULTIPOLYGON " + ps.map(rs => rs.map(seqStr).mkString("(", ", ", ")")).mkString("(", ", ", ")")
    case GCollection(gs) if gs.isEmpty => "GEOMETRYCOLLECTION EMPTY"
    case GCollection(gs)        => "GEOMETRYCOLLECTION (" + gs.map(render).mkString(", ") + ")"
  }

  /** reference GeometryType.java:23-30 standardName() values */
  def typeName(g: Geom): String = g match {
    case _: GPoint           => "ST_Point"
    case _: GMultiPoint      => "ST_MultiPoint"
    case _: GLineString      => "ST_LineString"
    case _: GMultiLineString => "ST_MultiLineString"
    case _: GPolygon         => "ST_Polygon"
    case _: GMultiPolygon    => "ST_MultiPolygon"
    case _: GCollection      => "ST_GeomCollection"
  }

  // --------------------------------------------------------- decomposition

  def vertices(g: Geom): Vector[Pt] = g match {
    case GPoint(p)            => p.toVector
    case GMultiPoint(ps)      => ps
    case GLineString(ps)      => ps
    case GMultiLineString(ls) => ls.flatten
    case GPolygon(rs)         => rs.flatten
    case GMultiPolygon(ps)    => ps.flatten.flatten
    case GCollection(gs)      => gs.flatMap(vertices)
  }

  /** All line segments: linestring edges plus polygon ring edges. */
  def segments(g: Geom): Vector[(Pt, Pt)] = {
    def edges(ps: Vector[Pt]): Vector[(Pt, Pt)] =
      if (ps.length < 2) Vector.empty else ps.zip(ps.tail)
    g match {
      case _: GPoint | _: GMultiPoint => Vector.empty
      case GLineString(ps)      => edges(ps)
      case GMultiLineString(ls) => ls.flatMap(edges)
      case GPolygon(rs)         => rs.flatMap(edges)
      case GMultiPolygon(ps)    => ps.flatten.flatMap(edges)
      case GCollection(gs)      => gs.flatMap(segments)
    }
  }

  /** The areal components, as ring lists (shell + holes). */
  def arealParts(g: Geom): Vector[Vector[Vector[Pt]]] = g match {
    case GPolygon(rs) if rs.nonEmpty => Vector(rs)
    case GMultiPolygon(ps)           => ps
    case GCollection(gs)             => gs.flatMap(arealParts)
    case _                           => Vector.empty
  }

  def isEmpty(g: Geom): Boolean = vertices(g).isEmpty

  def envelope(g: Geom): Option[(Double, Double, Double, Double)] = {
    val vs = vertices(g)
    if (vs.isEmpty) None
    else Some((vs.map(_.x).min, vs.map(_.y).min, vs.map(_.x).max, vs.map(_.y).max))
  }

  // ------------------------------------------------------------- measures

  /** Signed area of a closed ring (shoelace); positive = counterclockwise. */
  def signedArea(ring: Vector[Pt]): Double = {
    var a = 0.0
    var i = 0
    while (i < ring.length - 1) {
      a += ring(i).x * ring(i + 1).y - ring(i + 1).x * ring(i).y
      i += 1
    }
    a / 2
  }

  def area(g: Geom): Double = g match {
    case GPolygon(rs) if rs.nonEmpty =>
      Math.abs(signedArea(rs.head)) - rs.tail.map(r => Math.abs(signedArea(r))).sum
    case GMultiPolygon(ps) => ps.map(rs => area(GPolygon(rs))).sum
    case GCollection(gs)   => gs.map(area).sum
    case _                 => 0.0 // the reference's getArea: non-areal geometry has area 0
  }

  private def segLen(a: Pt, b: Pt): Double = Math.hypot(b.x - a.x, b.y - a.y)

  /** reference ST_Length: LINESTRING / MULTILINESTRING only. */
  def length(g: Geom): Double = g match {
    case GLineString(ps)      => ps.zip(ps.drop(1)).map { case (a, b) => segLen(a, b) }.sum
    case GMultiLineString(ls) => ls.map(ps => length(GLineString(ps))).sum
    case other => invalid(s"ST_Length only applies to LineString or MultiLineString. Input type is: ${typeName(other)}")
  }

  def centroid(g: Geom): Option[Pt] = g match {
    case GPoint(p)       => p
    case GMultiPoint(ps) if ps.nonEmpty =>
      Some(Pt(ps.map(_.x).sum / ps.length, ps.map(_.y).sum / ps.length))
    case GLineString(ps) if ps.length >= 2 =>
      // length-weighted midpoint average; degenerate zero-length line falls
      // back to the vertex average
      val segs = ps.zip(ps.tail)
      val total = segs.map { case (a, b) => segLen(a, b) }.sum
      if (total == 0) centroid(GMultiPoint(ps))
      else {
        val cx = segs.map { case (a, b) => (a.x + b.x) / 2 * segLen(a, b) }.sum / total
        val cy = segs.map { case (a, b) => (a.y + b.y) / 2 * segLen(a, b) }.sum / total
        Some(Pt(cx, cy))
      }
    case GPolygon(rs) if rs.nonEmpty =>
      // area-weighted shoelace centroid; holes subtract
      var ax = 0.0; var ay = 0.0; var atot = 0.0
      rs.zipWithIndex.foreach { case (ring, idx) =>
        val sa = signedArea(ring)
        val w = if (idx == 0) Math.abs(sa) else -Math.abs(sa)
        if (sa != 0) {
          var cx = 0.0; var cy = 0.0
          var i = 0
          while (i < ring.length - 1) {
            val cross = ring(i).x * ring(i + 1).y - ring(i + 1).x * ring(i).y
            cx += (ring(i).x + ring(i + 1).x) * cross
            cy += (ring(i).y + ring(i + 1).y) * cross
            i += 1
          }
          // cx/(6*sa) is the ring centroid; weight by ±|area|
          ax += cx / (6 * sa) * w
          ay += cy / (6 * sa) * w
          atot += w
        }
      }
      if (atot == 0) centroid(GMultiPoint(rs.head.dropRight(1)))
      else Some(Pt(ax / atot, ay / atot))
    case GMultiPolygon(ps) if ps.nonEmpty =>
      val parts = ps.map(rs => (centroid(GPolygon(rs)), area(GPolygon(rs))))
      val atot = parts.map(_._2).sum
      if (atot == 0) None
      else Some(Pt(
        parts.collect { case (Some(c), a) => c.x * a }.sum / atot,
        parts.collect { case (Some(c), a) => c.y * a }.sum / atot))
    case _ => None
  }

  // ----------------------------------------------------------- predicates

  /** 0 = outside, 1 = on boundary, 2 = interior — even-odd ray cast over
    * the ring set (holes flip parity naturally). */
  def locateInRings(p: Pt, rings: Vector[Vector[Pt]]): Int = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      var i = 0
      while (i < ring.length - 1) {
        val a = ring(i); val b = ring(i + 1)
        if (onSegment(p, a, b)) return 1
        // crossing test: edge straddles the horizontal ray to +inf
        if ((a.y > p.y) != (b.y > p.y)) {
          val xCross = a.x + (p.y - a.y) / (b.y - a.y) * (b.x - a.x)
          if (xCross > p.x) inside = !inside
        }
        i += 1
      }
      r += 1
    }
    if (inside) 2 else 0
  }

  private def onSegment(p: Pt, a: Pt, b: Pt): Boolean = {
    val cross = (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x)
    if (cross != 0) return false
    p.x >= Math.min(a.x, b.x) && p.x <= Math.max(a.x, b.x) &&
      p.y >= Math.min(a.y, b.y) && p.y <= Math.max(a.y, b.y)
  }

  private def pointSegDistance(p: Pt, a: Pt, b: Pt): Double = {
    val dx = b.x - a.x; val dy = b.y - a.y
    val len2 = dx * dx + dy * dy
    if (len2 == 0) return segLen(p, a)
    val t = Math.max(0.0, Math.min(1.0, ((p.x - a.x) * dx + (p.y - a.y) * dy) / len2))
    Math.hypot(p.x - (a.x + t * dx), p.y - (a.y + t * dy))
  }

  private def segsIntersect(p1: Pt, p2: Pt, q1: Pt, q2: Pt): Boolean = {
    def orient(a: Pt, b: Pt, c: Pt): Int = {
      val v = (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x)
      if (v > 0) 1 else if (v < 0) -1 else 0
    }
    val o1 = orient(p1, p2, q1); val o2 = orient(p1, p2, q2)
    val o3 = orient(q1, q2, p1); val o4 = orient(q1, q2, p2)
    if (o1 != o2 && o3 != o4) return true
    (o1 == 0 && onSegment(q1, p1, p2)) || (o2 == 0 && onSegment(q2, p1, p2)) ||
      (o3 == 0 && onSegment(p1, q1, q2)) || (o4 == 0 && onSegment(p2, q1, q2))
  }

  private def segSegDistance(p1: Pt, p2: Pt, q1: Pt, q2: Pt): Double =
    if (segsIntersect(p1, p2, q1, q2)) 0.0
    else Seq(
      pointSegDistance(p1, q1, q2), pointSegDistance(p2, q1, q2),
      pointSegDistance(q1, p1, p2), pointSegDistance(q2, p1, p2)).min

  /** Min Euclidean distance between the two geometries' point sets
    * (reference ST_Distance; 0 when they intersect, including one
    * geometry lying inside the other's interior). NULL (None) when
    * either is empty — the reference returns NULL for empty inputs. */
  def distance(a: Geom, b: Geom): Option[Double] = {
    if (isEmpty(a) || isEmpty(b)) return None
    // containment in an areal component → 0 (covers "inside, no edges close")
    def insideAreal(vs: Vector[Pt], host: Geom): Boolean =
      arealParts(host).exists(rings => vs.exists(v => locateInRings(v, rings) > 0))
    if (insideAreal(vertices(b), a) || insideAreal(vertices(a), b)) return Some(0.0)
    val segA = segments(a); val segB = segments(b)
    val ptsA = vertices(a); val ptsB = vertices(b)
    var best = Double.PositiveInfinity
    if (segA.isEmpty && segB.isEmpty) {
      for (p <- ptsA; q <- ptsB) best = Math.min(best, segLen(p, q))
    } else if (segA.isEmpty) {
      for (p <- ptsA; (q1, q2) <- segB) best = Math.min(best, pointSegDistance(p, q1, q2))
    } else if (segB.isEmpty) {
      for (q <- ptsB; (p1, p2) <- segA) best = Math.min(best, pointSegDistance(q, p1, p2))
    } else {
      for ((p1, p2) <- segA; (q1, q2) <- segB) {
        best = Math.min(best, segSegDistance(p1, p2, q1, q2))
        if (best == 0) return Some(0.0)
      }
    }
    Some(best)
  }

  def intersects(a: Geom, b: Geom): Option[Boolean] = {
    if (isEmpty(a) || isEmpty(b)) return None
    // envelope reject first — the common case at scale
    (envelope(a), envelope(b)) match {
      case (Some((ax0, ay0, ax1, ay1)), Some((bx0, by0, bx1, by1)))
          if ax1 < bx0 || bx1 < ax0 || ay1 < by0 || by1 < ay0 =>
        Some(false)
      case _ => distance(a, b).map(_ == 0.0)
    }
  }

  /** OGC Contains under the supported-combination narrowing: the left
    * side must be areal (POLYGON/MULTIPOLYGON), the right a POINT or
    * MULTIPOINT. Every right point must lie in the closure and at least
    * one strictly in the interior (a point only on the boundary is NOT
    * contained — OGC requires an interior intersection). Other
    * combinations raise a clear unsupported error rather than a wrong
    * answer. */
  def contains(a: Geom, b: Geom): Option[Boolean] = {
    if (isEmpty(a) || isEmpty(b)) return None
    val parts = arealParts(a)
    if (parts.isEmpty)
      invalid(s"ST_Contains supports an areal left argument (Polygon or MultiPolygon) under the WKT narrowing. Input type is: ${typeName(a)}")
    val pts = b match {
      case GPoint(Some(p))                 => Vector(p)
      case GMultiPoint(ps) if ps.nonEmpty  => ps
      case other =>
        invalid(s"ST_Contains supports a Point or MultiPoint right argument under the WKT narrowing. Input type is: ${typeName(other)}")
    }
    val locs = pts.map(p => parts.map(rings => locateInRings(p, rings)).max)
    Some(locs.forall(_ > 0) && locs.exists(_ == 2))
  }

  // --------------------------------------------------- hulls and simplify

  /** Monotone-chain convex hull; returns a point / linestring / polygon
    * depending on the hull's dimension (the reference's ST_ConvexHull
    * degenerates the same way). */
  def convexHull(g: Geom): Geom = {
    val ps = vertices(g).distinct.sortBy(p => (p.x, p.y))
    if (ps.isEmpty) return GPoint(None)
    if (ps.length == 1) return GPoint(Some(ps.head))
    def cross(o: Pt, a: Pt, b: Pt): Double =
      (a.x - o.x) * (b.y - o.y) - (a.y - o.y) * (b.x - o.x)
    def half(pts: Vector[Pt]): Vector[Pt] = {
      var h = Vector.empty[Pt]
      for (p <- pts) {
        while (h.length >= 2 && cross(h(h.length - 2), h(h.length - 1), p) <= 0)
          h = h.dropRight(1)
        h = h :+ p
      }
      h
    }
    val hull = half(ps).dropRight(1) ++ half(ps.reverse).dropRight(1)
    if (hull.length == 2 || hull.isEmpty) {
      // collinear input: the hull is the extreme segment
      val lo = ps.head; val hi = ps.last
      if (lo == hi) GPoint(Some(lo)) else GLineString(Vector(lo, hi))
    } else GPolygon(Vector(hull :+ hull.head))
  }

  /** Douglas-Peucker simplification (reference simplify_geometry). */
  def simplify(g: Geom, tolerance: Double): Geom = {
    require(tolerance >= 0 && !tolerance.isNaN, "simplification tolerance must be a non-negative finite number")
    def dp(ps: Vector[Pt]): Vector[Pt] = {
      if (ps.length < 3) return ps
      val a = ps.head; val b = ps.last
      var worst = -1.0; var worstIdx = -1
      var i = 1
      while (i < ps.length - 1) {
        val d = if (a == b) segLen(ps(i), a) else pointSegDistance(ps(i), a, b)
        if (d > worst) { worst = d; worstIdx = i }
        i += 1
      }
      if (worst <= tolerance) Vector(a, b)
      else dp(ps.take(worstIdx + 1)) ++ dp(ps.drop(worstIdx)).tail
    }
    def ring(ps: Vector[Pt]): Vector[Pt] = {
      val out = dp(ps)
      if (out.length < 4) ps else out // never collapse a ring below a triangle
    }
    g match {
      case GLineString(ps)      => GLineString(dp(ps))
      case GMultiLineString(ls) => GMultiLineString(ls.map(dp))
      case GPolygon(rs)         => GPolygon(rs.map(ring))
      case GMultiPolygon(ps)    => GMultiPolygon(ps.map(_.map(ring)))
      case other                => other
    }
  }

  // ----------------------------------------------- line locate/interpolate

  /** reference line_locate_point: fraction of the line's length at the
    * point's closest projection; NULL for empty inputs. */
  def lineLocatePoint(line: Geom, point: Geom): Option[Double] = (line, point) match {
    case (GLineString(ps), GPoint(Some(p))) if ps.length >= 2 =>
      val segs = ps.zip(ps.tail)
      val total = segs.map { case (a, b) => segLen(a, b) }.sum
      if (total == 0) return Some(0.0)
      var best = Double.PositiveInfinity
      var bestAt = 0.0
      var walked = 0.0
      for ((a, b) <- segs) {
        val d = pointSegDistance(p, a, b)
        if (d < best) {
          best = d
          val len2 = (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)
          val t = if (len2 == 0) 0.0
            else Math.max(0.0, Math.min(1.0,
              ((p.x - a.x) * (b.x - a.x) + (p.y - a.y) * (b.y - a.y)) / len2))
          bestAt = walked + t * segLen(a, b)
        }
        walked += segLen(a, b)
      }
      Some(bestAt / total)
    case (GLineString(_), GPoint(None)) => None
    case (l, p) => invalid(s"line_locate_point applies to (LineString, Point). Input types are: ${typeName(l)}, ${typeName(p)}")
  }

  /** reference line_interpolate_point: the point at the given fraction of
    * the line's length. */
  def lineInterpolatePoint(line: Geom, fraction: Double): Geom = line match {
    case GLineString(ps) if ps.length >= 2 =>
      require(fraction >= 0 && fraction <= 1, s"line_interpolate_point: fraction must be in [0, 1], got $fraction")
      val segs = ps.zip(ps.tail)
      val total = segs.map { case (a, b) => segLen(a, b) }.sum
      if (total == 0) return GPoint(Some(ps.head))
      var target = fraction * total
      for ((a, b) <- segs) {
        val l = segLen(a, b)
        if (target <= l && l > 0)
          return GPoint(Some(Pt(a.x + (b.x - a.x) * target / l, a.y + (b.y - a.y) * target / l)))
        target -= l
      }
      GPoint(Some(ps.last))
    case other => invalid(s"line_interpolate_point applies to a LineString. Input type is: ${typeName(other)}")
  }

  // -------------------------------------------------------------- validity

  /** Basic validity: rings closed with ≥ 4 points, finite coordinates, no
    * self-intersecting rings (O(edges²) pairwise check — geometry vertex
    * counts are per-row small, never data-sized). Returns the first
    * failure reason, or None when valid (reference
    * geometry_invalid_reason / ST_IsValid). */
  def invalidReason(g: Geom): Option[String] = {
    val vs = vertices(g)
    if (vs.exists(p => p.x.isNaN || p.y.isNaN || p.x.isInfinite || p.y.isInfinite))
      return Some("Invalid coordinates: non-finite value")
    def ringCheck(ring: Vector[Pt]): Option[String] = {
      if (ring.length < 4) return Some("Polygon ring has fewer than 3 distinct points")
      if (Math.abs(signedArea(ring)) == 0) return Some("Polygon ring has zero area")
      val edges = ring.zip(ring.tail)
      var i = 0
      while (i < edges.length) {
        var j = i + 2
        // skip adjacent edges (they share a vertex); the wrap-around pair
        // (first, last) is adjacent too
        val lastJ = if (i == 0) edges.length - 1 else edges.length
        while (j < lastJ) {
          val (p1, p2) = edges(i); val (q1, q2) = edges(j)
          if (segsIntersect(p1, p2, q1, q2)) return Some("Polygon ring self-intersects")
          j += 1
        }
        i += 1
      }
      None
    }
    arealParts(g).flatten.flatMap(ringCheck).headOption
  }

  // ----------------------------------------------------- spherical distance

  /** reference SphericalGeographyUtils.java:82-108 — spherical Vincenty,
    * R = 6371.01 km; arguments validated to the lat/lon domains. */
  def greatCircleDistance(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    def checkLat(l: Double): Unit = require(l >= -90 && l <= 90, s"Latitude must be between -90 and 90, got $l")
    def checkLon(l: Double): Unit = require(l >= -180 && l <= 180, s"Longitude must be between -180 and 180, got $l")
    checkLat(lat1); checkLat(lat2); checkLon(lon1); checkLon(lon2)
    val rl1 = Math.toRadians(lat1); val rl2 = Math.toRadians(lat2)
    val sin1 = Math.sin(rl1); val cos1 = Math.cos(rl1)
    val sin2 = Math.sin(rl2); val cos2 = Math.cos(rl2)
    val dLon = Math.toRadians(lon1) - Math.toRadians(lon2)
    val cosDLon = Math.cos(dLon)
    val t1 = cos2 * Math.sin(dLon)
    val t2 = cos1 * sin2 - sin1 * cos2 * cosDLon
    val t3 = sin1 * sin2 + cos1 * cos2 * cosDLon
    Math.atan2(Math.sqrt(t1 * t1 + t2 * t2), t3) * 6371.01
  }

  // ------------------------------------------------------------ Bing tiles

  /** BINGTILE narrowing: a tile is its quadkey VARCHAR (one base-4 digit
    * per zoom level, reference BingTile.toQuadKey). Formulas from
    * BingTileUtils.java:133-196 (pixel-space mapping with clipping). */
  private val MaxBingZoom = 23
  private val MinBingLat = -85.05112878
  private val MaxBingLat = 85.05112878

  private def checkZoom(zoom: Int): Unit =
    require(zoom >= 0 && zoom <= MaxBingZoom, s"Zoom level must be in [0, $MaxBingZoom], got $zoom")

  private def axisToTile(axis: Double, zoom: Int): Int = {
    val mapSize = 256L << zoom
    val pixel = Math.min(Math.max(axis * mapSize, 0.0), (mapSize - 1).toDouble).toLong
    (pixel / 256).toInt
  }

  def latLonToTile(lat: Double, lon: Double, zoom: Int): (Int, Int) = {
    checkZoom(zoom)
    require(lat >= MinBingLat && lat <= MaxBingLat, s"Latitude must be between $MinBingLat and $MaxBingLat, got $lat")
    require(lon >= -180 && lon <= 180, s"Longitude must be between -180 and 180, got $lon")
    val x = (lon + 180) / 360
    val sinLat = Math.sin(lat * Math.PI / 180)
    val y = 0.5 - Math.log((1 + sinLat) / (1 - sinLat)) / (4 * Math.PI)
    (axisToTile(x, zoom), axisToTile(y, zoom))
  }

  def tileToQuadKey(x: Int, y: Int, zoom: Int): String = {
    checkZoom(zoom)
    require(x >= 0 && x < (1 << zoom) && y >= 0 && y < (1 << zoom),
      s"XY coordinates for a Bing tile at zoom level $zoom must be within [0, ${1 << zoom}) range")
    val sb = new StringBuilder
    var level = zoom
    while (level > 0) {
      val mask = 1 << (level - 1)
      var digit = 0
      if ((x & mask) != 0) digit += 1
      if ((y & mask) != 0) digit += 2
      sb.append(('0' + digit).toChar)
      level -= 1
    }
    sb.toString
  }

  def quadKeyToTile(quadKey: String): (Int, Int, Int) = {
    val zoom = quadKey.length
    checkZoom(zoom)
    var x = 0; var y = 0
    var level = zoom
    for (c <- quadKey) {
      val mask = 1 << (level - 1)
      c match {
        case '0' =>
        case '1' => x |= mask
        case '2' => y |= mask
        case '3' => x |= mask; y |= mask
        case other => invalid(s"Invalid QuadKey digit sequence: $quadKey (bad digit '$other')")
      }
      level -= 1
    }
    (x, y, zoom)
  }

  /** Tile envelope corners (west/south/east/north edges from
    * BingTileUtils.tileXToLongitude / tileYToLatitude). */
  def tileEnvelope(x: Int, y: Int, zoom: Int): (Double, Double, Double, Double) = {
    val tiles = 1 << zoom
    def lonOf(tx: Int): Double = 360 * (Math.min(Math.max(tx, 0), tiles).toDouble / tiles - 0.5)
    def latOf(ty: Int): Double = {
      val yy = 0.5 - Math.min(Math.max(ty, 0), tiles).toDouble / tiles
      90 - 360 * Math.atan(Math.exp(-yy * 2 * Math.PI)) / Math.PI
    }
    (lonOf(x), latOf(y + 1), lonOf(x + 1), latOf(y))
  }

  /** Tile envelope as a WKT polygon. */
  def tilePolygon(quadKey: String): String = {
    val (x, y, zoom) = quadKeyToTile(quadKey)
    val (w, s, e, n) = tileEnvelope(x, y, zoom)
    print(GPolygon(Vector(Vector(Pt(w, s), Pt(e, s), Pt(e, n), Pt(w, n), Pt(w, s)))))
  }

  /** The zoom-level tiles intersecting the geometry (reference
    * geometry_to_bing_tiles — findMinimalTileCovering prunes a quad-tree
    * against the geometry; we enumerate the envelope's tile range and
    * keep the tiles whose box intersects the geometry, the same result
    * set). Bounded fail-loud like the reference's MAX_COVERING_COUNT. */
  def geometryToBingTiles(g: Geom, zoom: Int, maxTiles: Int = 4096): Seq[String] = {
    checkZoom(zoom)
    envelope(g) match {
      case None => Seq.empty
      case Some((x0, y0, x1, y1)) =>
        require(y0 >= MinBingLat && y1 <= MaxBingLat,
          s"Latitude span for the geometry must be in [$MinBingLat, $MaxBingLat] range")
        require(x0 >= -180 && x1 <= 180,
          s"Longitude span for the geometry must be in [-180, 180] range")
        val (tx0, ty1) = latLonToTile(y0, x0, zoom) // south-west → max tile y
        val (tx1, ty0) = latLonToTile(y1, x1, zoom) // north-east → min tile y
        val n = (tx1 - tx0 + 1).toLong * (ty1 - ty0 + 1).toLong
        require(n <= maxTiles,
          s"geometry covers $n tiles at zoom $zoom (> $maxTiles); use a coarser zoom")
        val isBox = g match {
          case GPolygon(Vector(ring)) =>
            ring.length == 5 && ring.map(_.x).distinct.size == 2 && ring.map(_.y).distinct.size == 2
          case _: GPoint => true
          case _ => false
        }
        for {
          ty <- ty0 to ty1
          tx <- tx0 to tx1
          if isBox || {
            val (w, s, e, nn) = tileEnvelope(tx, ty, zoom)
            val box = GPolygon(Vector(Vector(Pt(w, s), Pt(e, s), Pt(e, nn), Pt(w, nn), Pt(w, s))))
            intersects(box, g).contains(true)
          }
        } yield tileToQuadKey(tx, ty, zoom)
    }
  }

  /** Parent tile quadkey (reference BingTile.findParent; newZoom < 0 means
    * "one level up"). A quadkey IS the path from the root, so the parent
    * at zoom z is the z-character prefix. */
  def parentQuadKey(q: String, newZoom: Int): String = {
    val (_, _, zoom) = quadKeyToTile(q) // validates digits
    val target = if (newZoom < 0) zoom - 1 else newZoom
    require(target >= 0, s"Cannot call bing_tile_parent on zoom $zoom tile with target $target")
    require(target <= zoom, s"newZoom must be less than or equal to current zoom $zoom: $target")
    q.substring(0, target)
  }

  /** Child tile quadkeys (reference BingTile.findChildren; newZoom < 0
    * means "one level down"). Children at zoom z are all quadkeys with
    * this tile's key as prefix — 4^(z−zoom) of them, capped fail-loud
    * like geometryToBingTiles' covering bound. */
  def childrenQuadKeys(q: String, newZoom: Int, maxTiles: Int = 4096): Seq[String] = {
    val (_, _, zoom) = quadKeyToTile(q)
    val target = if (newZoom < 0) zoom + 1 else newZoom
    require(target <= MaxBingZoom, s"newZoom must be less than or equal to $MaxBingZoom: $target")
    require(target >= zoom, s"newZoom must be greater than or equal to current zoom $zoom: $target")
    val diff = target - zoom
    require(1L << (2 * diff) <= maxTiles,
      s"bing_tile_children would produce 4^$diff tiles (> $maxTiles); use a nearer zoom")
    def expand(prefix: String, levels: Int): Seq[String] =
      if (levels == 0) Seq(prefix)
      else "0123".flatMap(d => expand(prefix + d, levels - 1))
    expand(q, diff)
  }

  // -------------------------------------------------- simplicity & nearest

  /** OGC isSimple (reference ST_IsSimple via Esri OGCGeometry.isSimple):
    * points are always simple; a multipoint with repeated points is not;
    * a linestring must not self-intersect except at the shared endpoint
    * of a closed ring; polygons are simple iff valid. MultiLineString /
    * GeometryCollection inputs raise the documented narrowing error. */
  def isSimple(g: Geom): Boolean = g match {
    case _: GPoint => true
    case GMultiPoint(ps) => ps.distinct.length == ps.length
    case GLineString(ps) =>
      val segs = if (ps.length < 2) Vector.empty else ps.zip(ps.tail)
      val closed = ps.length >= 3 && ps.head == ps.last
      val n = segs.length
      (0 until n).forall { i =>
        ((i + 2) until n).forall { j =>
          // non-adjacent pair; for a closed ring the first and last
          // segments are adjacent through the closing point
          val ringAdjacent = closed && i == 0 && j == n - 1
          val (p1, p2) = segs(i); val (q1, q2) = segs(j)
          if (ringAdjacent)
            // may share exactly the closing vertex
            !segsIntersect(p1, p2, q1, q2) || {
              val shared = Seq(p1, p2).intersect(Seq(q1, q2))
              shared.length == 1 && segSegDistance(p1, p2, q1, q2) == 0.0 &&
                pointSegDistance(shared.head, p1, p2) == 0.0
            }
          else !segsIntersect(p1, p2, q1, q2)
        } && {
          // adjacent segments: only the shared vertex in common (no
          // collinear fold-back)
          if (i + 1 < n) {
            val (p1, p2) = segs(i); val (_, q2) = segs(i + 1)
            !onSegment(q2, p1, p2) || q2 == p1
          } else true
        }
      }
    case _: GPolygon | _: GMultiPolygon => invalidReason(g).isEmpty
    case other => invalid(s"ST_IsSimple supports Point, MultiPoint, LineString and areal geometries under the WKT narrowing. Input type is: ${typeName(other)}")
  }

  /** Closest point pair (reference geometry_nearest_points via JTS
    * DistanceOp.nearestPoints): (point-on-a, point-on-b) achieving
    * ST_Distance. None when either side is empty. */
  def nearestPoints(a: Geom, b: Geom): Option[(Pt, Pt)] = {
    if (isEmpty(a) || isEmpty(b)) return None
    // containment → the contained vertex paired with itself
    def containedVertex(host: Geom, guest: Geom): Option[Pt] =
      vertices(guest).find(v =>
        arealParts(host).exists(rings => locateInRings(v, rings) > 0))
    containedVertex(a, b).foreach(v => return Some((v, v)))
    containedVertex(b, a).foreach(v => return Some((v, v)))
    def projOnSeg(p: Pt, s1: Pt, s2: Pt): Pt = {
      val dx = s2.x - s1.x; val dy = s2.y - s1.y
      val len2 = dx * dx + dy * dy
      if (len2 == 0) s1
      else {
        val t = Math.max(0.0, Math.min(1.0,
          ((p.x - s1.x) * dx + (p.y - s1.y) * dy) / len2))
        Pt(s1.x + t * dx, s1.y + t * dy)
      }
    }
    def segCross(p1: Pt, p2: Pt, q1: Pt, q2: Pt): Option[Pt] = {
      val d1x = p2.x - p1.x; val d1y = p2.y - p1.y
      val d2x = q2.x - q1.x; val d2y = q2.y - q1.y
      val den = d1x * d2y - d1y * d2x
      if (den != 0) {
        val t = ((q1.x - p1.x) * d2y - (q1.y - p1.y) * d2x) / den
        Some(Pt(p1.x + t * d1x, p1.y + t * d1y))
      } else // collinear/parallel overlap: any shared endpoint works
        Seq(q1, q2).find(q => onSegment(q, p1, p2))
          .orElse(Seq(p1, p2).find(p => onSegment(p, q1, q2)))
    }
    val segA = segments(a); val segB = segments(b)
    val ptsA = if (segA.isEmpty) vertices(a) else Vector.empty
    val ptsB = if (segB.isEmpty) vertices(b) else Vector.empty
    var best = Double.PositiveInfinity
    var bestPair: (Pt, Pt) = null
    def consider(pa: Pt, pb: Pt): Unit = {
      val d = segLen(pa, pb)
      if (d < best) { best = d; bestPair = (pa, pb) }
    }
    (segA.isEmpty, segB.isEmpty) match {
      case (true, true) =>
        for (p <- ptsA; qq <- ptsB) consider(p, qq)
      case (true, false) =>
        for (p <- ptsA; (q1, q2) <- segB) consider(p, projOnSeg(p, q1, q2))
      case (false, true) =>
        for (qq <- ptsB; (p1, p2) <- segA) consider(projOnSeg(qq, p1, p2), qq)
      case (false, false) =>
        for ((p1, p2) <- segA; (q1, q2) <- segB) {
          if (segsIntersect(p1, p2, q1, q2))
            segCross(p1, p2, q1, q2).foreach(x => consider(x, x))
          else {
            consider(p1, projOnSeg(p1, q1, q2)); consider(p2, projOnSeg(p2, q1, q2))
            consider(projOnSeg(q1, p1, p2), q1); consider(projOnSeg(q2, p1, p2), q2)
          }
        }
    }
    Option(bestPair)
  }

  // ----------------------------------------------------------- WKB / JSON

  /** Standard OGC WKB reader (reference ST_GeomFromBinary — the Esri
    * importer accepts the same encoding): both byte orders, the seven
    * base geometry types, nested collections. Z/M variants raise. */
  def parseWkb(bytes: Array[Byte]): Geom = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    def geom(): Geom = {
      val order = buf.get()
      buf.order(
        if (order == 0) java.nio.ByteOrder.BIG_ENDIAN
        else if (order == 1) java.nio.ByteOrder.LITTLE_ENDIAN
        else invalid(s"Invalid WKB: bad byte-order marker $order"))
      val code = buf.getInt()
      if (code > 7) invalid(s"Invalid WKB: unsupported geometry type code $code (Z/M variants are not supported under the WKT narrowing)")
      def pt(): Pt = Pt(buf.getDouble(), buf.getDouble())
      def ring(): Vector[Pt] = Vector.fill(buf.getInt())(pt())
      // polygon rings must satisfy the stored-CLOSED invariant every
      // downstream measure relies on; tolerate open WKB rings exactly
      // like the WKT parser's closedRing
      def closed(ps: Vector[Pt]): Vector[Pt] =
        if (ps.length > 1 && ps.head != ps.last) ps :+ ps.head else ps
      code match {
        case 1 => GPoint(Some(pt()))
        case 2 => GLineString(ring())
        case 3 => GPolygon(Vector.fill(buf.getInt())(closed(ring())))
        case 4 => GMultiPoint(Vector.fill(buf.getInt()) {
          geom() match {
            case GPoint(Some(p)) => p
            case _ => invalid("Invalid WKB: MULTIPOINT element is not a point")
          }
        })
        case 5 => GMultiLineString(Vector.fill(buf.getInt()) {
          geom() match {
            case GLineString(ps) => ps
            case _ => invalid("Invalid WKB: MULTILINESTRING element is not a linestring")
          }
        })
        case 6 => GMultiPolygon(Vector.fill(buf.getInt()) {
          geom() match {
            case GPolygon(rs) => rs
            case _ => invalid("Invalid WKB: MULTIPOLYGON element is not a polygon")
          }
        })
        case 7 => GCollection(Vector.fill(buf.getInt())(geom()))
        case other => invalid(s"Invalid WKB: geometry type code $other")
      }
    }
    val g = geom()
    if (buf.hasRemaining) invalid("Invalid WKB: trailing bytes")
    g
  }

  /** GeoJSON writer (reference geometry_as_geojson — RFC 7946 geometry
    * object). Coordinates print with the WKT writer's integer-narrowing
    * convention so round-trips are stable. */
  def toGeoJson(g: Geom): String = {
    def coords(p: Pt): String = s"[${num(p.x)},${num(p.y)}]"
    def seq(ps: Seq[Pt]): String = ps.map(coords).mkString("[", ",", "]")
    def rings(rs: Seq[Vector[Pt]]): String = rs.map(seq).mkString("[", ",", "]")
    g match {
      case GPoint(Some(p)) => s"""{"type":"Point","coordinates":${coords(p)}}"""
      case GPoint(None) => """{"type":"Point","coordinates":[]}"""
      case GMultiPoint(ps) => s"""{"type":"MultiPoint","coordinates":${seq(ps)}}"""
      case GLineString(ps) => s"""{"type":"LineString","coordinates":${seq(ps)}}"""
      case GMultiLineString(ls) => s"""{"type":"MultiLineString","coordinates":${rings(ls)}}"""
      case GPolygon(rs) => s"""{"type":"Polygon","coordinates":${rings(rs)}}"""
      case GMultiPolygon(ps) =>
        s"""{"type":"MultiPolygon","coordinates":${ps.map(rings).mkString("[", ",", "]")}}"""
      case GCollection(gs) =>
        s"""{"type":"GeometryCollection","geometries":${gs.map(toGeoJson).mkString("[", ",", "]")}}"""
    }
  }

  /** GeoJSON reader (reference geometry_from_geojson). Jackson is Spark's
    * own JSON dependency — no new library. */
  def fromGeoJson(json: String): Geom = {
    val root = try {
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    } catch {
      case e: Exception => invalid(s"Invalid GeoJSON: ${e.getMessage}")
    }
    def node(n: com.fasterxml.jackson.databind.JsonNode): Geom = {
      val tpe = Option(n.get("type")).map(_.asText())
        .getOrElse(invalid("Invalid GeoJSON: missing type"))
      def arr(path: String): com.fasterxml.jackson.databind.JsonNode =
        Option(n.get(path)).filter(_.isArray)
          .getOrElse(invalid(s"Invalid GeoJSON: missing $path array"))
      import scala.jdk.CollectionConverters._
      def pt(c: com.fasterxml.jackson.databind.JsonNode): Pt = {
        require(c.isArray && c.size() >= 2, s"Invalid GeoJSON coordinate: $c")
        Pt(c.get(0).asDouble(), c.get(1).asDouble())
      }
      def pts(c: com.fasterxml.jackson.databind.JsonNode): Vector[Pt] =
        c.elements().asScala.map(pt).toVector
      def ringsOf(c: com.fasterxml.jackson.databind.JsonNode): Vector[Vector[Pt]] =
        c.elements().asScala.map(pts).toVector
      tpe match {
        case "Point" =>
          val c = arr("coordinates")
          if (c.size() == 0) GPoint(None) else GPoint(Some(pt(c)))
        case "MultiPoint" => GMultiPoint(pts(arr("coordinates")))
        case "LineString" => GLineString(pts(arr("coordinates")))
        case "MultiLineString" => GMultiLineString(ringsOf(arr("coordinates")))
        case "Polygon" => GPolygon(ringsOf(arr("coordinates")))
        case "MultiPolygon" =>
          GMultiPolygon(arr("coordinates").elements().asScala.map(ringsOf).toVector)
        case "GeometryCollection" =>
          GCollection(arr("geometries").elements().asScala.map(node).toVector)
        case other => invalid(s"Invalid GeoJSON: unsupported type $other")
      }
    }
    node(root)
  }

  /** Every non-collection component, nested collections flattened
    * (reference flatten_geometry_collections — multi-geometries are NOT
    * split, only collections are). */
  def flattenCollections(g: Geom): Vector[Geom] = g match {
    case GCollection(gs) => gs.flatMap(flattenCollections)
    case single => Vector(single)
  }

  /** Component list (reference ST_Geometries: null for empty, the
    * geometry itself for single types, components for multi types). */
  def componentGeoms(g: Geom): Option[Vector[Geom]] =
    if (isEmpty(g)) None
    else Some(g match {
      case GMultiPoint(ps)      => ps.map(p => GPoint(Some(p)))
      case GMultiLineString(ls) => ls.map(GLineString)
      case GMultiPolygon(ps)    => ps.map(GPolygon)
      case GCollection(gs)      => gs
      case single               => Vector(single)
    })

  // ------------------------------------------- relations & narrowed overlay

  /** Canonical structural form for vertex-level geometric equality
    * (reference ST_Equals is topological via Esri; this narrowing deems
    * two geometries equal when their canonicalized vertex structure
    * matches — same point set for punctual kinds, direction-normalized
    * component paths for lineal kinds, rotation/orientation-normalized
    * rings for areal kinds. Differently-segmented but point-set-equal
    * lines compare UNEQUAL here; divergence documented). */
  private def lexLess(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Boolean = {
    val it = a.iterator.zip(b.iterator)
    while (it.hasNext) {
      val (x, y) = it.next()
      val c = Ordering[(Double, Double)].compare(x, y)
      if (c != 0) return c < 0
    }
    a.length < b.length
  }

  private def canonical(g: Geom): AnyRef = {
    def canonLine(ps: Vector[Pt]): Vector[(Double, Double)] = {
      val fwd = ps.map(p => (p.x, p.y))
      val rev = fwd.reverse
      if (lexLess(rev, fwd)) rev else fwd
    }
    def canonRing(ring: Vector[Pt]): Vector[(Double, Double)] = {
      val open0 = if (ring.length > 1 && ring.head == ring.last) ring.dropRight(1) else ring
      val open = open0.map(p => (p.x, p.y))
      val candidates = (0 until open.length).flatMap { r =>
        val rot = open.drop(r) ++ open.take(r)
        Seq(rot, rot.head +: rot.tail.reverse)
      }
      val best = candidates.reduceLeft((x, y) => if (lexLess(y, x)) y else x)
      best :+ best.head
    }
    g match {
      case _: GPoint | _: GMultiPoint =>
        ("pt", vertices(g).map(p => (p.x, p.y)).distinct.sorted)
      case GLineString(ps) => ("ln", Vector(canonLine(ps)))
      case GMultiLineString(ls) => ("ln", ls.map(canonLine).sortWith(lexLess))
      case GPolygon(rs) => ("pg", Vector(rs.map(canonRing)))
      case GMultiPolygon(ps) =>
        ("pg", ps.map(_.map(canonRing)).sortWith((x, y) => lexLess(x.flatten, y.flatten)))
      case GCollection(gs) => ("gc", gs.map(canonical))
    }
  }

  /** Vertex-level ST_Equals (narrowing documented on [[canonical]]). */
  def geomEquals(a: Geom, b: Geom): Option[Boolean] = {
    if (isEmpty(a) || isEmpty(b)) return Some(isEmpty(a) && isEmpty(b))
    Some(canonical(a) == canonical(b))
  }

  private def orient(o: Pt, a: Pt, b: Pt): Double =
    (a.x - o.x) * (b.y - o.y) - (a.y - o.y) * (b.x - o.x)

  /** Strictly-crossing segment pair: the open interiors intersect in a
    * single point (orientations strictly opposite on both sides). */
  private def properCross(p1: Pt, p2: Pt, q1: Pt, q2: Pt): Boolean = {
    val o1 = orient(p1, p2, q1); val o2 = orient(p1, p2, q2)
    val o3 = orient(q1, q2, p1); val o4 = orient(q1, q2, p2)
    o1 * o2 < 0 && o3 * o4 < 0
  }

  /** Does any point of `g` lie strictly inside an areal component of
    * `host`? */
  private def hasVertexInInterior(g: Geom, host: Geom): Boolean =
    arealParts(host).exists(rings =>
      vertices(g).exists(v => locateInRings(v, rings) == 2))

  /** Do the two geometries' segment sets properly cross anywhere? */
  private def haveProperCrossing(a: Geom, b: Geom): Boolean =
    segments(a).exists { case (p1, p2) =>
      segments(b).exists { case (q1, q2) => properCross(p1, p2, q1, q2) } }

  private def strictlyInside(p: Pt, g: Geom): Boolean =
    arealParts(g).exists(r => locateInRings(p, r) == 2)

  /** Midpoint of the overlap of two COLLINEAR overlapping segments, if
    * the overlap has positive length. */
  private def collinearOverlapMidpoint(
      p1: Pt, p2: Pt, q1: Pt, q2: Pt): Option[Pt] = {
    if (orient(p1, p2, q1) != 0 || orient(p1, p2, q2) != 0) return None
    val dx = p2.x - p1.x; val dy = p2.y - p1.y
    val len2 = dx * dx + dy * dy
    if (len2 == 0) return None
    def t(q: Pt): Double = ((q.x - p1.x) * dx + (q.y - p1.y) * dy) / len2
    val (t1, t2) = (t(q1), t(q2))
    val lo = Math.max(0.0, Math.min(t1, t2))
    val hi = Math.min(1.0, Math.max(t1, t2))
    if (hi <= lo) None
    else {
      val m = (lo + hi) / 2
      Some(Pt(p1.x + m * dx, p1.y + m * dy))
    }
  }

  /** Interior-interior test for AREAL pairs. Proper crossings and
    * vertices strictly inside catch transversal overlap; the remaining
    * case — shared extent whose boundary contact is all collinear edges
    * and on-boundary vertices (two rectangles sharing a strip) — is
    * decided by probing just off the midpoint of each collinear
    * overlapping edge pair: if a probe lands strictly inside BOTH, the
    * interiors meet. Probe offset is relative to the coordinate scale. */
  private def arealInteriorsMeet(a: Geom, b: Geom): Boolean = {
    if (haveProperCrossing(a, b) ||
        hasVertexInInterior(a, b) || hasVertexInInterior(b, a)) return true
    segments(a).exists { case (p1, p2) =>
      segments(b).exists { case (q1, q2) =>
        collinearOverlapMidpoint(p1, p2, q1, q2).exists { m =>
          val scale = Seq(p1, p2, q1, q2)
            .map(p => Math.max(Math.abs(p.x), Math.abs(p.y))).max
          val eps = 1e-9 * (1 + scale)
          val len = segLen(p1, p2)
          val (nx, ny) = (-(p2.y - p1.y) / len, (p2.x - p1.x) / len)
          Seq(Pt(m.x + eps * nx, m.y + eps * ny),
              Pt(m.x - eps * nx, m.y - eps * ny))
            .exists(p => strictlyInside(p, a) && strictlyInside(p, b))
        }
      }
    }
  }

  /** Boundary points of a lineal geometry: non-closed component
    * endpoints (OGC mod-2 rule simplified to the common case). */
  private def linealBoundary(g: Geom): Vector[Pt] = g match {
    case GLineString(ps) if ps.length >= 2 && ps.head != ps.last => Vector(ps.head, ps.last)
    case GLineString(_) => Vector.empty
    case GMultiLineString(ls) =>
      ls.filter(ps => ps.length >= 2 && ps.head != ps.last).flatMap(ps => Vector(ps.head, ps.last))
    case _ => Vector.empty
  }

  private def isPunctual(g: Geom): Boolean = g match {
    case _: GPoint | _: GMultiPoint => true
    case _ => false
  }
  private def isLineal(g: Geom): Boolean = g match {
    case _: GLineString | _: GMultiLineString => true
    case _ => false
  }
  private def isAreal(g: Geom): Boolean = arealParts(g).nonEmpty

  /** OGC Touches for the supported kind pairs: the geometries intersect
    * but their interiors do not. Punctual-vs-(lineal|areal), areal-vs-
    * areal, and lineal-vs-areal are implemented; lineal-vs-lineal and
    * collections raise the narrowing error. */
  def touches(a: Geom, b: Geom): Option[Boolean] = {
    if (isEmpty(a) || isEmpty(b)) return None
    def pointVs(pts: Vector[Pt], other: Geom): Boolean = {
      if (isAreal(other))
        // every shared point must sit ON a ring, none strictly inside
        pts.forall(p => arealParts(other).forall(r => locateInRings(p, r) != 2)) &&
          pts.exists(p => arealParts(other).exists(r => locateInRings(p, r) == 1))
      else { // lineal: shared points only at the line's boundary endpoints
        val bd = linealBoundary(other)
        val touching = pts.filter(p => distance(GPoint(Some(p)), other).contains(0.0))
        touching.nonEmpty && touching.forall(bd.contains)
      }
    }
    (a, b) match {
      case _ if isPunctual(a) && !isPunctual(b) => Some(pointVs(vertices(a), b))
      case _ if isPunctual(b) && !isPunctual(a) => Some(pointVs(vertices(b), a))
      case _ if isAreal(a) && isAreal(b) =>
        Some(distance(a, b).contains(0.0) && !arealInteriorsMeet(a, b))
      case _ if (isLineal(a) && isAreal(b)) || (isAreal(a) && isLineal(b)) =>
        val (line, poly) = if (isLineal(a)) (a, b) else (b, a)
        // a line whose segment MIDPOINT sits strictly inside crosses the
        // interior even when both endpoints lie on the boundary
        val midInside = segments(line).exists { case (p1, p2) =>
          strictlyInside(Pt((p1.x + p2.x) / 2, (p1.y + p2.y) / 2), poly) }
        Some(distance(line, poly).contains(0.0) &&
          !haveProperCrossing(line, poly) &&
          !hasVertexInInterior(line, poly) && !midInside)
      case _ => invalid(
        s"ST_Touches supports punctual-vs-other, lineal-vs-areal and areal-vs-areal pairs under the WKT narrowing. Input types are: ${typeName(a)}, ${typeName(b)}")
    }
  }

  /** OGC Crosses for the supported kind pairs: lineal-vs-lineal (a
    * proper interior crossing point) and lineal-vs-areal (the line has
    * points strictly inside AND strictly outside the areal closure). */
  def crosses(a: Geom, b: Geom): Option[Boolean] = {
    if (isEmpty(a) || isEmpty(b)) return None
    (a, b) match {
      case _ if isLineal(a) && isLineal(b) => Some(haveProperCrossing(a, b))
      case _ if (isLineal(a) && isAreal(b)) || (isAreal(a) && isLineal(b)) =>
        val (line, poly) = if (isLineal(a)) (a, b) else (b, a)
        val inside = hasVertexInInterior(line, poly) || haveProperCrossing(line, poly)
        val outside = vertices(line).exists(v =>
          arealParts(poly).forall(r => locateInRings(v, r) == 0))
        Some(inside && outside)
      case _ if isPunctual(a) && !isPunctual(b) =>
        // multipoint crosses iff some point interior, some point outside
        val pts = vertices(a)
        Some(pts.length > 1 &&
          pts.exists(p => distance(GPoint(Some(p)), b).contains(0.0)) &&
          pts.exists(p => distance(GPoint(Some(p)), b).exists(_ > 0.0)))
      case _ => invalid(
        s"ST_Crosses supports lineal-vs-lineal, lineal-vs-areal and multipoint-vs-other pairs under the WKT narrowing. Input types are: ${typeName(a)}, ${typeName(b)}")
    }
  }

  /** OGC Overlaps for the supported kind pairs: punctual-vs-punctual
    * (the point sets properly overlap) and areal-vs-areal (interiors
    * intersect, neither covers the other). */
  def overlaps(a: Geom, b: Geom): Option[Boolean] = {
    if (isEmpty(a) || isEmpty(b)) return None
    (a, b) match {
      case _ if isPunctual(a) && isPunctual(b) =>
        val sa = vertices(a).toSet; val sb = vertices(b).toSet
        Some((sa intersect sb).nonEmpty && (sa diff sb).nonEmpty && (sb diff sa).nonEmpty)
      case _ if isAreal(a) && isAreal(b) =>
        val interiorsMeet = arealInteriorsMeet(a, b)
        val aInB = vertices(a).forall(v => arealParts(b).exists(r => locateInRings(v, r) > 0)) &&
          !haveProperCrossing(a, b)
        val bInA = vertices(b).forall(v => arealParts(a).exists(r => locateInRings(v, r) > 0)) &&
          !haveProperCrossing(a, b)
        Some(interiorsMeet && !aInB && !bInA)
      case _ => invalid(
        s"ST_Overlaps supports punctual-vs-punctual and areal-vs-areal pairs under the WKT narrowing. Input types are: ${typeName(a)}, ${typeName(b)}")
    }
  }

  /** DE-9IM matrix (row-major I/B/E of `a` × I/B/E of `b`, entries
    * F/0/1/2). Pairs with a punctual side are decided directly by the
    * point-membership primitives; lineal/areal × lineal/areal pairs run
    * on the arrangement core ([[GeoOverlay.de9imFull]]). Used by
    * ST_Relate (reference GeoFunctions.java:1131 via Esri relate). */
  def de9im(a: Geom, b: Geom): String = {
    def pointClass(p: Pt, g: Geom): Int = { // 2=interior, 1=boundary, 0=exterior
      if (isAreal(g)) arealParts(g).map(r => locateInRings(p, r)).max
      else if (isLineal(g)) {
        if (!distance(GPoint(Some(p)), g).contains(0.0)) 0
        else if (linealBoundary(g).contains(p)) 1
        else 2
      } else { // punctual: boundary is empty
        if (vertices(g).contains(p)) 2 else 0
      }
    }
    def matrixPunctualLeft(pts: Vector[Pt], g: Geom): String = {
      val classes = pts.map(p => pointClass(p, g))
      val ii = if (classes.contains(2)) '0' else 'F'
      val ib = if (classes.contains(1)) '0' else 'F'
      val ie = if (classes.contains(0)) '0' else 'F'
      // boundary of a punctual geometry is empty
      val (bi, bb, be) = ('F', 'F', 'F')
      val ei = g match {
        case _ if isAreal(g)  => '2'
        case _ if isLineal(g) => '1' // removing finitely many points keeps dim 1
        case _ =>
          if (vertices(g).exists(q => !pts.contains(q))) '0' else 'F'
      }
      val eb = g match {
        case _ if isAreal(g)  => '1'
        case _ if isLineal(g) =>
          if (linealBoundary(g).exists(q => !pts.contains(q))) '0' else 'F'
        case _ => 'F'
      }
      s"$ii$ib$ie$bi$bb$be$ei$eb" + "2"
    }
    def transpose(m: String): String =
      Seq(0, 3, 6, 1, 4, 7, 2, 5, 8).map(m.charAt).mkString
    if (isPunctual(a)) matrixPunctualLeft(vertices(a), b)
    else if (isPunctual(b)) transpose(matrixPunctualLeft(vertices(b), a))
    else GeoOverlay.de9imFull(a, b)
  }

  /** DE-9IM pattern match (reference semantics: '*' any, 'T' non-empty,
    * 'F' empty, digit exact dimension). */
  def relate(a: Geom, b: Geom, pattern: String): Option[Boolean] = {
    require(pattern != null && pattern.length == 9,
      s"ST_Relate pattern must be 9 characters, got '$pattern'")
    val pat = pattern.toUpperCase
    // validate EAGERLY: a lazily-checked bad character would raise or
    // not depending on the data the short-circuiting comparison saw
    pat.foreach(c => if (!"TF*012".contains(c))
      invalid(s"Invalid DE-9IM pattern character '$c' in '$pattern'"))
    if (isEmpty(a) || isEmpty(b)) return None
    val m = de9im(a, b)
    Some(pat.zip(m).forall {
      case ('*', _) => true
      case ('T', c) => c != 'F'
      case ('F', c) => c == 'F'
      case (p, c) => p == c
    })
  }

  /** Axis-aligned rectangle recognition: a single-ring polygon whose
    * ring is the closed 4-corner box (the shape st_envelope and
    * expand_envelope produce) — the reference's own ST_Intersection
    * fast-paths exactly this ENVELOPE×ENVELOPE case. */
  private def asBox(g: Geom): Option[(Double, Double, Double, Double)] = g match {
    case GPolygon(Vector(ring)) if ring.length == 5 && ring.head == ring.last =>
      val xs = ring.map(_.x).distinct.sorted
      val ys = ring.map(_.y).distinct.sorted
      if (xs.length == 2 && ys.length == 2 &&
          ring.toSet == Set(Pt(xs(0), ys(0)), Pt(xs(1), ys(0)), Pt(xs(1), ys(1)), Pt(xs(0), ys(1))))
        Some((xs(0), ys(0), xs(1), ys(1)))
      else None
    case _ => None
  }

  private def boxGeom(x0: Double, y0: Double, x1: Double, y1: Double): Geom =
    if (x0 == x1 && y0 == y1) GPoint(Some(Pt(x0, y0)))
    else if (x0 == x1 || y0 == y1) GLineString(Vector(Pt(x0, y0), Pt(x1, y1)))
    else GPolygon(Vector(Vector(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1), Pt(x0, y0))))

  private def emptyOf(g: Geom): Geom = g match {
    case _: GPoint => GPoint(None)
    case _: GMultiPoint => GMultiPoint(Vector.empty)
    case _: GLineString => GLineString(Vector.empty)
    case _: GMultiLineString => GMultiLineString(Vector.empty)
    case _ => GPolygon(Vector.empty)
  }

  private def dissolvePts(pts: Vector[Pt]): Geom = {
    val d = pts.map(p => (p.x, p.y)).distinct.sorted.map(p => Pt(p._1, p._2))
    if (d.isEmpty) GMultiPoint(Vector.empty)
    else if (d.length == 1) GPoint(Some(d.head))
    else GMultiPoint(d)
  }

  /** ST_Intersection (reference GeoFunctions.java:989 stIntersection via
    * the Esri intersect): punctual operands filter points; box×box keeps
    * the reference's ENVELOPE fast path; every other lineal/areal pair
    * goes through the arrangement-overlay core ([[GeoOverlay]]), which
    * returns the full OGC point-set result — polygonal overlap plus any
    * lower-dimensional shared linework/touch points. */
  def intersection(a: Geom, b: Geom): Geom = {
    if (isEmpty(a) || isEmpty(b)) return emptyOf(a)
    if (isPunctual(a))
      dissolvePts(vertices(a).filter(p => distance(GPoint(Some(p)), b).contains(0.0)))
    else if (isPunctual(b)) intersection(b, a)
    else (asBox(a), asBox(b)) match {
      case (Some((ax0, ay0, ax1, ay1)), Some((bx0, by0, bx1, by1))) =>
        val x0 = Math.max(ax0, bx0); val y0 = Math.max(ay0, by0)
        val x1 = Math.min(ax1, bx1); val y1 = Math.min(ay1, by1)
        if (x0 > x1 || y0 > y1) GPolygon(Vector.empty) else boxGeom(x0, y0, x1, y1)
      case _ if geomEquals(a, b).contains(true) => a
      case _ if isAreal(a) && isAreal(b) => GeoOverlay.intersectionAreal(a, b)
      case _ if !isAreal(a)              => GeoOverlay.intersectionLineal(a, b)
      case _                             => GeoOverlay.intersectionLineal(b, a)
    }
  }

  /** ST_Union (reference GeoFunctions.java:589 stUnion via the Esri
    * union): punctual∪punctual dissolves point sets; a punctual side is
    * absorbed by a covering operand or rides along in a collection;
    * areal×areal dissolves through the arrangement-overlay core; a
    * lineal side keeps its uncovered linework next to the areal part
    * (the reference's mixed-type union shape). */
  def union(a: Geom, b: Geom): Geom = {
    if (isEmpty(a)) return b
    if (isEmpty(b)) return a
    if (isPunctual(a) && isPunctual(b)) dissolvePts(vertices(a) ++ vertices(b))
    else if (geomEquals(a, b).contains(true)) a
    else if (isPunctual(b)) unionWithPoints(a, vertices(b))
    else if (isPunctual(a)) unionWithPoints(b, vertices(a))
    else if (isAreal(a) && isAreal(b))
      GeoOverlay.overlayAreal(Vector(a, b), m => m(0) || m(1))
    else GeoOverlay.unionMixed(a, b)
  }

  /** Union of a non-punctual geometry with a point set: covered points
    * are absorbed, uncovered points ride along in a collection. */
  private def unionWithPoints(g: Geom, pts: Vector[Pt]): Geom = {
    val outside = pts.filter(p => !distance(GPoint(Some(p)), g).contains(0.0))
    if (outside.isEmpty) g
    else GCollection(Vector(g, dissolvePts(outside)))
  }

  /** ST_Difference (reference stDifference via the Esri difference):
    * punctual left filters points; lineal left clips against the right
    * operand; areal left subtracts an areal right through the overlay
    * core, and keeps itself unchanged against a lower-dimensional right
    * (removing a measure-zero set from a closed region is the region). */
  def difference(a: Geom, b: Geom): Geom = {
    if (isEmpty(a) || isEmpty(b)) return a
    if (isPunctual(a))
      dissolvePts(vertices(a).filter(p => !distance(GPoint(Some(p)), b).contains(0.0)))
    else if (geomEquals(a, b).contains(true)) emptyOf(a)
    else if (isPunctual(b)) a // measure-zero removal from a closed set
    else if (!isAreal(a)) GeoOverlay.differenceLineal(a, b)
    else if (isAreal(b)) GeoOverlay.overlayAreal(Vector(a, b), m => m(0) && !m(1))
    else a // areal minus lineal: measure-zero removal
  }

  /** ST_SymDifference = (a \ b) ∪ (b \ a), with the reference's
    * mixed-dimension shapes (a polygon⊕line keeps the polygon and the
    * line's uncovered runs). */
  def symDifference(a: Geom, b: Geom): Geom = {
    if (isEmpty(a)) return b
    if (isEmpty(b)) return a
    if (isPunctual(a) && isPunctual(b)) {
      val sa = vertices(a).toSet; val sb = vertices(b).toSet
      dissolvePts(((sa diff sb) ++ (sb diff sa)).toVector)
    } else if (geomEquals(a, b).contains(true)) emptyOf(a)
    else if (isPunctual(b)) unionWithPoints(a,
      vertices(b).filter(p => !distance(GPoint(Some(p)), a).contains(0.0)))
    else if (isPunctual(a)) unionWithPoints(b,
      vertices(a).filter(p => !distance(GPoint(Some(p)), b).contains(0.0)))
    else if (isAreal(a) && isAreal(b))
      GeoOverlay.overlayAreal(Vector(a, b), m => m(0) ^ m(1))
    else if (!isAreal(a) && !isAreal(b))
      union(GeoOverlay.differenceLineal(a, b), GeoOverlay.differenceLineal(b, a))
    else if (isAreal(a)) GeoOverlay.unionMixed(GeoOverlay.differenceLineal(b, a), a)
    else GeoOverlay.unionMixed(GeoOverlay.differenceLineal(a, b), b)
  }

  /** ST_Buffer for a POINT (reference GeoFunctions.java stBuffer via the
    * Esri buffer): a regular 32-gon inscribed approximation of the
    * radius-d disk, counterclockwise from angle 0. DOCUMENTED
    * DIVERGENCE: the reference's Esri buffer chooses its own arc
    * densification, so the two vertex sets differ — only the buffer's
    * PROPERTIES (contains the center, envelope = center ± d, area →
    * πd² as segments increase) are comparable across engines, which is
    * what GeoSpec pins. Lineal/areal/multi inputs buffer as the
    * Minkowski sum (union of per-segment rectangles and per-vertex
    * disks through the overlay core); d = 0 returns the input. */
  def buffer(g: Geom, d: Double, segments: Int = 32): Geom = {
    require(!d.isNaN, "ST_Buffer: distance is NaN")
    require(d >= 0, s"ST_Buffer: distance $d is negative")
    g match {
      case GPoint(None) => GPolygon(Vector.empty)
      case _ if isEmpty(g) => GPolygon(Vector.empty)
      case _ if d == 0 => g
      case GPoint(Some(p)) =>
        val ring = (0 until segments).map { i =>
          val a = 2 * Math.PI * i / segments
          Pt(p.x + d * Math.cos(a), p.y + d * Math.sin(a))
        }.toVector
        GPolygon(Vector(ring :+ ring.head))
      case other => GeoOverlay.bufferGeneral(other, d, segments)
    }
  }

  /** Minimal dissolved tile covering (reference
    * geometry_to_dissolved_bing_tiles — BingTileUtils
    * .findDissolvedTileCovering): the zoom-level covering with every
    * complete sibling quadruple collapsed into its parent, recursively. */
  def geometryToDissolvedBingTiles(g: Geom, zoom: Int): Seq[String] = {
    var tiles = geometryToBingTiles(g, zoom).toSet
    var changed = true
    while (changed) {
      changed = false
      val byParent = tiles.filter(_.nonEmpty).groupBy(q => q.substring(0, q.length - 1))
      for ((parent, kids) <- byParent if kids.size == 4) {
        tiles = tiles -- kids + parent
        changed = true
      }
    }
    tiles.toSeq.sorted
  }

  // ----------------------------------------------------- spatial aggregates

  /** convex_hull_agg (reference: presto-geospatial/.../aggregation/
    * ConvexHullAggregation.java). State is the CURRENT HULL's vertex list
    * — merging hulls by hulling the union of their vertices is exact
    * (any point inside either hull is inside the merged hull), so
    * partials combine map-side and the shuffle carries O(hull) points,
    * not O(rows). Works for every supported geometry kind (the hull of a
    * set of geometries is the hull of all their vertices). */
  class ConvexHullAgg(enc: org.apache.spark.sql.Encoder[Vector[(Double, Double)]])
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Vector[(Double, Double)], String] {
    private def rehull(pts: Vector[(Double, Double)]): Vector[(Double, Double)] =
      vertices(convexHull(GMultiPoint(pts.map(p => Pt(p._1, p._2))))).map(p => (p.x, p.y))
    def zero: Vector[(Double, Double)] = Vector.empty
    def reduce(b: Vector[(Double, Double)], wkt: String): Vector[(Double, Double)] =
      if (wkt == null) b
      else rehull(b ++ vertices(parse(wkt)).map(p => (p.x, p.y)))
    def merge(b1: Vector[(Double, Double)], b2: Vector[(Double, Double)])
        : Vector[(Double, Double)] = rehull(b1 ++ b2)
    def finish(r: Vector[(Double, Double)]): String =
      if (r.isEmpty) null else print(convexHull(GMultiPoint(r.map(p => Pt(p._1, p._2)))))
    def bufferEncoder: org.apache.spark.sql.Encoder[Vector[(Double, Double)]] = enc
    def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** Distinct point set of a PUNCTUAL geometry, for the union family's
    * dissolve narrowing. */
  private def punctualPoints(g: Geom, fn: String): Vector[Pt] = g match {
    case GPoint(p)       => p.toVector
    case GMultiPoint(ps) => ps
    case GCollection(gs) => gs.flatMap(punctualPoints(_, fn))
    case other => invalid(
      s"$fn: the mergeable bounded-state aggregate dissolves punctual " +
        s"geometries (Point/MultiPoint); use the ST_Union scalar (overlay " +
        s"core) for lineal/areal dissolve. Input type is: ${typeName(other)}")
  }

  /** Bounded-state cap for the point-union aggregate: beyond this many
    * distinct points the state is no longer 'sketch-sized' and the union
    * should be a DISTINCT on coordinates instead. Fail-loud. */
  private val MaxUnionPoints = 65536

  private def dissolvedPrint(pts: Vector[(Double, Double)]): String = {
    val ps = pts.distinct.sorted.map(p => Pt(p._1, p._2))
    if (ps.isEmpty) null
    else if (ps.length == 1) print(GPoint(Some(ps.head)))
    else print(GMultiPoint(ps))
  }

  /** geometry_union_agg (reference: presto-geospatial/.../aggregation/
    * GeometryUnionAgg.java) under the punctual narrowing: the union of
    * point sets is their distinct point set — exact, order-independent,
    * mergeable. */
  class GeometryUnionAgg(enc: org.apache.spark.sql.Encoder[Vector[(Double, Double)]])
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Vector[(Double, Double)], String] {
    private def capped(v: Vector[(Double, Double)]): Vector[(Double, Double)] = {
      val d = v.distinct
      require(d.length <= MaxUnionPoints,
        s"geometry_union_agg: > $MaxUnionPoints distinct points; use DISTINCT on coordinates instead")
      d
    }
    def zero: Vector[(Double, Double)] = Vector.empty
    def reduce(b: Vector[(Double, Double)], wkt: String): Vector[(Double, Double)] =
      if (wkt == null) b
      else capped(b ++ punctualPoints(parse(wkt), "geometry_union_agg").map(p => (p.x, p.y)))
    def merge(b1: Vector[(Double, Double)], b2: Vector[(Double, Double)])
        : Vector[(Double, Double)] = capped(b1 ++ b2)
    def finish(r: Vector[(Double, Double)]): String = dissolvedPrint(r)
    def bufferEncoder: org.apache.spark.sql.Encoder[Vector[(Double, Double)]] = enc
    def outputEncoder: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
  }

  /** geometry_union(array(Geometry)) (reference GeoFunctions.java
    * geometryUnion): all-punctual arrays dissolve to the distinct point
    * set (same as the aggregate); arrays with an areal member dissolve
    * through one N-ary arrangement overlay; remaining mixes fold through
    * the binary union. */
  def geometryUnion(wkts: Seq[String]): String = {
    val gs = wkts.filter(_ != null).toVector.map(parse).filterNot(isEmpty)
    if (gs.isEmpty) null
    else if (gs.forall(g => g.isInstanceOf[GPoint] || g.isInstanceOf[GMultiPoint]))
      dissolvedPrint(gs.flatMap(g => punctualPoints(g, "geometry_union"))
        .map(p => (p.x, p.y)))
    else if (gs.forall(isAreal))
      print(GeoOverlay.overlayAreal(gs, m => m.exists(identity)))
    else print(gs.reduceLeft(union))
  }

  // ---------------------------------------------------------- registration

  /** Register every geospatial scalar on the session. All are plain Scala
    * UDFs over VARCHAR geometry — acceptable here because WKT parsing is
    * inherently interpretive (the reference likewise funnels every call
    * through its Esri deserializer); the hot relational path (the grid
    * cells of [[graft.ops.SpatialJoin]]) stays in built-in codegen'd
    * expressions. */
  private def g1[R: reflect.runtime.universe.TypeTag](name: String)(f: Geom => R): FunctionEntry =
    FunctionEntry.udf(name, udf((wkt: String) => if (wkt == null) null.asInstanceOf[R] else f(parse(wkt))))

  private def g2[R: reflect.runtime.universe.TypeTag](name: String)(f: (Geom, Geom) => R): FunctionEntry =
    FunctionEntry.udf(name, udf((a: String, b: String) =>
      if (a == null || b == null) null.asInstanceOf[R] else f(parse(a), parse(b))))

  private def pointCoord(name: String, pick: Pt => Double): FunctionEntry =
    FunctionEntry.udf(name, udf((wkt: String) => if (wkt == null) null else parse(wkt) match {
      case GPoint(Some(p)) => java.lang.Double.valueOf(pick(p))
      case GPoint(None)    => null
      case other => invalid(s"$name requires a Point. Input type is: ${typeName(other)}")
    }))

  private def envCoord(name: String, pick: ((Double, Double, Double, Double)) => Double): FunctionEntry =
    g1[java.lang.Double](name)(g => envelope(g) match {
      case Some(e) => java.lang.Double.valueOf(pick(e))
      case None    => null
    })

  private def rel(name: String, f: (Geom, Geom) => Option[Boolean]): FunctionEntry =
    g2[java.lang.Boolean](name)((a, b) => f(a, b) match {
      case Some(v) => java.lang.Boolean.valueOf(v)
      case None    => null
    })

  private lazy val hullEnc: org.apache.spark.sql.Encoder[Vector[(Double, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Vector[(Double, Double)]]()

  private lazy val bingTileQuadkey = FunctionEntry.udf("bing_tile_quadkey",
    udf((q: String) => if (q == null) null else { quadKeyToTile(q); q }))

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.udf("st_point", udf((x: Double, y: Double) => print(GPoint(Some(Pt(x, y)))))),
    g1("st_geometry_from_text")(print),
    FunctionEntry.udf("st_geometryfromtext", udf((wkt: String) => if (wkt == null) null else print(parse(wkt)))),
    g1("st_astext")(print),
    g1("st_geometrytype")(typeName),
    FunctionEntry.udf("st_linefromtext", udf((wkt: String) => if (wkt == null) null else parse(wkt) match {
      case l: GLineString => print(l)
      case other => invalid(s"ST_LineFromText requires a LINESTRING literal. Input type is: ${typeName(other)}")
    })),
    FunctionEntry.udf("st_polygon", udf((wkt: String) => if (wkt == null) null else parse(wkt) match {
      case p: GPolygon => print(p)
      case other => invalid(s"ST_Polygon requires a POLYGON literal. Input type is: ${typeName(other)}")
    })),
    // ST_LineString(array(Point)) constructor (reference GeoFunctions
    // .java stLineString): nulls and empty points are rejected with the
    // reference's per-index error; < 2 points degrade to LINESTRING EMPTY.
    FunctionEntry.udf("st_linestring", udf((pts: Seq[String]) =>
      if (pts == null) null
      else {
        val ps = pts.toVector.zipWithIndex.map { case (w, i) =>
          if (w == null) invalid(s"Invalid input to ST_LineString: null at index ${i + 1}")
          parse(w) match {
            case GPoint(Some(p)) => p
            case GPoint(None) => invalid(s"Invalid input to ST_LineString: empty point at index ${i + 1}")
            case other => invalid(s"Invalid input to ST_LineString: geometry is not a point: ${typeName(other)} at index ${i + 1}")
          }
        }
        print(if (ps.length < 2) GLineString(Vector.empty) else GLineString(ps))
      })),
    FunctionEntry.udf("st_multipoint", udf((pts: Seq[String]) =>
      if (pts == null) null
      else print(GMultiPoint(pts.toVector.zipWithIndex.map {
        case (w, i) =>
          if (w == null) invalid(s"Invalid input to ST_MultiPoint: null at index ${i + 1}")
          parse(w) match {
            case GPoint(Some(p)) => p
            case other => invalid(s"Invalid input to ST_MultiPoint: geometry is not a point: ${typeName(other)} at index ${i + 1}")
          }
      })))),

    pointCoord("st_x", _.x),
    pointCoord("st_y", _.y),

    envCoord("st_xmin", _._1),
    envCoord("st_ymin", _._2),
    envCoord("st_xmax", _._3),
    envCoord("st_ymax", _._4),

    g1[java.lang.Double]("st_area")(g => java.lang.Double.valueOf(area(g))),
    g1[java.lang.Double]("st_length")(g => java.lang.Double.valueOf(length(g))),
    g1[String]("st_centroid")(g => print(GPoint(centroid(g)))),
    g1[java.lang.Boolean]("st_isempty")(g => java.lang.Boolean.valueOf(isEmpty(g))),
    g1[java.lang.Boolean]("st_isclosed") {
      case GLineString(ps) => java.lang.Boolean.valueOf(ps.nonEmpty && ps.head == ps.last)
      case GMultiLineString(ls) => java.lang.Boolean.valueOf(ls.nonEmpty && ls.forall(ps => ps.nonEmpty && ps.head == ps.last))
      case other => invalid(s"ST_IsClosed applies to LineString or MultiLineString. Input type is: ${typeName(other)}")
    },
    g1[java.lang.Boolean]("st_isring") {
      case GLineString(ps) =>
        java.lang.Boolean.valueOf(ps.length >= 4 && ps.head == ps.last &&
          invalidReason(GPolygon(Vector(ps))).isEmpty)
      case other => invalid(s"ST_IsRing applies to a LineString. Input type is: ${typeName(other)}")
    },
    g1[java.lang.Boolean]("st_isvalid")(g => java.lang.Boolean.valueOf(invalidReason(g).isEmpty)),
    g1[String]("geometry_invalid_reason")(g => invalidReason(g).orNull),
    g1[java.lang.Integer]("st_numpoints")(g => java.lang.Integer.valueOf(vertices(g).length)),
    g1[java.lang.Integer]("st_numgeometries")(g => java.lang.Integer.valueOf(g match {
      case g2 if isEmpty(g2)    => 0
      case GMultiPoint(ps)      => ps.length
      case GMultiLineString(ls) => ls.length
      case GMultiPolygon(ps)    => ps.length
      case GCollection(gs)      => gs.length
      case _                    => 1
    })),
    g1[java.lang.Integer]("st_dimension")(g => java.lang.Integer.valueOf(g match {
      case _: GPoint | _: GMultiPoint           => 0
      case _: GLineString | _: GMultiLineString => 1
      case _: GPolygon | _: GMultiPolygon       => 2
      case GCollection(gs)                      => if (gs.isEmpty) 0 else gs.map {
        case _: GPoint | _: GMultiPoint => 0
        case _: GLineString | _: GMultiLineString => 1
        case _ => 2
      }.max
    })),
    FunctionEntry.udf("st_coorddim", udf((wkt: String) => if (wkt == null) null else { parse(wkt); java.lang.Integer.valueOf(2) })),

    g1[String]("st_startpoint") {
      case GLineString(ps) if ps.nonEmpty => print(GPoint(Some(ps.head)))
      case GLineString(_) => null
      case other => invalid(s"ST_StartPoint applies to a LineString. Input type is: ${typeName(other)}")
    },
    g1[String]("st_endpoint") {
      case GLineString(ps) if ps.nonEmpty => print(GPoint(Some(ps.last)))
      case GLineString(_) => null
      case other => invalid(s"ST_EndPoint applies to a LineString. Input type is: ${typeName(other)}")
    },
    FunctionEntry.udf("st_pointn", udf((wkt: String, n: Int) => if (wkt == null) null else parse(wkt) match {
      case GLineString(ps) => if (n >= 1 && n <= ps.length) print(GPoint(Some(ps(n - 1)))) else null
      case other => invalid(s"ST_PointN applies to a LineString. Input type is: ${typeName(other)}")
    })),
    FunctionEntry.udf("st_geometryn", udf((wkt: String, n: Int) => if (wkt == null) null else {
      val g = parse(wkt)
      val parts: Vector[Geom] = g match {
        case GMultiPoint(ps)      => ps.map(p => GPoint(Some(p)))
        case GMultiLineString(ls) => ls.map(GLineString)
        case GMultiPolygon(ps)    => ps.map(GPolygon)
        case GCollection(gs)      => gs
        case single               => Vector(single)
      }
      if (n >= 1 && n <= parts.length) print(parts(n - 1)) else null
    })),
    g1[String]("st_envelope")(g => envelope(g) match {
      case None => "POLYGON EMPTY"
      case Some((x0, y0, x1, y1)) =>
        if (x0 == x1 && y0 == y1) print(GPoint(Some(Pt(x0, y0))))
        else if (x0 == x1 || y0 == y1) print(GLineString(Vector(Pt(x0, y0), Pt(x1, y1))))
        else print(GPolygon(Vector(Vector(Pt(x0, y0), Pt(x1, y0), Pt(x1, y1), Pt(x0, y1), Pt(x0, y0)))))
    }),
    g1[String]("st_boundary") {
      case _: GPoint | _: GMultiPoint => "GEOMETRYCOLLECTION EMPTY"
      case GLineString(ps) =>
        if (ps.isEmpty || ps.head == ps.last) "MULTIPOINT EMPTY"
        else print(GMultiPoint(Vector(ps.head, ps.last)))
      case GMultiLineString(ls) =>
        val ends = ls.filter(ps => ps.nonEmpty && ps.head != ps.last).flatMap(ps => Vector(ps.head, ps.last))
        if (ends.isEmpty) "MULTIPOINT EMPTY" else print(GMultiPoint(ends))
      case GPolygon(rs) =>
        if (rs.isEmpty) "MULTILINESTRING EMPTY"
        else if (rs.length == 1) print(GLineString(rs.head))
        else print(GMultiLineString(rs))
      case GMultiPolygon(ps) =>
        val rings = ps.flatten
        if (rings.isEmpty) "MULTILINESTRING EMPTY" else print(GMultiLineString(rings))
      case GCollection(_) => invalid("ST_Boundary does not apply to GeometryCollection under the WKT narrowing")
    },
    g1[String]("st_exteriorring") {
      case GPolygon(rs) if rs.nonEmpty => print(GLineString(rs.head))
      case GPolygon(_) => null
      case other => invalid(s"ST_ExteriorRing applies to a Polygon. Input type is: ${typeName(other)}")
    },
    g1[java.lang.Integer]("st_numinteriorring") {
      case GPolygon(rs) => java.lang.Integer.valueOf(Math.max(0, rs.length - 1))
      case other => invalid(s"ST_NumInteriorRing applies to a Polygon. Input type is: ${typeName(other)}")
    },
    FunctionEntry.udf("st_interiorringn", udf((wkt: String, n: Int) => if (wkt == null) null else parse(wkt) match {
      case GPolygon(rs) => if (n >= 1 && n < rs.length) print(GLineString(rs(n))) else null
      case other => invalid(s"ST_InteriorRingN applies to a Polygon. Input type is: ${typeName(other)}")
    })),

    g2[java.lang.Double]("st_distance")((a, b) => distance(a, b) match {
      case Some(d) => java.lang.Double.valueOf(d)
      case None    => null
    }),
    g2[java.lang.Boolean]("st_intersects")((a, b) => intersects(a, b) match {
      case Some(v) => java.lang.Boolean.valueOf(v)
      case None    => null
    }),
    g2[java.lang.Boolean]("st_disjoint")((a, b) => intersects(a, b) match {
      case Some(v) => java.lang.Boolean.valueOf(!v)
      case None    => null
    }),
    g2[java.lang.Boolean]("st_contains")((a, b) => contains(a, b) match {
      case Some(v) => java.lang.Boolean.valueOf(v)
      case None    => null
    }),
    g2[java.lang.Boolean]("st_within")((a, b) => contains(b, a) match {
      case Some(v) => java.lang.Boolean.valueOf(v)
      case None    => null
    }),

    g1[String]("st_convexhull")(g => print(convexHull(g))),
    FunctionEntry.udf("simplify_geometry", udf((wkt: String, tol: Double) =>
      if (wkt == null) null else print(simplify(parse(wkt), tol)))),
    g2[java.lang.Double]("line_locate_point")((l, p) => lineLocatePoint(l, p) match {
      case Some(f) => java.lang.Double.valueOf(f)
      case None    => null
    }),
    FunctionEntry.udf("line_interpolate_point", udf((wkt: String, f: Double) =>
      if (wkt == null) null else print(lineInterpolatePoint(parse(wkt), f)))),

    FunctionEntry.udf("great_circle_distance",
      udf((lat1: Double, lon1: Double, lat2: Double, lon2: Double) =>
        greatCircleDistance(lat1, lon1, lat2, lon2))),

    // the reference's 1-arg quadkey constructor (BingTileFunctions.java
    // toBingTile(quadKey)) is, under the quadkey-VARCHAR narrowing,
    // validation + identity: bing_tile_quadkey
    FunctionEntry.overload("bing_tile",
      FunctionEntry.udf("bing_tile", udf((x: Int, y: Int, zoom: Int) => tileToQuadKey(x, y, zoom))),
      bingTileQuadkey),
    FunctionEntry.udf("bing_tile_at", udf((lat: Double, lon: Double, zoom: Int) => {
      val (x, y) = latLonToTile(lat, lon, zoom)
      tileToQuadKey(x, y, zoom)
    })),
    bingTileQuadkey,
    FunctionEntry.udf("bing_tile_zoom_level", udf((q: String) =>
      if (q == null) null else java.lang.Integer.valueOf(quadKeyToTile(q)._3))),
    FunctionEntry.udf("bing_tile_coordinates", udf((q: String) =>
      if (q == null) null else { val (x, y, _) = quadKeyToTile(q); (x, y) })),
    FunctionEntry.udf("bing_tile_polygon", udf((q: String) => if (q == null) null else tilePolygon(q))),
    FunctionEntry.udf("geometry_to_bing_tiles", udf((wkt: String, zoom: Int) =>
      if (wkt == null) null.asInstanceOf[Seq[String]]
      else geometryToBingTiles(parse(wkt), zoom))),
    FunctionEntry.udf("bing_tiles_around", udf((lat: Double, lon: Double, zoom: Int) => {
      val (tx, ty) = latLonToTile(lat, lon, zoom)
      val max = (1 << zoom) - 1
      for {
        i <- Seq(-1, 0, 1); j <- Seq(-1, 0, 1)
        x = tx + i; y = ty + j
        if x >= 0 && x <= max && y >= 0 && y <= max
      } yield tileToQuadKey(x, y, zoom)
    })),

    // round-10 additions: the reference overloads these by arity
    // (BingTileFunctions.java:382-439), the 2-arg form with a target zoom
    FunctionEntry.overload("bing_tile_parent",
      FunctionEntry.udf("bing_tile_parent", udf((q: String) =>
        if (q == null) null else parentQuadKey(q, -1))),
      FunctionEntry.udf("bing_tile_parent", udf((q: String, z: Int) =>
        if (q == null) null else parentQuadKey(q, z)))),
    FunctionEntry.overload("bing_tile_children",
      FunctionEntry.udf("bing_tile_children", udf((q: String) =>
        if (q == null) null.asInstanceOf[Seq[String]] else childrenQuadKeys(q, -1))),
      FunctionEntry.udf("bing_tile_children", udf((q: String, z: Int) =>
        if (q == null) null.asInstanceOf[Seq[String]] else childrenQuadKeys(q, z)))),

    g1[java.lang.Boolean]("st_issimple")(g => java.lang.Boolean.valueOf(isSimple(g))),
    g1[Seq[String]]("st_points")(g =>
      if (isEmpty(g)) null else vertices(g).map(p => print(GPoint(Some(p))))),
    g1[Seq[String]]("st_geometries")(g => componentGeoms(g).map(_.map(print)).orNull),
    g1[Seq[String]]("st_interiorrings") {
      case GPolygon(rs) => if (rs.isEmpty) null else rs.tail.map(r => print(GLineString(r)))
      case other => invalid(s"ST_InteriorRings applies to a Polygon. Input type is: ${typeName(other)}")
    },
    g1[Seq[String]]("flatten_geometry_collections")(g =>
      flattenCollections(g).map(print)),
    g1[Seq[String]]("st_envelopeaspts")(g => envelope(g) match {
      case None => null
      case Some((x0, y0, x1, y1)) =>
        Seq(print(GPoint(Some(Pt(x0, y0)))), print(GPoint(Some(Pt(x1, y1)))))
    }),
    FunctionEntry.udf("expand_envelope", udf((wkt: String, d: Double) => {
      if (wkt == null) null
      else {
        require(!d.isNaN, "expand_envelope: distance is NaN")
        require(d >= 0, s"expand_envelope: distance $d is negative")
        envelope(parse(wkt)) match {
          case None => "POLYGON EMPTY"
          case Some((x0, y0, x1, y1)) =>
            val (ex0, ey0, ex1, ey1) = (x0 - d, y0 - d, x1 + d, y1 + d)
            if (ex0 == ex1 && ey0 == ey1) print(GPoint(Some(Pt(ex0, ey0))))
            else print(GPolygon(Vector(Vector(
              Pt(ex0, ey0), Pt(ex1, ey0), Pt(ex1, ey1), Pt(ex0, ey1), Pt(ex0, ey0)))))
        }
      }
    })),
    g2[Seq[String]]("geometry_nearest_points")((a, b) =>
      nearestPoints(a, b) match {
        case Some((p, qq)) => Seq(print(GPoint(Some(p))), print(GPoint(Some(qq))))
        case None => null
      }),
    FunctionEntry.udf("st_geomfrombinary", udf((b: Array[Byte]) =>
      if (b == null) null else print(parseWkb(b)))),
    g1[String]("geometry_as_geojson")(g => if (isEmpty(g)) null else toGeoJson(g)),
    FunctionEntry.udf("geometry_from_geojson", udf((s: String) =>
      if (s == null) null else print(fromGeoJson(s)))),
    // SPHERICAL narrowing: geography values share the WKT VARCHAR carrier;
    // to_spherical_geography validates the lat/lon domain like the
    // reference (SphericalGeoFunctions.java:77-108), to_geometry is the
    // inverse cast.
    g1[String]("to_spherical_geography") { g =>
      g match {
        case _: GCollection =>
          invalid("Cannot convert geometry collection to SphericalGeography")
        case _ =>
      }
      vertices(g).foreach { p =>
        require(p.x >= -180 && p.x <= 180,
          s"Longitude must be between -180 and 180, got ${p.x}")
        require(p.y >= -90 && p.y <= 90,
          s"Latitude must be between -90 and 90, got ${p.y}")
      }
      print(g)
    },
    g1[String]("to_geometry")(print),

    rel("st_equals", geomEquals),
    rel("st_touches", touches),
    rel("st_crosses", crosses),
    rel("st_overlaps", overlaps),
    g2[String]("st_intersection")((a, b) => print(intersection(a, b))),
    g2[String]("st_union")((a, b) => print(union(a, b))),
    g2[String]("st_difference")((a, b) => print(difference(a, b))),
    g2[String]("st_symdifference")((a, b) => print(symDifference(a, b))),
    FunctionEntry.udf("st_relate", udf((a: String, b: String, pat: String) =>
      if (a == null || b == null || pat == null) null
      else relate(parse(a), parse(b), pat) match {
        case Some(v) => java.lang.Boolean.valueOf(v)
        case None    => null
      })),
    FunctionEntry.udf("geometry_to_dissolved_bing_tiles", udf((wkt: String, zoom: Int) =>
      if (wkt == null) null.asInstanceOf[Seq[String]]
      else geometryToDissolvedBingTiles(parse(wkt), zoom))),
    FunctionEntry.udf("st_buffer", udf((wkt: String, d: Double) =>
      if (wkt == null) null else print(buffer(parse(wkt), d)))),

    FunctionEntry.udf("convex_hull_agg",
      org.apache.spark.sql.functions.udaf(new ConvexHullAgg(hullEnc),
        org.apache.spark.sql.Encoders.STRING)),
    FunctionEntry.udf("geometry_union_agg",
      org.apache.spark.sql.functions.udaf(new GeometryUnionAgg(hullEnc),
        org.apache.spark.sql.Encoders.STRING)),
    FunctionEntry.udf("geometry_union", udf((wkts: Seq[String]) =>
      if (wkts == null) null else geometryUnion(wkts))),
  )
}
