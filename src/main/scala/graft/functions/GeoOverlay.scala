package graft.functions

/** Planar-arrangement overlay core for the general geometry ops the
  * round-10 narrowing deferred: areal×areal ST_Intersection / ST_Union /
  * ST_Difference / ST_SymDifference, lineal/areal ST_Buffer, the full
  * DE-9IM ST_Relate matrices, and the lineal intersection/difference
  * family (reference: presto-geospatial/.../GeoFunctions.java:283
  * stBuffer, :589 stUnion, :989 stIntersection, :1133 stRelate — the
  * reference delegates to the Esri computational-geometry core; this is
  * a clean-room implementation of the classic arrangement-overlay
  * technique from computational-geometry textbooks: split every boundary
  * segment at every mutual intersection, trace the faces of the induced
  * planar subdivision with half-edge rotation, classify one interior
  * sample per face against each operand, then read boolean results,
  * buffers and DE-9IM entries off the classified subdivision).
  *
  * Why arrangement overlay and not Greiner–Hormann clipping: G-H fails
  * on exactly the degenerate inputs analytics queries hit constantly —
  * shared edges, vertex-on-edge contact, equal rectangles. The
  * subdivision approach has no special cases: degeneracies just become
  * arrangement vertices.
  *
  * Scale note: everything here is per-row scalar work over small
  * geometry values (same execution model as every other geo scalar —
  * parallelizes like a projection). Pair-splitting is O(S²) with a
  * bounding-box prefilter and face-sampling uses a uniform grid, so a
  * buffered 100-vertex linestring (≈3.6k pieces segments) stays in the
  * low milliseconds.
  *
  * Robustness model: double arithmetic with a scale-relative tolerance
  * (1e-9·max|coord|) for identifying coincident points — the same model
  * the rest of GeoFunctions uses. ORIENTATION decisions are exact
  * (Shewchuk-filtered [[orient]]: double fast path, BigDecimal-exact
  * fallback inside the rounding-error band), so near-degenerate sign
  * classifications cannot flip with evaluation noise; coordinate
  * CONSTRUCTION (crossing points, buffers) remains double-precision
  * with tolerance clustering, which is the documented contract for
  * coincidence decisions.
  */
object GeoOverlay {
  import GeoFunctions._

  // ------------------------------------------------------------ geometry

  private def segLen(a: Pt, b: Pt): Double = Math.hypot(b.x - a.x, b.y - a.y)

  /** Orientation determinant with a Shewchuk-style floating-point
    * filter (round-12): the straight double evaluation is kept when its
    * magnitude exceeds the a-priori rounding-error bound (the A-stage of
    * Shewchuk, "Adaptive Precision Floating-Point Arithmetic and Fast
    * Robust Geometric Predicates", 1997 — public algorithm); inside the
    * uncertainty band the determinant is recomputed EXACTLY in
    * BigDecimal (doubles are exact rationals, so -,× on them are exact)
    * and the exact sign is returned. Near-degenerate inputs at
    * 1e-12-scale perturbations now classify consistently instead of
    * flipping with evaluation noise; callers use the SIGN for
    * classification and the o3/(o3-o4) ratio for crossing parameters,
    * which the tolerance-clustering point pool absorbs either way. */
  private val CcwErrBoundA = {
    val eps = Math.ulp(1.0) / 2 // 2^-53, Shewchuk's machine epsilon
    (3.0 + 16.0 * eps) * eps
  }

  private[graft] def orient(o: Pt, a: Pt, b: Pt): Double = {
    val detLeft = (a.x - o.x) * (b.y - o.y)
    val detRight = (a.y - o.y) * (b.x - o.x)
    val det = detLeft - detRight
    // opposite (or zero) term signs decide the sign outright
    val detSum =
      if (detLeft > 0) { if (detRight <= 0) return det else detLeft + detRight }
      else if (detLeft < 0) {
        if (detRight >= 0) return det else -detLeft - detRight
      } else return det
    if (det >= CcwErrBoundA * detSum || -det >= CcwErrBoundA * detSum) det
    else {
      // java.math.BigDecimal: new BigDecimal(double) is the EXACT binary
      // expansion (scala.BigDecimal(double) goes through Double.toString
      // — the shortest decimal, a DIFFERENT number near ties — and its
      // default MathContext rounds products; both would break exactness)
      def jbd(d: Double) = new java.math.BigDecimal(d)
      val exact = jbd(a.x).subtract(jbd(o.x)).multiply(jbd(b.y).subtract(jbd(o.y)))
        .subtract(jbd(a.y).subtract(jbd(o.y)).multiply(jbd(b.x).subtract(jbd(o.x))))
      if (exact.signum == 0) 0.0
      else {
        val d = exact.doubleValue
        if (d != 0.0) d else exact.signum * java.lang.Double.MIN_NORMAL
      }
    }
  }

  private def pointSegDist(p: Pt, a: Pt, b: Pt): Double = {
    val dx = b.x - a.x; val dy = b.y - a.y
    val len2 = dx * dx + dy * dy
    if (len2 == 0) return segLen(p, a)
    val t = Math.max(0.0, Math.min(1.0, ((p.x - a.x) * dx + (p.y - a.y) * dy) / len2))
    Math.hypot(p.x - (a.x + t * dx), p.y - (a.y + t * dy))
  }

  private def onSegmentTol(p: Pt, a: Pt, b: Pt, eps: Double): Boolean =
    pointSegDist(p, a, b) <= eps

  /** All points where segment (p1,p2) must be split because of (q1,q2):
    * the proper-crossing point, plus any endpoint of one lying on the
    * other (which also covers collinear overlap — overlap endpoints are
    * always segment endpoints of one side). */
  private def splitPoints(
      p1: Pt, p2: Pt, q1: Pt, q2: Pt, eps: Double): Vector[Pt] = {
    // bbox prefilter
    if (Math.min(p1.x, p2.x) > Math.max(q1.x, q2.x) + eps ||
        Math.min(q1.x, q2.x) > Math.max(p1.x, p2.x) + eps ||
        Math.min(p1.y, p2.y) > Math.max(q1.y, q2.y) + eps ||
        Math.min(q1.y, q2.y) > Math.max(p1.y, p2.y) + eps) return Vector.empty
    val out = Vector.newBuilder[Pt]
    val o1 = orient(p1, p2, q1); val o2 = orient(p1, p2, q2)
    val o3 = orient(q1, q2, p1); val o4 = orient(q1, q2, p2)
    if (o1 * o2 < 0 && o3 * o4 < 0) {
      // proper crossing: solve p1 + t (p2-p1) on line q
      val t = o3 / (o3 - o4)
      out += Pt(p1.x + t * (p2.x - p1.x), p1.y + t * (p2.y - p1.y))
    }
    if (onSegmentTol(q1, p1, p2, eps)) out += q1
    if (onSegmentTol(q2, p1, p2, eps)) out += q2
    if (onSegmentTol(p1, q1, q2, eps)) out += p1
    if (onSegmentTol(p2, q1, q2, eps)) out += p2
    out.result()
  }

  // --------------------------------------------------- point canonicalizer

  /** Tolerance-clustering point pool: points within eps collapse to one
    * representative (first registered wins; registration order is the
    * deterministic build order). Grid-hashed so lookups check only the
    * 3×3 neighborhood. */
  private final class PointPool(eps: Double) {
    private val cell = eps * 4
    private val byCell = scala.collection.mutable.HashMap
      .empty[(Long, Long), List[Int]]
    val pts = scala.collection.mutable.ArrayBuffer.empty[Pt]
    private def key(p: Pt): (Long, Long) =
      (Math.floor(p.x / cell).toLong, Math.floor(p.y / cell).toLong)
    def id(p: Pt): Int = {
      val (kx, ky) = key(p)
      var dx = -1
      while (dx <= 1) {
        var dy = -1
        while (dy <= 1) {
          byCell.getOrElse((kx + dx, ky + dy), Nil).foreach { i =>
            if (Math.hypot(pts(i).x - p.x, pts(i).y - p.y) <= eps) return i
          }
          dy += 1
        }
        dx += 1
      }
      val i = pts.length
      pts += p
      byCell((kx, ky)) = i :: byCell.getOrElse((kx, ky), Nil)
      i
    }
  }

  // ------------------------------------------------------------ arrangement

  /** The planar subdivision of a set of tagged segment lists.
    *
    * Half-edge h over undirected edge e = h >> 1: direction 0 is
    * tail=u head=v, direction 1 the reverse. cycleOf(h) identifies the
    * traced face cycle with the face's interior on the LEFT of h. */
  final class Arrangement(operandSegs: Vector[Vector[(Pt, Pt)]]) {
    val eps: Double = {
      val m = operandSegs.iterator.flatten
        .flatMap { case (a, b) => Iterator(a, b) }
        .foldLeft(1.0)((acc, p) =>
          math.max(acc, math.max(math.abs(p.x), math.abs(p.y))))
      1e-9 * m
    }

    private val pool = new PointPool(eps)

    // edge id -> (u, v) vertex ids; operand tag sets
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val edgeTags = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.BitSet]
    private val edgeIdByPair = scala.collection.mutable.HashMap.empty[(Int, Int), Int]

    locally {
      val all = operandSegs.zipWithIndex.flatMap { case (segs, tag) =>
        segs.filter { case (a, b) => segLen(a, b) > eps }.map(s => (s, tag))
      }
      val n = all.length
      // per-segment split points (bbox-prefiltered pair scan)
      val splits = Array.fill(n)(Vector.newBuilder[Pt])
      var i = 0
      while (i < n) {
        val (si, _) = all(i)
        var j = i + 1
        while (j < n) {
          val (sj, _) = all(j)
          val ps = splitPoints(si._1, si._2, sj._1, sj._2, eps)
          if (ps.nonEmpty) { splits(i) ++= ps; splits(j) ++= ps }
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < n) {
        val ((a, b), tag) = all(i)
        val dx = b.x - a.x; val dy = b.y - a.y
        val len2 = dx * dx + dy * dy
        def t(p: Pt): Double = ((p.x - a.x) * dx + (p.y - a.y) * dy) / len2
        val cut = ((a +: splits(i).result()) :+ b)
          .map(p => (t(p), pool.id(p)))
          .filter { case (tt, _) => tt >= -1e-12 && tt <= 1 + 1e-12 }
          .sortBy(_._1)
        var k = 0
        while (k < cut.length - 1) {
          val u = cut(k)._2; val v = cut(k + 1)._2
          if (u != v) {
            val pair = (math.min(u, v), math.max(u, v))
            edgeIdByPair.get(pair) match {
              case Some(e) => edgeTags(e) += tag
              case None =>
                edgeIdByPair(pair) = edges.length
                edges += pair
                edgeTags += scala.collection.mutable.BitSet(tag)
            }
          }
          k += 1
        }
        i += 1
      }
    }

    val pts: Vector[Pt] = pool.pts.toVector

    def tail(h: Int): Int = if ((h & 1) == 0) edges(h >> 1)._1 else edges(h >> 1)._2
    def head(h: Int): Int = if ((h & 1) == 0) edges(h >> 1)._2 else edges(h >> 1)._1
    def twin(h: Int): Int = h ^ 1

    /** outgoing half-edges per vertex, CCW-sorted by angle. */
    private val outgoing: Map[Int, Vector[Int]] = {
      val m = scala.collection.mutable.HashMap.empty[Int, List[Int]]
      var h = 0
      while (h < 2 * edges.length) {
        m(tail(h)) = h :: m.getOrElse(tail(h), Nil)
        h += 1
      }
      m.view.mapValues(_.toVector.sortBy { hh =>
        val t = pts(tail(hh)); val d = pts(head(hh))
        Math.atan2(d.y - t.y, d.x - t.x)
      }).toMap
    }

    /** Face-left successor: rotate CLOCKWISE from the twin around the
      * head vertex (the standard next-in-face rule that traces every
      * face with its interior on the left of each half-edge). */
    def next(h: Int): Int = {
      val v = head(h)
      val out = outgoing(v)
      val idx = out.indexOf(twin(h))
      out((idx - 1 + out.length) % out.length)
    }

    val (cycleOf: Array[Int], cycles: Vector[Vector[Int]]) = {
      val cof = Array.fill(2 * edges.length)(-1)
      val cyc = Vector.newBuilder[Vector[Int]]
      var cid = 0
      var h0 = 0
      while (h0 < 2 * edges.length) {
        if (cof(h0) == -1) {
          val ring = Vector.newBuilder[Int]
          var h = h0
          while (cof(h) == -1) {
            cof(h) = cid
            ring += h
            h = next(h)
          }
          cyc += ring.result()
          cid += 1
        }
        h0 += 1
      }
      (cof, cyc.result())
    }

    /** Shoelace area of a cycle (positive = region-on-left is bounded
      * by it from outside, i.e. a CCW outer boundary). */
    val cycleArea: Vector[Double] = cycles.map { ring =>
      var a = 0.0
      ring.foreach { h =>
        val t = pts(tail(h)); val d = pts(head(h))
        a += t.x * d.y - d.x * t.y
      }
      a / 2
    }

    // Uniform grid over edges for clearance queries.
    private val gridCell: Double = {
      val lens = edges.map { case (u, v) => segLen(pts(u), pts(v)) }
      math.max(eps * 16, if (lens.isEmpty) 1.0 else lens.max)
    }
    private val edgeGrid: Map[(Long, Long), Vector[Int]] = {
      val m = scala.collection.mutable.HashMap.empty[(Long, Long), List[Int]]
      var e = 0
      while (e < edges.length) {
        val (u, v) = edges(e)
        val x0 = Math.floor(math.min(pts(u).x, pts(v).x) / gridCell).toLong
        val x1 = Math.floor(math.max(pts(u).x, pts(v).x) / gridCell).toLong
        val y0 = Math.floor(math.min(pts(u).y, pts(v).y) / gridCell).toLong
        val y1 = Math.floor(math.max(pts(u).y, pts(v).y) / gridCell).toLong
        var cx = x0
        while (cx <= x1) {
          var cy = y0
          while (cy <= y1) { m((cx, cy)) = e :: m.getOrElse((cx, cy), Nil); cy += 1 }
          cx += 1
        }
        e += 1
      }
      m.view.mapValues(_.toVector).toMap
    }

    /** Distance from p to the nearest edge other than `exceptEdge`,
      * searched outward ring by ring over the grid, capped at `cap`. */
    private def clearance(p: Pt, exceptEdge: Int, cap: Double): Double = {
      var best = cap
      val cx = Math.floor(p.x / gridCell).toLong
      val cy = Math.floor(p.y / gridCell).toLong
      var r = 0L
      val maxR = Math.ceil(cap / gridCell).toLong + 1
      var continue = true
      while (continue && r <= maxR) {
        var found = false
        var dx = -r
        while (dx <= r) {
          var dy = -r
          while (dy <= r) {
            if (math.abs(dx) == r || math.abs(dy) == r) {
              edgeGrid.getOrElse((cx + dx, cy + dy), Vector.empty).foreach { e =>
                if (e != exceptEdge) {
                  val (u, v) = edges(e)
                  val d = pointSegDist(p, pts(u), pts(v))
                  if (d < best) { best = d; found = true }
                }
              }
            }
            dy += 1
          }
          dx += 1
        }
        // once a ring produced no improvement beyond the already-safe
        // radius, farther rings cannot either
        if (!found && best <= (r - 1).max(0) * gridCell) continue = false
        r += 1
      }
      best
    }

    /** One strictly-interior sample point of the face to the LEFT of
      * each cycle: midpoint of the cycle's longest edge, offset by half
      * the local clearance (so the sample provably stays inside the
      * face adjacent to that edge). */
    val faceSample: Vector[Pt] = cycles.zipWithIndex.map { case (ring, _) =>
      val h = ring.maxBy(hh => segLen(pts(tail(hh)), pts(head(hh))))
      val t = pts(tail(h)); val d = pts(head(h))
      val len = segLen(t, d)
      val m = Pt((t.x + d.x) / 2, (t.y + d.y) / 2)
      val nx = -(d.y - t.y) / len; val ny = (d.x - t.x) / len
      val c = clearance(m, h >> 1, len / 2)
      val delta = math.max(eps, math.min(len / 4, c / 2))
      Pt(m.x + nx * delta, m.y + ny * delta)
    }

    /** Midpoint of an undirected edge. */
    def edgeMid(e: Int): Pt = {
      val (u, v) = edges(e)
      Pt((pts(u).x + pts(v).x) / 2, (pts(u).y + pts(v).y) / 2)
    }
  }

  // -------------------------------------------------- operand classification

  /** 2 = interior, 1 = boundary, 0 = exterior, with the arrangement's
    * tolerance for boundary detection (intersection points carry float
    * error, so exact-zero tests would misclassify them). */
  private def cls(p: Pt, g: Geom, eps: Double): Int = {
    val parts = arealParts(g)
    if (parts.nonEmpty) {
      // boundary first (tolerant), then even-odd over ALL rings
      val segs = segments(g)
      if (segs.exists { case (a, b) => onSegmentTol(p, a, b, eps) }) 1
      else {
        val rings = parts.flatten
        if (locateInRings(p, rings) == 2) 2 else 0
      }
    } else g match {
      case _: GLineString | _: GMultiLineString | _: GCollection =>
        val segs = segments(g)
        if (!segs.exists { case (a, b) => onSegmentTol(p, a, b, eps) }) {
          if (vertices(g).exists(q => Math.hypot(q.x - p.x, q.y - p.y) <= eps)) 2 else 0
        } else if (linealBoundaryPts(g).exists(q =>
            Math.hypot(q.x - p.x, q.y - p.y) <= eps)) 1
        else 2
      case _ => // punctual: boundary empty, interior = the points
        if (vertices(g).exists(q => Math.hypot(q.x - p.x, q.y - p.y) <= eps)) 2 else 0
    }
  }

  /** OGC mod-2 boundary of a lineal geometry: endpoints that appear an
    * odd number of times across component endpoints (a closed component
    * contributes none). */
  private def linealBoundaryPts(g: Geom): Vector[Pt] = {
    def comps(g: Geom): Vector[Vector[Pt]] = g match {
      case GLineString(ps)      => Vector(ps)
      case GMultiLineString(ls) => ls
      case GCollection(gs)      => gs.flatMap(comps)
      case _                    => Vector.empty
    }
    val ends = comps(g).filter(ps => ps.length >= 2 && ps.head != ps.last)
      .flatMap(ps => Vector(ps.head, ps.last))
    ends.groupBy(identity).collect { case (p, occ) if occ.size % 2 == 1 => p }.toVector
  }

  private def inOperand(p: Pt, g: Geom, eps: Double): Boolean = cls(p, g, eps) == 2

  // ----------------------------------------------------------- boolean ops

  private def ringSegs(g: Geom): Vector[(Pt, Pt)] =
    arealParts(g).flatten.flatMap(r => r.zip(r.tail))

  /** Normalize a closed output ring: start at the lexicographically
    * smallest vertex (deterministic WKT across runs). */
  private def normalizeRing(ring: Vector[Pt]): Vector[Pt] = {
    val open = ring.dropRight(1)
    val minIdx = open.indices.minBy(i => (open(i).x, open(i).y))
    val rot = open.drop(minIdx) ++ open.take(minIdx)
    rot :+ rot.head
  }

  /** N-ary areal overlay: the region { p : select(membership vector) }.
    * Faces of the joint arrangement are classified against every operand
    * once; the selected region's oriented boundary is traced out of the
    * half-edge structure and assembled into shells + holes. */
  def overlayAreal(operands: Vector[Geom],
                   select: Vector[Boolean] => Boolean): Geom = {
    val arr = new Arrangement(operands.map(ringSegs))
    if (arr.edges.isEmpty) return GPolygon(Vector.empty)
    val sel: Vector[Boolean] = arr.cycles.indices.toVector.map { c =>
      select(operands.map(g => inOperand(arr.faceSample(c), g, arr.eps)))
    }
    assembleRegion(arr, sel)
  }

  /** Trace the boundary of the union of selected faces and assemble
    * polygons. Directed boundary half-edges keep the region on the
    * left; at a pinch vertex the walk takes the first boundary edge
    * rotating clockwise from the reversed incoming direction, which
    * keeps rings simple. */
  private def assembleRegion(arr: Arrangement, sel: Vector[Boolean]): Geom = {
    val nH = 2 * arr.edges.length
    val isBoundary = Array.tabulate(nH)(h =>
      sel(arr.cycleOf(h)) && !sel(arr.cycleOf(arr.twin(h))))
    val used = Array.fill(nH)(false)
    val rings = Vector.newBuilder[Vector[Pt]]
    var h0 = 0
    while (h0 < nH) {
      if (isBoundary(h0) && !used(h0)) {
        val ring = Vector.newBuilder[Pt]
        var h = h0
        var guard = 0
        do {
          used(h) = true
          ring += arr.pts(arr.tail(h))
          // successor: first boundary edge rotating CW from twin(h)
          var cand = arr.next(h)
          var spin = 0
          while (!isBoundary(cand) && spin < nH) {
            // keep rotating CW around head(h): next(h) of the current
            // candidate's twin walks the fan around the same vertex
            cand = arr.next(arr.twin(cand))
            spin += 1
          }
          require(isBoundary(cand),
            "overlay: boundary trace lost its successor (degenerate input beyond tolerance)")
          h = cand
          guard += 1
          require(guard <= nH, "overlay: boundary trace did not close")
        } while (h != h0)
        val r = ring.result()
        rings += normalizeRing(r :+ r.head)
      }
      h0 += 1
    }
    val all = rings.result()
    val shells = all.filter(r => signedArea(r) > 0)
    val holes = all.filter(r => signedArea(r) < 0)
    if (shells.isEmpty) GPolygon(Vector.empty)
    else {
      // assign each hole to the smallest shell containing it
      val withHoles = shells.map(s => (s, Vector.newBuilder[Vector[Pt]]))
      holes.foreach { hole =>
        val rep = {
          // midpoint of the hole's longest edge is on the hole ring,
          // hence inside-or-on every shell that owns it
          val segs = hole.zip(hole.tail)
          val (a, b) = segs.maxBy { case (a, b) => segLen(a, b) }
          Pt((a.x + b.x) / 2, (a.y + b.y) / 2)
        }
        val owners = withHoles.filter { case (s, _) =>
          locateInRings(rep, Vector(s)) >= 1 &&
            Math.abs(signedArea(s)) >= Math.abs(signedArea(hole))
        }
        require(owners.nonEmpty, "overlay: hole ring has no containing shell")
        owners.minBy { case (s, _) => Math.abs(signedArea(s)) }._2 += hole
      }
      val polys = withHoles.map { case (s, hs) => s +: hs.result() }
      if (polys.length == 1) GPolygon(polys.head) else GMultiPolygon(polys)
    }
  }

  /** OGC point-set intersection of two areal operands: selected faces
    * plus any lower-dimensional linework/points of A∩B not already part
    * of a selected face (two rectangles sharing only an edge intersect
    * in a LINESTRING; sharing a corner, in a POINT). */
  def intersectionAreal(a: Geom, b: Geom): Geom = {
    val arr = new Arrangement(Vector(ringSegs(a), ringSegs(b)))
    if (arr.edges.isEmpty) return GPolygon(Vector.empty)
    val sel: Vector[Boolean] = arr.cycles.indices.toVector.map { c =>
      inOperand(arr.faceSample(c), a, arr.eps) &&
        inOperand(arr.faceSample(c), b, arr.eps)
    }
    val polyPart = assembleRegion(arr, sel)
    // lower-dim leftovers: edges bordered by NO selected face whose
    // midpoint is in both closed sets
    val keptEdges = (0 until arr.edges.length).filter { e =>
      !sel(arr.cycleOf(2 * e)) && !sel(arr.cycleOf(2 * e + 1)) && {
        val m = arr.edgeMid(e)
        cls(m, a, arr.eps) >= 1 && cls(m, b, arr.eps) >= 1
      }
    }.toVector
    val lines = chainEdges(arr, keptEdges)
    // isolated touch points: vertices in both closed sets, not on any
    // kept edge and not on any selected face's boundary
    val usedVerts = keptEdges.flatMap(e => Vector(arr.edges(e)._1, arr.edges(e)._2)).toSet ++
      (0 until 2 * arr.edges.length).filter(h => sel(arr.cycleOf(h)))
        .flatMap(h => Vector(arr.tail(h), arr.head(h)))
    val touchPts = arr.pts.indices.filter { v =>
      !usedVerts.contains(v) && {
        val p = arr.pts(v)
        cls(p, a, arr.eps) >= 1 && cls(p, b, arr.eps) >= 1
      }
    }.map(arr.pts).toVector
    compose(polyPart, lines, touchPts)
  }

  /** Merge undirected edges into maximal linestrings (chained at
    * degree-2 vertices). */
  private def chainEdges(arr: Arrangement, es: Vector[Int]): Vector[Vector[Pt]] = {
    if (es.isEmpty) return Vector.empty
    val adj = scala.collection.mutable.HashMap.empty[Int, List[Int]]
    es.foreach { e =>
      val (u, v) = arr.edges(e)
      adj(u) = e :: adj.getOrElse(u, Nil)
      adj(v) = e :: adj.getOrElse(v, Nil)
    }
    val usedE = scala.collection.mutable.Set.empty[Int]
    val out = Vector.newBuilder[Vector[Pt]]
    // start chains at non-degree-2 vertices first, then cycles
    def walk(startV: Int, startE: Int): Vector[Int] = {
      var path = List(startV)
      var v = startV; var e = startE
      var continue = true
      while (continue) {
        usedE += e
        val (a, b) = arr.edges(e)
        val w = if (a == v) b else a
        path = w :: path
        val nextEs = adj(w).filterNot(usedE.contains)
        if (adj(w).size == 2 && nextEs.size == 1) { v = w; e = nextEs.head }
        else continue = false
      }
      // canonical orientation: lex-smaller endpoint first (deterministic
      // WKT regardless of pool registration order)
      val fwd = path.reverse.toVector
      val (h0, t0) = (arr.pts(fwd.head), arr.pts(fwd.last))
      val revFirst = t0.x < h0.x || (t0.x == h0.x && t0.y < h0.y)
      if (revFirst) fwd.reverse else fwd
    }
    val startVerts = adj.keys.toVector.sorted
    startVerts.filter(v => adj(v).size != 2).foreach { v =>
      adj(v).filterNot(usedE.contains).foreach { e =>
        if (!usedE.contains(e)) out += walk(v, e).map(arr.pts)
      }
    }
    // leftover closed chains
    startVerts.foreach { v =>
      adj(v).filterNot(usedE.contains).foreach { e =>
        if (!usedE.contains(e)) out += walk(v, e).map(arr.pts)
      }
    }
    out.result()
  }

  /** Compose a mixed-dimension result the way the reference's OGC ops
    * do: a single part collapses to its own type; mixed parts become a
    * GEOMETRYCOLLECTION ordered areal, lineal, punctual. */
  private def compose(poly: Geom, lines: Vector[Vector[Pt]], pts: Vector[Pt]): Geom = {
    val lineG: Option[Geom] =
      if (lines.isEmpty) None
      else if (lines.length == 1) Some(GLineString(lines.head))
      else Some(GMultiLineString(lines))
    val ptG: Option[Geom] =
      if (pts.isEmpty) None
      else if (pts.length == 1) Some(GPoint(Some(pts.head)))
      else Some(GMultiPoint(pts.sortBy(p => (p.x, p.y))))
    val parts = (if (isEmpty(poly)) Vector.empty else Vector(poly)) ++
      lineG.toVector ++ ptG.toVector
    parts.length match {
      case 0 => GPolygon(Vector.empty)
      case 1 => parts.head
      case _ => GCollection(parts)
    }
  }

  // ---------------------------------------------------------- lineal ops

  /** Lineal overlay: keep the sub-segments of operand `fromTag` whose
    * midpoint classification against the OTHER operand passes `keep`
    * (cls: 2 interior / 1 boundary / 0 exterior). */
  private def linealParts(a: Geom, other: Geom, keep: Int => Boolean): (Arrangement, Vector[Int]) = {
    val arr = new Arrangement(Vector(segments(a), segments(other)))
    val kept = (0 until arr.edges.length).filter { e =>
      arr.edgeTags(e).contains(0) && keep(cls(arr.edgeMid(e), other, arr.eps))
    }.toVector
    (arr, kept)
  }

  /** Intersection with a lineal left operand (reference stIntersection
    * over line×line / line×polygon): shared or contained linework plus
    * isolated crossing points. */
  def intersectionLineal(a: Geom, b: Geom): Geom = {
    val (arr, kept) = linealParts(a, b, _ >= 1)
    val lines = chainEdges(arr, kept)
    val usedVerts = kept.flatMap(e => Vector(arr.edges(e)._1, arr.edges(e)._2)).toSet
    val touch = arr.pts.indices.filter { v =>
      !usedVerts.contains(v) && {
        val p = arr.pts(v)
        cls(p, a, arr.eps) >= 1 && cls(p, b, arr.eps) >= 1
      }
    }.map(arr.pts).toVector
    if (lines.isEmpty && touch.isEmpty) GLineString(Vector.empty)
    else compose(GPolygon(Vector.empty), lines, touch)
  }

  /** Difference with a lineal left operand: the parts of `a` strictly
    * outside `b` (removing a measure-zero crossing keeps the line). */
  def differenceLineal(a: Geom, b: Geom): Geom = {
    val keep: Int => Boolean =
      if (arealParts(b).nonEmpty) c => c == 0 // clipped out of closed areal
      else c => c != 2                        // lineal b removes only shared 1D parts
    val (arr, kept) = linealParts(a, b, keep)
    val lines = chainEdges(arr, kept)
    if (lines.isEmpty) GLineString(Vector.empty)
    else if (lines.length == 1) GLineString(lines.head)
    else GMultiLineString(lines)
  }

  /** Union with at least one lineal side: the areal part absorbs
    * covered linework; uncovered linework rides along in a collection.
    *
    * This absorb IS the reference's observable output shape: stUnion
    * unions per dimension (the Esri geometry-api issue #199 workaround,
    * presto-geospatial/.../GeoFunctions.java:603-648) but then passes the
    * combined collection through `flattenAndRemoveOverlaps()`, which
    * REMOVES lower-dimension parts covered by higher ones — the
    * reference's own expectation pins it
    * (presto-geospatial/.../TestGeoFunctions.java:987: the lineal union
    * LINESTRING (1 1, 4 1), partially covered by the unioned polygon's
    * boundary and interior, survives only as LINESTRING (3 1, 4 1)).
    * Boundary-covered linework is absorbed exactly like
    * interior-covered linework, per that same case. */
  def unionMixed(a: Geom, b: Geom): Geom = {
    val (areals, lineals) = Vector(a, b).partition(g => arealParts(g).nonEmpty)
    val arealPart: Option[Geom] =
      if (areals.isEmpty) None
      else if (areals.length == 1) Some(areals.head)
      else Some(overlayAreal(areals, m => m(0) || m(1)))
    val lineSegs = lineals.flatMap(segments)
    if (lineSegs.isEmpty) return arealPart.getOrElse(GPolygon(Vector.empty))
    val arr = new Arrangement(Vector(lineSegs, arealPart.map(ringSegs).getOrElse(Vector.empty)))
    val kept = (0 until arr.edges.length).filter { e =>
      arr.edgeTags(e).contains(0) &&
        arealPart.forall(g => cls(arr.edgeMid(e), g, arr.eps) == 0)
    }.toVector
    val lines = chainEdges(arr, kept)
    (arealPart, lines) match {
      case (None, ls) if ls.isEmpty     => GLineString(Vector.empty)
      case (None, ls) if ls.length == 1 => GLineString(ls.head)
      case (None, ls)                   => GMultiLineString(ls)
      case (Some(p), ls) if ls.isEmpty  => p
      case (Some(p), ls) =>
        GCollection(Vector(p,
          if (ls.length == 1) GLineString(ls.head) else GMultiLineString(ls)))
    }
  }

  // ------------------------------------------------------------- DE-9IM

  /** Full DE-9IM matrix for lineal/areal × lineal/areal pairs off the
    * joint arrangement: faces witness dimension-2 cells, split sub-
    * segment midpoints dimension 1, arrangement vertices dimension 0 —
    * after splitting at every mutual intersection each witness class is
    * constant over its open cell, so the maximum over witnesses is the
    * cell's true dimension. */
  def de9imFull(a: Geom, b: Geom): String = {
    val arr = new Arrangement(Vector(segments(a), segments(b)))
    // dims: rows I/B/E of a (cls 2/1/0), cols same for b
    val dim = Array.fill(3, 3)(-1)
    def mark(ca: Int, cb: Int, d: Int): Unit = {
      val i = 2 - ca; val j = 2 - cb // cls 2→row 0 (interior), 1→1, 0→2
      if (d > dim(i)(j)) dim(i)(j) = d
    }
    // 2D witnesses: one sample per face (cycle) + a far-outside sample
    arr.cycles.indices.foreach { c =>
      val p = arr.faceSample(c)
      mark(cls(p, a, arr.eps), cls(p, b, arr.eps), 2)
    }
    val far = {
      val m = (vertices(a) ++ vertices(b))
        .foldLeft(1.0)((acc, p) => math.max(acc, math.max(math.abs(p.x), math.abs(p.y))))
      Pt(2 * m + 1, 2 * m + 1)
    }
    mark(cls(far, a, arr.eps), cls(far, b, arr.eps), 2)
    // 1D witnesses: split sub-segment midpoints
    (0 until arr.edges.length).foreach { e =>
      val p = arr.edgeMid(e)
      mark(cls(p, a, arr.eps), cls(p, b, arr.eps), 1)
    }
    // 0D witnesses: arrangement vertices
    arr.pts.foreach(p => mark(cls(p, a, arr.eps), cls(p, b, arr.eps), 0))
    (for (i <- 0 until 3; j <- 0 until 3) yield dim(i)(j) match {
      case -1 => 'F'
      case d  => ('0' + d).toChar
    }).mkString
  }

  // -------------------------------------------------------------- buffer

  private def disk(c: Pt, r: Double, segments: Int): Vector[Pt] = {
    val ring = (0 until segments).map { i =>
      val a = 2 * Math.PI * i / segments
      Pt(c.x + r * Math.cos(a), c.y + r * Math.sin(a))
    }.toVector
    ring :+ ring.head
  }

  /** Minkowski-sum buffer of a lineal or areal geometry: union of the
    * geometry (areal case), one rectangle per segment, and one
    * `segments`-gon disk per vertex — assembled in a single N-ary
    * overlay. Same arc-densification divergence as the point buffer
    * (documented there): only the buffer's properties are comparable to
    * the reference's Esri densification, not the exact vertex set. */
  def bufferGeneral(g: Geom, d: Double, segs: Int = 32): Geom = {
    val pieces = Vector.newBuilder[Geom]
    arealParts(g).foreach(rings => pieces += GPolygon(rings))
    segments(g).foreach { case (a, b) =>
      val len = segLen(a, b)
      if (len > 0) {
        val nx = -(b.y - a.y) / len * d; val ny = (b.x - a.x) / len * d
        pieces += GPolygon(Vector(Vector(
          Pt(a.x + nx, a.y + ny), Pt(b.x + nx, b.y + ny),
          Pt(b.x - nx, b.y - ny), Pt(a.x - nx, a.y - ny),
          Pt(a.x + nx, a.y + ny))))
      }
    }
    vertices(g).foreach(p => pieces += GPolygon(Vector(disk(p, d, segs))))
    val ps = pieces.result()
    if (ps.isEmpty) GPolygon(Vector.empty)
    else overlayAreal(ps, m => m.exists(identity))
  }
}
