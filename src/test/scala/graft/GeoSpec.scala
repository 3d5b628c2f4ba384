package graft

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the geometry core (reference semantics:
  * presto-geospatial/.../GeoFunctions.java) — parser/printer round trips,
  * exact boundary classification, measures, hull, simplification, Bing
  * tiles, spherical distance — plus SQL-level checks through the
  * registered functions and the grid spatial joins.
  */
class GeoSpec extends AnyFunSuite {

  private def p(wkt: String): Geom = GeoFunctions.parse(wkt)

  test("WKT round trips canonically") {
    val cases = Seq(
      "POINT (1 2)",
      "POINT (-1.5 2.25)",
      "POINT EMPTY",
      "MULTIPOINT (1 2, 3 4)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
      "GEOMETRYCOLLECTION EMPTY")
    for (w <- cases) assert(GeoFunctions.print(p(w)) === w, w)
  }

  test("WKT parser tolerates whitespace, case, unclosed rings, nested multipoint parens") {
    assert(GeoFunctions.print(p("point( 3  4 )")) === "POINT (3 4)")
    assert(GeoFunctions.print(p("MULTIPOINT ((1 2), (3 4))")) === "MULTIPOINT (1 2, 3 4)")
    // an unclosed ring closes on parse (the reference's reader does the same)
    assert(GeoFunctions.print(p("POLYGON ((0 0, 4 0, 4 4, 0 4))")) ===
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    intercept[IllegalArgumentException](p("POINT (1)"))
    intercept[IllegalArgumentException](p("TRIANGLE (0 0, 1 1, 2 2)"))
    intercept[IllegalArgumentException](p("POINT (1 2) extra"))
  }

  test("area: shoelace with holes; length; centroid") {
    assert(area(p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")) === 100.0)
    assert(area(p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")) === 96.0)
    assert(area(p("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))")) === 5.0)
    assert(area(p("LINESTRING (0 0, 5 5)")) === 0.0)
    assert(length(p("LINESTRING (0 0, 3 4, 3 10)")) === 11.0)
    intercept[IllegalArgumentException](length(p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")))
    assert(centroid(p("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")) === Some(Pt(2.0, 1.0)))
    assert(centroid(p("MULTIPOINT (0 0, 2 0, 2 2, 0 2)")) === Some(Pt(1.0, 1.0)))
    assert(centroid(p("LINESTRING (0 0, 0 4)")) === Some(Pt(0.0, 2.0)))
  }

  test("contains: interior true, boundary false, hole excluded; intersects keeps closure") {
    val square = p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    def pt(x: Double, y: Double) = GPoint(Some(Pt(x, y)))
    assert(contains(square, pt(5, 5)) === Some(true))
    assert(contains(square, pt(10, 5)) === Some(false)) // on boundary: NOT contained
    assert(contains(square, pt(11, 5)) === Some(false))
    assert(intersects(square, pt(10, 5)) === Some(true)) // boundary IS intersecting
    val holey = p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(contains(holey, pt(5, 5)) === Some(false)) // inside the hole
    assert(contains(holey, pt(2, 2)) === Some(true))
    // multipoint: all in closure, at least one interior
    assert(contains(square, p("MULTIPOINT (5 5, 10 5)")) === Some(true))
    assert(contains(square, p("MULTIPOINT (10 5, 0 5)")) === Some(false)) // all boundary
    assert(contains(square, p("MULTIPOINT (5 5, 11 5)")) === Some(false))
    intercept[IllegalArgumentException](contains(p("LINESTRING (0 0, 1 1)"), pt(0, 0)))
  }

  test("distance: point/segment/polygon combinations") {
    val square = p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert(distance(p("POINT (13 14)"), p("POINT (10 10)")) === Some(5.0))
    assert(distance(square, p("POINT (5 5)")) === Some(0.0)) // interior
    assert(distance(square, p("POINT (13 14)")) === Some(5.0)) // to the corner
    assert(distance(square, p("POINT (15 5)")) === Some(5.0)) // to the edge
    assert(distance(p("LINESTRING (0 0, 10 0)"), p("LINESTRING (5 3, 5 13)")) === Some(3.0))
    assert(distance(p("LINESTRING (0 0, 10 10)"), p("LINESTRING (0 10, 10 0)")) === Some(0.0))
    // polygon fully inside polygon (no edge crossings) is distance 0
    assert(distance(square, p("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")) === Some(0.0))
    assert(distance(p("POINT EMPTY"), p("POINT (1 1)")) === None)
  }

  test("convex hull, simplify, line locate/interpolate") {
    assert(GeoFunctions.print(convexHull(p("MULTIPOINT (0 0, 4 0, 4 4, 0 4, 2 2, 1 3)"))) ===
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert(GeoFunctions.print(convexHull(p("MULTIPOINT (0 0, 1 1, 2 2)"))) ===
      "LINESTRING (0 0, 2 2)")
    assert(GeoFunctions.print(simplify(p("LINESTRING (0 0, 1 0.01, 2 0, 3 2, 4 0)"), 0.1)) ===
      "LINESTRING (0 0, 2 0, 3 2, 4 0)")
    assert(lineLocatePoint(p("LINESTRING (0 0, 10 0)"), p("POINT (3 5)")) === Some(0.3))
    assert(GeoFunctions.print(lineInterpolatePoint(p("LINESTRING (0 0, 10 0)"), 0.25)) ===
      "POINT (2.5 0)")
    intercept[IllegalArgumentException](lineInterpolatePoint(p("LINESTRING (0 0, 10 0)"), 1.5))
  }

  test("validity: self-intersection and degenerate rings are invalid") {
    assert(invalidReason(p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")) === None)
    // bow-tie
    assert(invalidReason(p("POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))")).isDefined)
    assert(invalidReason(p("POLYGON ((0 0, 5 0, 10 0, 0 0))")).isDefined) // zero area
  }

  test("bing tiles: quadkey round trip, containment, envelope") {
    assert(tileToQuadKey(3, 5, 3) === "213")
    assert(quadKeyToTile("213") === ((3, 5, 3)))
    assert(tileToQuadKey(0, 0, 1) === "0")
    intercept[IllegalArgumentException](tileToQuadKey(8, 0, 3)) // x out of range
    intercept[IllegalArgumentException](quadKeyToTile("0142")) // bad digit
    // a point maps into the tile whose polygon contains it
    val (tx, ty) = latLonToTile(47.6, -122.3, 10)
    val tile = tileToQuadKey(tx, ty, 10)
    val poly = GeoFunctions.parse(tilePolygon(tile))
    assert(contains(poly, GPoint(Some(Pt(-122.3, 47.6)))) === Some(true))
    // zoom-0 tile covers the whole clipped world
    assert(tilePolygon("").startsWith("POLYGON ((-180"))
  }

  test("geometry_to_bing_tiles covers exactly the intersecting tiles") {
    // a point yields its single containing tile
    val ptTiles = geometryToBingTiles(p("POINT (-122.3 47.6)"), 10)
    val (tx, ty) = latLonToTile(47.6, -122.3, 10)
    assert(ptTiles === Seq(tileToQuadKey(tx, ty, 10)))
    // a diagonal line across several tiles keeps only the touched ones:
    // its envelope square at this zoom is larger than the tile set hit
    val lineTiles = geometryToBingTiles(p("LINESTRING (0.1 0.1, 10 10)"), 6)
    val boxTiles = geometryToBingTiles(p("POLYGON ((0.1 0.1, 10 0.1, 10 10, 0.1 10, 0.1 0.1))"), 6)
    assert(lineTiles.nonEmpty && boxTiles.nonEmpty)
    assert(lineTiles.toSet.subsetOf(boxTiles.toSet))
    assert(lineTiles.size < boxTiles.size, s"diagonal must prune: $lineTiles vs $boxTiles")
    // every returned tile really intersects the line
    for (t <- lineTiles)
      assert(intersects(GeoFunctions.parse(tilePolygon(t)), p("LINESTRING (0.1 0.1, 10 10)")) === Some(true))
    intercept[IllegalArgumentException](
      geometryToBingTiles(p("POLYGON ((-179 -60, 179 -60, 179 60, -179 60, -179 -60))"), 15))
  }

  test("great_circle_distance matches the spherical Vincenty formula") {
    assert(greatCircleDistance(40, 70, 40, 70) === 0.0)
    // NYC -> LA, known ~3936 km on the R=6371.01 sphere
    val nycLa = greatCircleDistance(40.7128, -74.0060, 34.0522, -118.2437)
    assert(Math.abs(nycLa - 3936) < 10, s"got $nycLa")
    // symmetric
    assert(greatCircleDistance(10, 20, 30, 40) === greatCircleDistance(30, 40, 10, 20))
    intercept[IllegalArgumentException](greatCircleDistance(91, 0, 0, 0))
  }

  // ------------------------------------------------------------ SQL level

  private val spark = TestSpark.spark

  test("geospatial scalars through SQL") {
    val row = spark.sql(
      """SELECT
        |  st_astext(st_point(1, 2)) AS wkt,
        |  st_geometrytype('LINESTRING (0 0, 1 1)') AS gt,
        |  st_area('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS a,
        |  st_contains('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 'POINT (2 2)') AS c,
        |  st_envelope('LINESTRING (1 1, 5 3)') AS env,
        |  st_numpoints('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS np,
        |  st_boundary('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS bd,
        |  bing_tile_at(47.6, -122.3, 10) AS tile,
        |  st_x(st_centroid('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS ccx
        |""".stripMargin).head()
    assert(row.getString(0) === "POINT (1 2)")
    assert(row.getString(1) === "ST_LineString")
    assert(row.getDouble(2) === 16.0)
    assert(row.getBoolean(3))
    assert(row.getString(4) === "POLYGON ((1 1, 5 1, 5 3, 1 3, 1 1))")
    assert(row.getInt(5) === 5)
    assert(row.getString(6) === "LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)")
    assert(row.getString(7).length === 10)
    assert(row.getDouble(8) === 2.0)
  }

  test("null geometry inputs propagate NULL through the scalar surface") {
    val row = spark.sql(
      """SELECT st_astext(CAST(NULL AS STRING)) AS a,
        |       st_distance(CAST(NULL AS STRING), 'POINT (0 0)') AS b,
        |       st_x('POINT EMPTY') AS c""".stripMargin).head()
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
  }

  test("distance join finds exactly the within-radius pairs, without a cartesian plan") {
    import TestSpark.spark.implicits._
    val left = Seq((1, 0.0, 0.0), (2, 100.0, 100.0)).toDF("lid", "lx", "ly")
    val right = Seq((10, 3.0, 4.0), (11, 5.01, 0.0), (12, 103.0, 96.0), (13, 0.0, 0.0))
      .toDF("rid", "rx", "ry")
    val joined = graft.ops.SpatialJoin.distanceWithin(left, "lx", "ly", right, "rx", "ry", 5.0)
    val pairs = joined.select("lid", "rid").as[(Int, Int)].collect().toSet
    assert(pairs === Set((1, 10), (1, 13), (2, 12)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan.take(1500))
  }

  test("contains join refines grid candidates with exact containment") {
    import TestSpark.spark.implicits._
    val polys = Seq(
      (1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      (2, "POLYGON ((20 20, 30 20, 25 30, 20 20))")).toDF("pid", "poly")
    val pts = Seq((100, 5.0, 5.0), (101, 10.0, 5.0), (102, 25.0, 22.0), (103, 25.0, 35.0))
      .toDF("ptid", "x", "y")
    val joined = graft.ops.SpatialJoin.containsJoin(polys, "poly", pts, "x", "y", cellSize = 8.0)
    val pairs = joined.select("pid", "ptid").as[(Int, Int)].collect().toSet
    // 101 is on polygon 1's boundary — OGC Contains excludes it
    assert(pairs === Set((1, 100), (2, 102)))
  }

  test("bing tile parent/children: prefix algebra and fail-loud bounds") {
    assert(GeoFunctions.parentQuadKey("0231", -1) === "023")
    assert(GeoFunctions.parentQuadKey("0231", 2) === "02")
    assert(GeoFunctions.parentQuadKey("0231", 4) === "0231")
    intercept[IllegalArgumentException](GeoFunctions.parentQuadKey("", -1))
    intercept[IllegalArgumentException](GeoFunctions.parentQuadKey("0231", 5))
    assert(GeoFunctions.childrenQuadKeys("02", -1) === Seq("020", "021", "022", "023"))
    assert(GeoFunctions.childrenQuadKeys("02", 4).length === 16)
    assert(GeoFunctions.childrenQuadKeys("02", 4).forall(_.startsWith("02")))
    assert(GeoFunctions.childrenQuadKeys("02", 2) === Seq("02"))
    intercept[IllegalArgumentException](GeoFunctions.childrenQuadKeys("02", 1))
    intercept[IllegalArgumentException](GeoFunctions.childrenQuadKeys("02", 23)) // 4^21 > cap
  }

  test("WKB parses both byte orders and round-trips the ADT") {
    def wkbPoint(littleEndian: Boolean, x: Double, y: Double): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(21)
      b.put(if (littleEndian) 1.toByte else 0.toByte)
      b.order(if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
              else java.nio.ByteOrder.BIG_ENDIAN)
      b.putInt(1).putDouble(x).putDouble(y)
      b.array()
    }
    assert(GeoFunctions.print(GeoFunctions.parseWkb(wkbPoint(true, 3, 4))) === "POINT (3 4)")
    assert(GeoFunctions.print(GeoFunctions.parseWkb(wkbPoint(false, -1.5, 2))) === "POINT (-1.5 2)")
    // linestring, little-endian
    val ls = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 2 * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ls.put(1.toByte).putInt(2).putInt(2).putDouble(0).putDouble(0).putDouble(5).putDouble(5)
    assert(GeoFunctions.print(GeoFunctions.parseWkb(ls.array())) === "LINESTRING (0 0, 5 5)")
    intercept[IllegalArgumentException](GeoFunctions.parseWkb(Array[Byte](9)))
    intercept[IllegalArgumentException](
      GeoFunctions.parseWkb(wkbPoint(true, 1, 2) ++ Array[Byte](0)))
  }

  test("GeoJSON round-trips every supported kind") {
    val cases = Seq(
      "POINT (1 2)",
      "MULTIPOINT (1 2, 3 4)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
      "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    for (w <- cases)
      assert(GeoFunctions.print(GeoFunctions.fromGeoJson(GeoFunctions.toGeoJson(p(w)))) === w, w)
    assert(GeoFunctions.toGeoJson(p("POINT (1 2)")) ===
      """{"type":"Point","coordinates":[1,2]}""")
    intercept[IllegalArgumentException](GeoFunctions.fromGeoJson("""{"type":"Nope"}"""))
    intercept[IllegalArgumentException](GeoFunctions.fromGeoJson("not json at all"))
  }

  test("isSimple: self-intersection and duplicate-point detection") {
    assert(GeoFunctions.isSimple(p("POINT (1 2)")))
    assert(GeoFunctions.isSimple(p("MULTIPOINT (1 2, 3 4)")))
    assert(!GeoFunctions.isSimple(p("MULTIPOINT (1 2, 1 2)")))
    assert(GeoFunctions.isSimple(p("LINESTRING (0 0, 1 1, 2 0)")))
    // figure-eight crossing
    assert(!GeoFunctions.isSimple(p("LINESTRING (0 0, 2 2, 2 0, 0 2)")))
    // closed ring: first/last segments share only the closing point
    assert(GeoFunctions.isSimple(p("LINESTRING (0 0, 1 0, 1 1, 0 0)")))
    // fold-back onto the previous segment
    assert(!GeoFunctions.isSimple(p("LINESTRING (0 0, 2 0, 1 0)")))
    assert(GeoFunctions.isSimple(p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")))
    intercept[IllegalArgumentException](
      GeoFunctions.isSimple(p("GEOMETRYCOLLECTION (POINT (1 2))")))
  }

  test("nearestPoints: point-to-segment projection and crossing segments") {
    val Some((a1, b1)) = GeoFunctions.nearestPoints(
      p("POINT (5 3)"), p("LINESTRING (0 0, 10 0)"))
    assert(a1 === Pt(5, 3) && b1 === Pt(5, 0))
    // beyond the segment end clamps to the endpoint
    val Some((_, b2)) = GeoFunctions.nearestPoints(
      p("POINT (15 3)"), p("LINESTRING (0 0, 10 0)"))
    assert(b2 === Pt(10, 0))
    // crossing segments meet at the intersection point
    val Some((a3, b3)) = GeoFunctions.nearestPoints(
      p("LINESTRING (0 0, 10 10)"), p("LINESTRING (0 10, 10 0)"))
    assert(a3 === b3 && a3 === Pt(5, 5))
    // containment pairs a contained vertex with itself
    val Some((a4, b4)) = GeoFunctions.nearestPoints(
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"), p("POINT (3 3)"))
    assert(a4 === Pt(3, 3) && b4 === Pt(3, 3))
    assert(GeoFunctions.nearestPoints(p("POINT EMPTY"), p("POINT (1 1)")).isEmpty)
  }

  test("accessor arrays, flatten, envelope expansion through SQL") {
    val s = TestSpark.spark
    def one(sql: String): Any = s.sql(sql).collect()(0).get(0)
    assert(one("SELECT st_points('LINESTRING (0 0, 1 1)')") ===
      Seq("POINT (0 0)", "POINT (1 1)"))
    assert(one("SELECT st_geometries('MULTIPOINT (1 2, 3 4)')") ===
      Seq("POINT (1 2)", "POINT (3 4)"))
    assert(one("SELECT st_geometries('POINT (1 2)')") === Seq("POINT (1 2)"))
    assert(one("SELECT st_interiorrings('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')") ===
      Seq("LINESTRING (2 2, 4 2, 4 4, 2 4, 2 2)"))
    assert(one("SELECT flatten_geometry_collections('GEOMETRYCOLLECTION (POINT (1 2), GEOMETRYCOLLECTION (LINESTRING (0 0, 1 1)))')") ===
      Seq("POINT (1 2)", "LINESTRING (0 0, 1 1)"))
    assert(one("SELECT st_envelopeaspts('LINESTRING (0 5, 10 0)')") ===
      Seq("POINT (0 0)", "POINT (10 5)"))
    assert(one("SELECT expand_envelope('POINT (5 5)', 2)") ===
      "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))")
    assert(one("SELECT st_astext(geometry_from_geojson(geometry_as_geojson('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')))") ===
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert(one("SELECT to_geometry(to_spherical_geography('POINT (10 20)'))") ===
      "POINT (10 20)")
    intercept[Exception](one("SELECT to_spherical_geography('POINT (200 0)')"))
    assert(one("SELECT geometry_nearest_points('POINT (5 3)', 'LINESTRING (0 0, 10 0)')") ===
      Seq("POINT (5 3)", "POINT (5 0)"))
    // the facade rewrites the reference's 2-arg overloads by arity
    assert(Engine.sql(s, "/root/testdata/sf0.001",
      "SELECT bing_tile_parent(bing_tile_at(40.0, -74.0, 10)) AS t").collect()(0).getString(0).length === 9)
    assert(Engine.sql(s, "/root/testdata/sf0.001",
      "SELECT bing_tile_parent(bing_tile_at(40.0, -74.0, 10), 4) AS t").collect()(0).getString(0).length === 4)
    assert(Engine.sql(s, "/root/testdata/sf0.001",
      "SELECT cardinality(bing_tile_children(bing_tile_at(40.0, -74.0, 10), 12)) AS n").collect()(0).getInt(0) === 16)
    // the 1-arg quadkey constructor routes to validation + identity
    assert(Engine.sql(s, "/root/testdata/sf0.001",
      "SELECT bing_tile('0231') AS t").collect()(0).getString(0) === "0231")
    intercept[Exception](Engine.sql(s, "/root/testdata/sf0.001",
      "SELECT bing_tile('0299') AS t").collect())
  }

  test("convex_hull_agg and the geometry_union family through SQL") {
    val s = TestSpark.spark
    def one(sql: String): Any = s.sql(sql).collect()(0).get(0)
    // hull of scattered points; interior points vanish
    assert(one("""SELECT convex_hull_agg(g) FROM (VALUES
      ('POINT (0 0)'), ('POINT (10 0)'), ('POINT (10 10)'),
      ('POINT (0 10)'), ('POINT (5 5)')) t(g)""") ===
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    // degenerate hulls: collinear -> linestring, single -> point
    assert(one("""SELECT convex_hull_agg(g) FROM (VALUES
      ('POINT (0 0)'), ('POINT (1 1)'), ('POINT (2 2)')) t(g)""") ===
      "LINESTRING (0 0, 2 2)")
    assert(one("SELECT convex_hull_agg(g) FROM (VALUES ('POINT (3 4)')) t(g)") ===
      "POINT (3 4)")
    // hulls of non-point inputs use every vertex
    assert(one("""SELECT convex_hull_agg(g) FROM (VALUES
      ('LINESTRING (0 0, 10 0)'), ('POINT (5 10)')) t(g)""") ===
      "POLYGON ((0 0, 10 0, 5 10, 0 0))")
    // point-set union dissolves duplicates, deterministic order
    assert(one("""SELECT geometry_union_agg(g) FROM (VALUES
      ('POINT (1 1)'), ('MULTIPOINT (1 1, 2 2)'), ('POINT (0 5)')) t(g)""") ===
      "MULTIPOINT (0 5, 1 1, 2 2)")
    assert(one("SELECT geometry_union(array('POINT (2 2)', 'POINT (1 1)', 'POINT (2 2)'))") ===
      "MULTIPOINT (1 1, 2 2)")
    assert(one("SELECT geometry_union(array('POINT (1 1)'))") === "POINT (1 1)")
    // areal members dissolve through the overlay core
    assert(one("SELECT geometry_union(array('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'))") ===
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert(one("""SELECT st_area(geometry_union(array(
      'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))',
      'POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))',
      'POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))')))""") === 176.0)
    // the mergeable AGGREGATE keeps its punctual bounded-state contract
    intercept[Exception](one(
      "SELECT geometry_union_agg(g) FROM (VALUES ('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) t(g)"))
  }

  test("relation predicates: equals, touches, crosses, overlaps") {
    // equals: rotation, orientation, unclosed spelling, reversed lines
    assert(GeoFunctions.geomEquals(
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      p("POLYGON ((10 10, 0 10, 0 0, 10 0, 10 10))")).contains(true))
    assert(GeoFunctions.geomEquals(
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      p("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))")).contains(true))
    assert(GeoFunctions.geomEquals(
      p("LINESTRING (0 0, 5 5)"), p("LINESTRING (5 5, 0 0)")).contains(true))
    assert(GeoFunctions.geomEquals(
      p("MULTIPOINT (1 1, 2 2)"), p("MULTIPOINT (2 2, 1 1, 1 1)")).contains(true))
    assert(GeoFunctions.geomEquals(
      p("POINT (1 1)"), p("POINT (1 2)")).contains(false))
    // touches: boundary point vs interior point vs disjoint
    val box = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert(GeoFunctions.touches(p("POINT (10 5)"), p(box)).contains(true))
    assert(GeoFunctions.touches(p("POINT (5 5)"), p(box)).contains(false))
    assert(GeoFunctions.touches(p("POINT (20 5)"), p(box)).contains(false))
    // line endpoint touch vs mid-line touch
    assert(GeoFunctions.touches(p("POINT (0 0)"), p("LINESTRING (0 0, 5 5)")).contains(true))
    assert(GeoFunctions.touches(p("POINT (2 2)"), p("LINESTRING (0 0, 5 5)")).contains(false))
    // adjacent boxes share an edge: touches, not overlaps
    val east = "POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"
    assert(GeoFunctions.touches(p(box), p(east)).contains(true))
    assert(GeoFunctions.overlaps(p(box), p(east)).contains(false))
    // properly overlapping boxes: overlaps, not touches
    val shifted = "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"
    assert(GeoFunctions.overlaps(p(box), p(shifted)).contains(true))
    assert(GeoFunctions.touches(p(box), p(shifted)).contains(false))
    // containment is not overlap
    assert(GeoFunctions.overlaps(p(box),
      p("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")).contains(false))
    // crosses: X lines, line through a polygon, line that only touches
    assert(GeoFunctions.crosses(
      p("LINESTRING (0 0, 10 10)"), p("LINESTRING (0 10, 10 0)")).contains(true))
    assert(GeoFunctions.crosses(
      p("LINESTRING (0 0, 5 5)"), p("LINESTRING (0 1, 5 6)")).contains(false))
    assert(GeoFunctions.crosses(
      p("LINESTRING (-5 5, 15 5)"), p(box)).contains(true))
    assert(GeoFunctions.crosses(
      p("LINESTRING (0 0, 10 0)"), p(box)).contains(false))
    intercept[IllegalArgumentException](
      GeoFunctions.touches(p("LINESTRING (0 0, 1 1)"), p("LINESTRING (2 2, 3 3)")))
  }

  test("narrowed overlay: intersection, union, difference, sym-difference") {
    def w(g: Geom): String = GeoFunctions.print(g)
    // the reference's ENVELOPE fast path: box x box
    assert(w(GeoFunctions.intersection(
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      p("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"))) ===
      "POLYGON ((5 5, 10 5, 10 10, 5 10, 5 5))")
    // boxes meeting at an edge degrade to a line; at a corner to a point
    assert(w(GeoFunctions.intersection(
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      p("POLYGON ((10 0, 20 0, 20 10, 10 10, 10 0))"))) ===
      "LINESTRING (10 0, 10 10)")
    assert(w(GeoFunctions.intersection(
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      p("POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))"))) === "POINT (10 10)")
    // disjoint boxes: empty polygon
    assert(w(GeoFunctions.intersection(
      p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      p("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"))) === "POLYGON EMPTY")
    // punctual filtering against an areal closure
    assert(w(GeoFunctions.intersection(
      p("MULTIPOINT (5 5, 10 5, 20 20)"),
      p("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))) === "MULTIPOINT (5 5, 10 5)")
    // union/difference/symmetric difference over point sets
    assert(w(GeoFunctions.union(p("MULTIPOINT (1 1, 2 2)"), p("POINT (3 3)"))) ===
      "MULTIPOINT (1 1, 2 2, 3 3)")
    assert(w(GeoFunctions.difference(p("MULTIPOINT (1 1, 2 2)"), p("POINT (2 2)"))) ===
      "POINT (1 1)")
    assert(w(GeoFunctions.symDifference(
      p("MULTIPOINT (1 1, 2 2)"), p("MULTIPOINT (2 2, 3 3)"))) ===
      "MULTIPOINT (1 1, 3 3)")
    // equal inputs collapse; general overlay handles disjoint dissolve
    assert(w(GeoFunctions.union(
      p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      p("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"))) ===
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert(w(GeoFunctions.difference(
      p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))) === "POLYGON EMPTY")
    assert(w(GeoFunctions.union(
      p("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
      p("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"))) ===
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
  }

  test("dissolved bing tile covering collapses complete sibling quadruples") {
    // a full tile's four children dissolve back to the tile itself
    val parentPoly = GeoFunctions.tilePolygon("0231")
    val dissolved = GeoFunctions.geometryToDissolvedBingTiles(p(parentPoly), 6)
    assert(dissolved.contains("0231") || dissolved.forall(_.startsWith("0231")),
      dissolved.mkString(","))
    assert(dissolved.length < GeoFunctions.geometryToBingTiles(p(parentPoly), 6).length)
    // SQL surface
    val s = TestSpark.spark
    val n = s.sql(s"SELECT size(geometry_to_dissolved_bing_tiles('$parentPoly', 6))")
      .collect()(0).getInt(0)
    assert(n === dissolved.length)
  }

  test("ST_LineString array constructor and its fail-loud inputs") {
    val s = TestSpark.spark
    def one(sql: String): Any = s.sql(sql).collect()(0).get(0)
    assert(one("SELECT st_linestring(array('POINT (0 0)', 'POINT (1 1)', 'POINT (2 0)'))") ===
      "LINESTRING (0 0, 1 1, 2 0)")
    assert(one("SELECT st_linestring(array('POINT (5 5)'))") === "LINESTRING EMPTY")
    intercept[Exception](one("SELECT st_linestring(array('POINT (0 0)', 'LINESTRING (0 0, 1 1)'))"))
  }

  test("ST_Buffer point approximation: properties, not vertices") {
    val s = TestSpark.spark
    def one(sql: String): Any = s.sql(sql).collect()(0).get(0)
    // envelope = center +- d; contains the center; area within the
    // inscribed-32-gon band of pi*d^2
    assert(one("SELECT st_xmin(st_buffer('POINT (10 20)', 3))") === 7.0)
    assert(one("SELECT st_ymax(st_buffer('POINT (10 20)', 3))") === 23.0)
    assert(one("SELECT st_contains(st_buffer('POINT (10 20)', 3), 'POINT (10 20)')") === true)
    val area = one("SELECT st_area(st_buffer('POINT (0 0)', 2))").asInstanceOf[Double]
    assert(area > Math.PI * 4 * 0.98 && area <= Math.PI * 4, s"area $area")
    assert(one("SELECT st_buffer('POINT (1 1)', 0)") === "POINT (1 1)")
    // lineal buffer through the overlay core: Minkowski area, contains
    // both endpoints, envelope padded by d
    val lb = one("SELECT st_area(st_buffer('LINESTRING (0 0, 10 0)', 1))")
      .asInstanceOf[Double]
    assert(math.abs(lb - (20 + Math.PI)) < 0.1, s"line buffer area $lb")
    assert(one("SELECT st_xmin(st_buffer('LINESTRING (0 0, 10 0)', 1))") === -1.0)
    assert(one("SELECT st_contains(st_buffer('LINESTRING (0 0, 10 0)', 1), 'POINT (5 0)')") === true)
    intercept[Exception](one("SELECT st_buffer('POINT (0 0)', -1)"))
  }

  test("collinear-strip overlap: interiors meet without crossings or interior vertices") {
    // [0,2]x[0,1] and [1,3]x[0,1] share the strip [1,2]x[0,1]; every
    // vertex sits ON the other's boundary and all edge contact is
    // collinear — the case only the midpoint probe decides
    val a = "POLYGON ((0 0, 2 0, 2 1, 0 1, 0 0))"
    val b = "POLYGON ((1 0, 3 0, 3 1, 1 1, 1 0))"
    assert(GeoFunctions.overlaps(p(a), p(b)).contains(true))
    assert(GeoFunctions.touches(p(a), p(b)).contains(false))
    // a chord whose endpoints are boundary vertices still crosses the
    // interior: not touches
    val box = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert(GeoFunctions.touches(p("LINESTRING (0 0, 10 10)"), p(box)).contains(false))
    // WKB polygons with OPEN rings are closed on parse, like WKT
    val wkb = java.nio.ByteBuffer.allocate(1 + 4 + 4 + 4 + 4 * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wkb.put(1.toByte).putInt(3).putInt(1).putInt(4)
      .putDouble(0).putDouble(0).putDouble(4).putDouble(0)
      .putDouble(4).putDouble(4).putDouble(0).putDouble(4)
    val g = GeoFunctions.parseWkb(wkb.array())
    assert(GeoFunctions.print(g) === "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert(GeoFunctions.area(g) === 16.0)
  }

  test("KDB tree: median splits, leaf coverage, partition assignment") {
    import graft.functions.KdbSpatial
    import graft.functions.KdbSpatial.Rect
    // 8 unit squares in a row: partitionCount 4 -> >= 4 leaves, each
    // holding <= ceil(8/4)=2 samples; every query point lands in >= 1 leaf
    val rects = (0 until 8).map(i => Rect(i * 10, 0, i * 10 + 1, 1))
    val tree = KdbSpatial.build(4, rects)
    val ls = KdbSpatial.leaves(tree)
    assert(ls.size >= 4, s"leaves ${ls.size}")
    assert(ls.map(_.id).distinct.size == ls.size, "leaf ids must be unique")
    // interior point -> exactly one partition; the root extent is the
    // whole plane so even far-away points land somewhere
    assert(KdbSpatial.partitionsFor(tree, Rect(10.5, 0.5, 10.5, 0.5)).size == 1)
    assert(KdbSpatial.partitionsFor(tree, Rect(-1e9, -1e9, -1e9, -1e9)).nonEmpty)
    // a query spanning everything touches every leaf
    assert(KdbSpatial.partitionsFor(tree, Rect(-100, -100, 200, 200)).toSet ==
      ls.map(_.id).toSet)
    // JSON round trip preserves structure and assignments
    val rt = KdbSpatial.fromJson(KdbSpatial.toJson(tree))
    assert(KdbSpatial.toJson(rt) == KdbSpatial.toJson(tree))
    // identical values on the split axis fall back to the other axis
    val stacked = (0 until 8).map(i => Rect(5, i * 10, 6, i * 10 + 1))
    val t2 = KdbSpatial.build(4, stacked)
    assert(KdbSpatial.leaves(t2).size >= 4)
  }

  test("spatial_partitioning aggregate is partitioning-invariant; scalars assign") {
    val s = TestSpark.spark
    import s.implicits._
    val pts = (1 to 400).map { i =>
      (s"POINT (${(i * 7) % 100} ${(i * 13) % 100})", 8)
    }.toDF("g", "pc")
    pts.createOrReplaceTempView("kdb_pts")
    val t1 = s.sql("SELECT spatial_partitioning(g, pc) FROM kdb_pts")
      .collect()(0).getString(0)
    val t2 = pts.repartition(13).selectExpr("spatial_partitioning(g, pc)")
      .collect()(0).getString(0)
    assert(t1 == t2, "deterministic sample must build the same tree under any partitioning")
    // each point maps to at least one partition; a widened probe to >= as many
    val perPoint = s.sql(
      s"SELECT size(spatial_partitions('${'$'}{}', g)) FROM kdb_pts".replace("${}", t1))
    assert(perPoint.collect().forall(_.getInt(0) >= 1))
    val spread = Engine.sql(s, "/root/testdata/sf0.001",
      s"SELECT cardinality(spatial_partitions('REPLACEME', st_point(50, 50), 30.0)) AS n"
        .replace("REPLACEME", t1)).collect()(0).getInt(0)
    val tight = Engine.sql(s, "/root/testdata/sf0.001",
      s"SELECT cardinality(spatial_partitions('REPLACEME', st_point(50, 50))) AS n"
        .replace("REPLACEME", t1)).collect()(0).getInt(0)
    assert(spread >= tight, s"distance-expanded probe $spread < tight $tight")
    intercept[Exception](Engine.sql(s, "/root/testdata/sf0.001",
      s"SELECT spatial_partitions('REPLACEME', st_point(0, 0), -1.0)"
        .replace("REPLACEME", t1)).collect())
  }

  test("ST_Relate: exact DE-9IM for punctual-sided pairs") {
    val box = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    // interior point vs polygon: 0FFFFF212
    assert(GeoFunctions.de9im(p("POINT (5 5)"), p(box)) === "0FFFFF212")
    // boundary point: F0FFFF212
    assert(GeoFunctions.de9im(p("POINT (10 5)"), p(box)) === "F0FFFF212")
    // exterior point: FF0FFF212
    assert(GeoFunctions.de9im(p("POINT (20 5)"), p(box)) === "FF0FFF212")
    // transposition: polygon-vs-point is the transpose
    assert(GeoFunctions.de9im(p(box), p("POINT (5 5)")) === "0F2FF1FF2")
    // point vs open line: interior hit, line keeps its endpoints
    assert(GeoFunctions.de9im(p("POINT (2 2)"), p("LINESTRING (0 0, 5 5)")) ===
      "0FFFFF102")
    assert(GeoFunctions.de9im(p("POINT (0 0)"), p("LINESTRING (0 0, 5 5)")) ===
      "F0FFFF102")
    // identical points: equality matrix
    assert(GeoFunctions.de9im(p("POINT (1 1)"), p("POINT (1 1)")) === "0FFFFFFF2")
    // pattern matching through SQL: within = T*F**F***
    val s = TestSpark.spark
    def one(sql: String): Any = s.sql(sql).collect()(0).get(0)
    assert(one(s"SELECT st_relate('POINT (5 5)', '$box', 'T*F**F***')") === true)
    assert(one(s"SELECT st_relate('POINT (10 5)', '$box', 'T*F**F***')") === false)
    // touches = F***T**** for the boundary point (IB non-empty)
    assert(one(s"SELECT st_relate('POINT (10 5)', '$box', 'FT*******')") === true)
    intercept[Exception](one(s"SELECT st_relate('POINT (0 0)', '$box', 'T*F')"))
    intercept[Exception](one(s"SELECT st_relate('POINT (0 0)', '$box', 'X********')"))
    // eager validation: the bad character raises even when an earlier
    // position already decided the match
    intercept[Exception](one(s"SELECT st_relate('POINT (20 5)', '$box', 'FX*******')"))
    // a NULL pattern null-propagates like the geometry arguments
    assert(one(s"SELECT st_relate('POINT (0 0)', '$box', CAST(NULL AS STRING))") == null)
    // lineal pairs run on the full arrangement matrix: disjoint lines
    // match the OGC disjoint pattern, crossing lines do not
    assert(one(
      "SELECT st_relate('LINESTRING (0 0, 1 1)', 'LINESTRING (2 2, 3 3)', 'FF*FF****')") === true)
    assert(one(
      "SELECT st_relate('LINESTRING (0 0, 10 10)', 'LINESTRING (0 10, 10 0)', 'FF*FF****')") === false)
  }

  test("chained geo scalars pass intermediates by reference (intern cache)") {
    val s = TestSpark.spark
    import s.implicits._
    // 3-deep chain over 500 DISTINCT per-row geometries plus one
    // constant operand: without the intern table this parses ~3 WKTs
    // per row (each scalar boundary re-parses); with it, every
    // intermediate print is parsed back as a cache hit and the constant
    // parses once per task thread — so real parses stay FAR below one
    // per scalar boundary.
    val df = (1 to 500).map(i => (i % 40, (i * 7) % 40)).toDF("x", "y")
    df.createOrReplaceTempView("geo_chain_pts")
    val chain =
      """SELECT sum(st_area(st_intersection(
        |  st_buffer(st_point(x, y), 3),
        |  'POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))'))) AS total
        |FROM geo_chain_pts""".stripMargin
    s.sql(chain).collect() // warm: fill per-thread constant entries
    val before = graft.functions.GeoFunctions.parseMisses.get()
    val total = s.sql(chain).collect()(0).getDouble(0)
    val misses = graft.functions.GeoFunctions.parseMisses.get() - before
    assert(total > 0)
    assert(misses < 500,
      s"expected chained intermediates to hit the intern cache, " +
        s"but $misses real parses happened for 500 rows x 2 boundaries")
    // the cached value is the exact parse result: repeated parse of one
    // string returns the identical immutable instance
    val w = "POLYGON ((0 0, 7 0, 7 7, 0 7, 0 0))"
    assert(GeoFunctions.parse(w) eq GeoFunctions.parse(w))
    // Timing assertion is OPT-IN (SPARK_GRAFT_TIMING_ASSERTS=1): on a
    // loaded or frequency-throttled host a wall-clock ratio can flake
    // independently of any code change (BASELINE.md documents 2-3×
    // host-state swings on this box). The deterministic parseMisses
    // count above is the always-on guard; the ratio check documents the
    // INTENT (interned pass-through beats cold parsing) when the host is
    // quiet enough to measure it.
    if (sys.env.get("SPARK_GRAFT_TIMING_ASSERTS").contains("1")) {
      val ring = (0 until 1000).map { i =>
        val a = 2 * math.Pi * i / 1000
        s"${100 * math.cos(a)} ${100 * math.sin(a)}"
      }.mkString("POLYGON ((", ", ", s", ${100 * math.cos(0.0)} ${100 * math.sin(0.0)}))")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }
      (1 to 50).foreach(_ => GeoFunctions.parse(ring)) // JIT warm both paths
      val distinct = (0 until 2000).map(k => ring.replace("((", s"(( ${" " * (k % 7)}"))
      (1 to 3).foreach(_ => GeoFunctions.parse(distinct(0)))
      val cold = time(distinct.foreach(w2 => GeoFunctions.parse(w2)))
      val warm = time((0 until 2000).foreach(_ => GeoFunctions.parse(ring)))
      assert(warm < cold,
        s"interned chain parse should beat cold parsing: warm ${warm}ms vs cold ${cold}ms")
    }
  }
}
