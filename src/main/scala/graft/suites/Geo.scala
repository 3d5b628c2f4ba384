package graft.suites

import graft.{Engine, Qdef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial corpus (reference: presto-geospatial/.../GeoFunctions.java,
  * BingTileFunctions.java; spherical distance presto-geospatial-toolkit/
  * .../SphericalGeographyUtils.java; spatial join operator/
  * SpatialJoinOperator.java). The fixtures carry no coordinates, so every
  * entry derives deterministic integer coordinates from table keys IN THE
  * QUERY — identically on the Spark and DuckDB sides. Integer coordinates
  * keep the geometric classifications exact (cross products and squared
  * distances are integer-valued doubles), so boundary cases can't flip on
  * floating-point noise between engines; only genuinely continuous
  * outputs (distances, Mercator tiles) are compared as doubles.
  *
  * DuckDB has no spatial extension here, so each oracle re-derives the
  * geometry math in plain SQL: point distance as sqrt of squares, the
  * diamond polygon's containment as an L1-ball test, the parallelogram's
  * area in closed form, Bing tiles from the published pixel formulas.
  * That makes these oracles INDEPENDENT derivations, not mirrors of the
  * implementation.
  */
object Geo {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[Qdef] = Seq(

    // Point constructors/accessors + Euclidean distance over key-derived
    // supplier coordinates. WKT text is asserted byte-for-byte (the
    // canonical integer rendering), the distance as a double.
    Qdef(
      "geo01_point_scalars",
      """SELECT s_suppkey,
        |  'POINT (' || CAST((s_suppkey * 7) % 100 AS VARCHAR) || ' ' ||
        |    CAST((s_suppkey * 13) % 100 AS VARCHAR) || ')' AS wkt,
        |  CAST((s_suppkey * 7) % 100 AS DOUBLE) AS px,
        |  CAST((s_suppkey * 13) % 100 AS DOUBLE) AS py,
        |  sqrt(power((s_suppkey * 7) % 100 - 50.0, 2)
        |     + power((s_suppkey * 13) % 100 - 50.0, 2)) AS dist_c
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      t(s, dir, "supplier")
        .selectExpr(
          "s_suppkey",
          "st_astext(st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100)) AS wkt",
          "st_x(st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100)) AS px",
          "st_y(st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100)) AS py",
          "st_distance(st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100), st_point(50, 50)) AS dist_c")
        .orderBy("s_suppkey")
    },

    // Ray-cast point-in-polygon vs the diamond |x-50|+|y-50| ≤ 50, whose
    // containment has a closed form the oracle derives independently.
    // Distinguishes OGC Contains (interior only — boundary points are NOT
    // contained) from Intersects (closure) on exact integer boundaries.
    Qdef(
      "geo02_polygon_contains",
      """SELECT
        |  count(*) FILTER (WHERE abs((c_custkey * 3) % 101 - 50)
        |    + abs((c_custkey * 11) % 101 - 50) < 50) AS n_interior,
        |  count(*) FILTER (WHERE abs((c_custkey * 3) % 101 - 50)
        |    + abs((c_custkey * 11) % 101 - 50) = 50) AS n_boundary,
        |  count(*) FILTER (WHERE abs((c_custkey * 3) % 101 - 50)
        |    + abs((c_custkey * 11) % 101 - 50) > 50) AS n_outside
        |FROM customer""".stripMargin) { (s, dir) =>
      val diamond = "POLYGON ((50 0, 100 50, 50 100, 0 50, 50 0))"
      t(s, dir, "customer")
        .selectExpr(
          s"st_contains('$diamond', st_point((c_custkey * 3) % 101, (c_custkey * 11) % 101)) AS inside",
          s"st_intersects('$diamond', st_point((c_custkey * 3) % 101, (c_custkey * 11) % 101)) AS touching")
        .agg(
          count(when(col("inside"), 1)).as("n_interior"),
          count(when(!col("inside") && col("touching"), 1)).as("n_boundary"),
          count(when(!col("touching"), 1)).as("n_outside"))
    },

    // Measures over a per-nation parallelogram (0 0, w 0, w+sh h, sh h):
    // shoelace area, area-weighted centroid, envelope, plus ST_Length of
    // its first two edges as a linestring — each with a closed-form
    // oracle.
    Qdef(
      "geo03_polygon_measures",
      """SELECT n_nationkey,
        |  CAST((10 + n_nationkey) * (5 + n_nationkey % 7) AS DOUBLE) AS area,
        |  CAST((10 + n_nationkey + n_nationkey % 5) / 2.0 AS DOUBLE) AS cx,
        |  CAST((5 + n_nationkey % 7) / 2.0 AS DOUBLE) AS cy,
        |  CAST(10 + n_nationkey + n_nationkey % 5 AS DOUBLE) AS xmax,
        |  (10 + n_nationkey)
        |    + sqrt(power(n_nationkey % 5, 2) + power(n_nationkey % 7 + 5, 2)) AS border_len
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .selectExpr(
          "n_nationkey",
          "10 + n_nationkey AS w", "5 + n_nationkey % 7 AS h", "n_nationkey % 5 AS sh")
        .selectExpr(
          "n_nationkey",
          """concat('POLYGON ((0 0, ', w, ' 0, ', w + sh, ' ', h, ', ', sh, ' ', h, ', 0 0))')
            |  AS poly""".stripMargin,
          "concat('LINESTRING (0 0, ', w, ' 0, ', w + sh, ' ', h, ')') AS border")
        .selectExpr(
          "n_nationkey",
          "st_area(poly) AS area",
          "st_x(st_centroid(poly)) AS cx",
          "st_y(st_centroid(poly)) AS cy",
          "st_xmax(poly) AS xmax",
          "st_length(border) AS border_len")
        .orderBy("n_nationkey")
    },

    // Grid-partitioned distance join (ops/SpatialJoin.distanceWithin):
    // supplier × customer point pairs within radius 5, verified against a
    // plain theta-join oracle. The squared distance is reported as an
    // exact BIGINT so the pair set and the measure are float-proof; the
    // Spark plan is an EQUI-join on packed grid cells (PlanSpec pins no
    // cartesian/BNLJ), never the oracle's all-pairs comparison.
    Qdef(
      "geo04_distance_join",
      """SELECT s_suppkey, c_custkey,
        |  CAST(power((s_suppkey * 7) % 100 - (c_custkey * 3) % 101, 2)
        |     + power((s_suppkey * 13) % 100 - (c_custkey * 11) % 101, 2) AS BIGINT) AS dist2
        |FROM supplier, customer
        |WHERE power((s_suppkey * 7) % 100 - (c_custkey * 3) % 101, 2)
        |    + power((s_suppkey * 13) % 100 - (c_custkey * 11) % 101, 2) <= 25
        |ORDER BY s_suppkey, c_custkey""".stripMargin) { (s, dir) =>
      val sup = t(s, dir, "supplier").selectExpr(
        "s_suppkey",
        "CAST((s_suppkey * 7) % 100 AS DOUBLE) AS sx",
        "CAST((s_suppkey * 13) % 100 AS DOUBLE) AS sy")
      val cust = t(s, dir, "customer").selectExpr(
        "c_custkey",
        "CAST((c_custkey * 3) % 101 AS DOUBLE) AS cx",
        "CAST((c_custkey * 11) % 101 AS DOUBLE) AS cy")
      graft.ops.SpatialJoin.distanceWithin(sup, "sx", "sy", cust, "cx", "cy", 5.0)
        .selectExpr(
          "s_suppkey", "c_custkey",
          "CAST((sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) AS BIGINT) AS dist2")
        .orderBy("s_suppkey", "c_custkey")
    },

    // Grid-partitioned containment join (ops/SpatialJoin.containsJoin):
    // per-nation axis-aligned rectangles against customer points; OGC
    // Contains keeps the open interior only, which the oracle states as
    // strict inequalities on the integer coordinates.
    Qdef(
      "geo05_contains_join",
      """SELECT n_nationkey, count(*) AS n_points
        |FROM nation
        |JOIN customer
        |  ON (c_custkey * 3) % 101 > (n_nationkey * 7) % 50
        | AND (c_custkey * 3) % 101 < (n_nationkey * 7) % 50 + 12
        | AND (c_custkey * 11) % 101 > (n_nationkey * 11) % 50
        | AND (c_custkey * 11) % 101 < (n_nationkey * 11) % 50 + 9
        |GROUP BY n_nationkey
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val rects = t(s, dir, "nation").selectExpr(
        "n_nationkey",
        """concat('POLYGON ((',
          |  (n_nationkey * 7) % 50, ' ', (n_nationkey * 11) % 50, ', ',
          |  (n_nationkey * 7) % 50 + 12, ' ', (n_nationkey * 11) % 50, ', ',
          |  (n_nationkey * 7) % 50 + 12, ' ', (n_nationkey * 11) % 50 + 9, ', ',
          |  (n_nationkey * 7) % 50, ' ', (n_nationkey * 11) % 50 + 9, ', ',
          |  (n_nationkey * 7) % 50, ' ', (n_nationkey * 11) % 50, '))')
          |AS rect""".stripMargin)
      val pts = t(s, dir, "customer").selectExpr(
        "c_custkey",
        "CAST((c_custkey * 3) % 101 AS DOUBLE) AS px",
        "CAST((c_custkey * 11) % 101 AS DOUBLE) AS py")
      graft.ops.SpatialJoin.containsJoin(rects, "rect", pts, "px", "py", cellSize = 10.0)
        .groupBy("n_nationkey")
        .agg(count(lit(1)).as("n_points"))
        .orderBy("n_nationkey")
    },

    // Bing tiles at zoom 6 over key-derived lat/lon (the +0.3 fraction
    // keeps every point ≥ 0.05° from any tile edge, so the JVM's and
    // DuckDB's last-ulp ln/sin differences can't flip a tile). The oracle
    // re-derives tile X/Y from the published Bing pixel formulas and the
    // quadkey digit-by-digit.
    Qdef(
      "geo06_bing_tiles",
      """WITH pts AS (
        |  SELECT p_partkey,
        |    (p_partkey * 13) % 120 - 60 + 0.3 AS lat,
        |    (p_partkey * 29) % 360 - 180 + 0.3 AS lon
        |  FROM part),
        |txy AS (
        |  SELECT p_partkey,
        |    CAST(floor((lon + 180) / 360 * 64) AS INT) AS tx,
        |    CAST(floor((0.5 - ln((1 + sin(radians(lat))) / (1 - sin(radians(lat))))
        |      / (4 * pi())) * 64) AS INT) AS ty
        |  FROM pts)
        |SELECT p_partkey, tx, ty,
        |  CAST(CAST(floor(tx / 32.0) AS INT) % 2 + 2 * (CAST(floor(ty / 32.0) AS INT) % 2) AS VARCHAR)
        |  || CAST(CAST(floor(tx / 16.0) AS INT) % 2 + 2 * (CAST(floor(ty / 16.0) AS INT) % 2) AS VARCHAR)
        |  || CAST(CAST(floor(tx / 8.0) AS INT) % 2 + 2 * (CAST(floor(ty / 8.0) AS INT) % 2) AS VARCHAR)
        |  || CAST(CAST(floor(tx / 4.0) AS INT) % 2 + 2 * (CAST(floor(ty / 4.0) AS INT) % 2) AS VARCHAR)
        |  || CAST(CAST(floor(tx / 2.0) AS INT) % 2 + 2 * (CAST(floor(ty / 2.0) AS INT) % 2) AS VARCHAR)
        |  || CAST(tx % 2 + 2 * (ty % 2) AS VARCHAR) AS quadkey
        |FROM txy
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .selectExpr(
          "p_partkey",
          "(p_partkey * 13) % 120 - 60 + 0.3 AS lat",
          "(p_partkey * 29) % 360 - 180 + 0.3 AS lon")
        .selectExpr(
          "p_partkey",
          "bing_tile_coordinates(bing_tile_at(lat, lon, 6))._1 AS tx",
          "bing_tile_coordinates(bing_tile_at(lat, lon, 6))._2 AS ty",
          "bing_tile_at(lat, lon, 6) AS quadkey")
        .orderBy("p_partkey")
    },

    // Spherical distance to a fixed point (reference
    // SphericalGeographyUtils.java:82-108 — spherical Vincenty,
    // R = 6371.01 km); the oracle restates the formula in SQL.
    Qdef(
      "geo07_great_circle",
      """SELECT p_partkey,
        |  6371.01 * atan2(
        |    sqrt(power(cos(radians(40.7)) * sin(radians((p_partkey * 29) % 360 - 180 + 0.3) - radians(-74.0)), 2)
        |       + power(cos(radians((p_partkey * 13) % 120 - 60 + 0.3)) * sin(radians(40.7))
        |           - sin(radians((p_partkey * 13) % 120 - 60 + 0.3)) * cos(radians(40.7))
        |             * cos(radians((p_partkey * 29) % 360 - 180 + 0.3) - radians(-74.0)), 2)),
        |    sin(radians((p_partkey * 13) % 120 - 60 + 0.3)) * sin(radians(40.7))
        |      + cos(radians((p_partkey * 13) % 120 - 60 + 0.3)) * cos(radians(40.7))
        |        * cos(radians((p_partkey * 29) % 360 - 180 + 0.3) - radians(-74.0))) AS km
        |FROM part
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .selectExpr(
          "p_partkey",
          """great_circle_distance(
            |  (p_partkey * 13) % 120 - 60 + 0.3,
            |  (p_partkey * 29) % 360 - 180 + 0.3,
            |  40.7, -74.0) AS km""".stripMargin)
        .orderBy("p_partkey")
    },

    // round-10 surface: envelope expansion, nearest-points, the GeoJSON
    // round trip, and the Bing tile parent/children algebra (including
    // the reference's 2-arg overloads, which the facade rewrites by
    // arity). Every output has a closed form the oracle derives with
    // plain arithmetic: the nearest point from (px, py) to the segment
    // y=50, x∈[0,100] is (px, 50) since px ∈ [0, 99]; expand_envelope of
    // a point by 5 has corners at ±5; the GeoJSON round trip reprints
    // the integer-coordinate WKT verbatim; the tile checks collapse to
    // booleans (prefix algebra + cardinality) that must hold on every row.
    Qdef(
      "geo08_accessors_roundtrip",
      """SELECT s_suppkey,
        |  CAST((s_suppkey * 7) % 100 - 5 AS DOUBLE) AS exp_xmin,
        |  CAST((s_suppkey * 13) % 100 + 5 AS DOUBLE) AS exp_ymax,
        |  CAST((s_suppkey * 7) % 100 AS DOUBLE) AS np_x,
        |  CAST(50 AS DOUBLE) AS np_y,
        |  'POINT (' || CAST((s_suppkey * 7) % 100 AS VARCHAR) || ' ' ||
        |    CAST((s_suppkey * 13) % 100 AS VARCHAR) || ')' AS rt_wkt,
        |  TRUE AS tiles_ok
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      Engine.sql(s, dir,
        """SELECT s_suppkey,
          |  st_xmin(expand_envelope(
          |    st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100), 5))
          |    AS exp_xmin,
          |  st_ymax(expand_envelope(
          |    st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100), 5))
          |    AS exp_ymax,
          |  st_x(geometry_nearest_points(
          |    st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100),
          |    st_geometry_from_text('LINESTRING (0 50, 100 50)'))[1]) AS np_x,
          |  st_y(geometry_nearest_points(
          |    st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100),
          |    st_geometry_from_text('LINESTRING (0 50, 100 50)'))[2]) AS np_y,
          |  st_astext(geometry_from_geojson(geometry_as_geojson(
          |    st_point((s_suppkey * 7) % 100, (s_suppkey * 13) % 100)))) AS rt_wkt,
          |  length(bing_tile_parent(
          |      bing_tile_at((s_suppkey * 13) % 100 - 50.0,
          |                   (s_suppkey * 7) % 100 - 50.0, 15), 8)) = 8
          |    AND strpos(
          |      bing_tile_at((s_suppkey * 13) % 100 - 50.0,
          |                   (s_suppkey * 7) % 100 - 50.0, 15),
          |      bing_tile_parent(
          |        bing_tile_at((s_suppkey * 13) % 100 - 50.0,
          |                     (s_suppkey * 7) % 100 - 50.0, 15))) = 1
          |    AND cardinality(bing_tile_children(
          |      bing_tile_at((s_suppkey * 13) % 100 - 50.0,
          |                   (s_suppkey * 7) % 100 - 50.0, 10))) = 4 AS tiles_ok
          |FROM supplier
          |ORDER BY s_suppkey""".stripMargin)
    },

    // Spatial aggregates (reference: presto-geospatial/.../aggregation/
    // ConvexHullAggregation.java, GeometryUnionAgg.java). The supplier
    // points per nation are arranged COLLINEAR (y = 2x + nationkey), so
    // the hull is the closed-form segment from the group's min-x to its
    // max-x (a POINT when the group collapses to one location) — the
    // oracle rebuilds the exact WKT with min/max arithmetic. The
    // point-set union dissolves duplicates into a deterministic sorted
    // MULTIPOINT that DuckDB reproduces with DISTINCT + string_agg.
    Qdef.duckOnly(
      "geo09_spatial_aggs",
      """WITH pts AS (
        |  SELECT s_nationkey AS nk, s_suppkey % 50 AS x,
        |    (s_suppkey % 50) % 7 AS ux, (s_suppkey % 50) % 5 AS uy
        |  FROM supplier),
        |hulls AS (
        |  SELECT nk, min(x) AS x0, max(x) AS x1 FROM pts GROUP BY nk),
        |dis AS (
        |  SELECT nk,
        |    CASE WHEN count(*) = 1
        |      THEN 'POINT (' || min(ux) || ' ' || min(uy) || ')'
        |      ELSE 'MULTIPOINT (' ||
        |        string_agg(ux || ' ' || uy, ', ' ORDER BY ux, uy) || ')'
        |    END AS dissolved
        |  FROM (SELECT DISTINCT nk, ux, uy FROM pts) GROUP BY nk)
        |SELECT h.nk AS s_nationkey,
        |  CASE WHEN x0 = x1
        |    THEN 'POINT (' || x0 || ' ' || (2 * x0 + h.nk) || ')'
        |    ELSE 'LINESTRING (' || x0 || ' ' || (2 * x0 + h.nk) || ', '
        |      || x1 || ' ' || (2 * x1 + h.nk) || ')'
        |  END AS hull,
        |  d.dissolved
        |FROM hulls h JOIN dis d ON h.nk = d.nk
        |ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "supplier")
        .selectExpr("s_nationkey", "s_suppkey % 50 AS x")
        .groupBy(col("s_nationkey"))
        .agg(
          expr("convex_hull_agg(st_point(x, 2 * x + s_nationkey))").as("hull"),
          expr("geometry_union_agg(st_point(x % 7, x % 5))").as("dissolved"))
        .orderBy("s_nationkey")
    },

    // The reference's DISTRIBUTED spatial-join recipe end-to-end
    // (SpatialPartitioningInternalAggregateFunction + KdbTree +
    // spatial_partitions + PlanDistributedSpatialJoin): build a KDB tree
    // from the build side's envelopes, assign the probe side the
    // partitions its distance-EXPANDED envelope touches, equi-join on
    // partition id, refine with the exact predicate, dedup pairs that
    // met in more than one leaf. Same oracle as geo04's theta join —
    // the grid join and the KDB join must produce the identical pair
    // set by two different partitionings. The tree is ONE bounded
    // string broadcast to both sides (the reference ships it the same
    // way); nothing data-sized reaches the driver.
    Qdef(
      "geo10_kdb_spatial_join",
      """SELECT s_suppkey, c_custkey,
        |  CAST(power((s_suppkey * 7) % 100 - (c_custkey * 3) % 101, 2)
        |     + power((s_suppkey * 13) % 100 - (c_custkey * 11) % 101, 2) AS BIGINT) AS dist2
        |FROM supplier, customer
        |WHERE power((s_suppkey * 7) % 100 - (c_custkey * 3) % 101, 2)
        |    + power((s_suppkey * 13) % 100 - (c_custkey * 11) % 101, 2) <= 25
        |ORDER BY s_suppkey, c_custkey""".stripMargin) { (s, dir) =>
      val sup = t(s, dir, "supplier").selectExpr(
        "s_suppkey",
        "CAST((s_suppkey * 7) % 100 AS DOUBLE) AS sx",
        "CAST((s_suppkey * 13) % 100 AS DOUBLE) AS sy")
      val cust = t(s, dir, "customer").selectExpr(
        "c_custkey",
        "CAST((c_custkey * 3) % 101 AS DOUBLE) AS cx",
        "CAST((c_custkey * 11) % 101 AS DOUBLE) AS cy")
      val tree = cust
        .agg(expr("spatial_partitioning(st_point(cx, cy), 8)").as("tree"))
      val supP = sup.crossJoin(broadcast(tree))
        .select(col("s_suppkey"), col("sx"), col("sy"),
          explode(expr("spatial_partitions_within(tree, st_point(sx, sy), 5.0)"))
            .as("pid"))
      val custP = cust.crossJoin(broadcast(tree))
        .select(col("c_custkey"), col("cx"), col("cy"),
          explode(expr("spatial_partitions(tree, st_point(cx, cy))")).as("pid"))
      supP.join(custP, "pid")
        .filter((col("sx") - col("cx")) * (col("sx") - col("cx")) +
          (col("sy") - col("cy")) * (col("sy") - col("cy")) <= 25)
        .select(col("s_suppkey"), col("c_custkey"),
          ((col("sx") - col("cx")) * (col("sx") - col("cx")) +
            (col("sy") - col("cy")) * (col("sy") - col("cy")))
            .cast("bigint").as("dist2"))
        .distinct()
        .orderBy("s_suppkey", "c_custkey")
    },

    // ST_Relate's DE-9IM pattern matching over the geo02 diamond: the
    // 'within' pattern (T*F**F***) holds exactly for interior points,
    // the point-touches pattern (FT*******) exactly for boundary points,
    // 'disjoint' (FF*FF****) exactly for outside points — so the three
    // counts collapse to geo02's closed-form L1-ball classification.
    Qdef(
      "geo11_relate_patterns",
      """SELECT
        |  count(*) FILTER (WHERE abs((c_custkey * 3) % 101 - 50)
        |    + abs((c_custkey * 11) % 101 - 50) < 50) AS n_within,
        |  count(*) FILTER (WHERE abs((c_custkey * 3) % 101 - 50)
        |    + abs((c_custkey * 11) % 101 - 50) = 50) AS n_touching,
        |  count(*) FILTER (WHERE abs((c_custkey * 3) % 101 - 50)
        |    + abs((c_custkey * 11) % 101 - 50) > 50) AS n_disjoint
        |FROM customer""".stripMargin) { (s, dir) =>
      val diamond = "POLYGON ((50 0, 100 50, 50 100, 0 50, 50 0))"
      t(s, dir, "customer")
        .selectExpr(
          s"st_relate(st_point((c_custkey * 3) % 101, (c_custkey * 11) % 101), '$diamond', 'T*F**F***') AS w",
          s"st_relate(st_point((c_custkey * 3) % 101, (c_custkey * 11) % 101), '$diamond', 'FT*******') AS t",
          s"st_relate(st_point((c_custkey * 3) % 101, (c_custkey * 11) % 101), '$diamond', 'FF*FF****') AS d")
        .agg(
          count(when(col("w"), 1)).as("n_within"),
          count(when(col("t"), 1)).as("n_touching"),
          count(when(col("d"), 1)).as("n_disjoint"))
    },

    // General polygon overlay through the arrangement core
    // (functions/GeoOverlay): per-nation axis-aligned rectangles with a
    // varying horizontal offset (partial overlap, edge contact and
    // disjoint cases all occur across the 25 keys), a sheared
    // triangle×band clip, a donut cut + refill (holes survive the WKT
    // round trip), a lineal Minkowski buffer, and the interiors-meet
    // DE-9IM pattern — every area has a CLOSED-FORM oracle the DuckDB
    // side derives independently (rectangle algebra, the trapezoid
    // formula, and the inscribed 32-gon area for buffer caps).
    Qdef(
      "geo12_overlay",
      """SELECT n_nationkey,
        |  CAST(greatest(0, least(10 + n_nationkey % 7,
        |      (7 * n_nationkey) % 30 - 5 + 10)
        |    - greatest(0, (7 * n_nationkey) % 30 - 5)) * 7 AS DOUBLE) AS inter_area,
        |  CAST((10 + n_nationkey % 7) * 10 + 100
        |    - greatest(0, least(10 + n_nationkey % 7,
        |        (7 * n_nationkey) % 30 - 5 + 10)
        |      - greatest(0, (7 * n_nationkey) % 30 - 5)) * 7 AS DOUBLE) AS union_area,
        |  CAST((10 + n_nationkey % 7) * 10
        |    - greatest(0, least(10 + n_nationkey % 7,
        |        (7 * n_nationkey) % 30 - 5 + 10)
        |      - greatest(0, (7 * n_nationkey) % 30 - 5)) * 7 AS DOUBLE) AS diff_area,
        |  CAST((10 + n_nationkey % 7) * 10 + 100
        |    - 2 * greatest(0, least(10 + n_nationkey % 7,
        |        (7 * n_nationkey) % 30 - 5 + 10)
        |      - greatest(0, (7 * n_nationkey) % 30 - 5)) * 7 AS DOUBLE) AS xor_area,
        |  CAST((10 + n_nationkey % 7) * 10 - 4 AS DOUBLE) AS donut_area,
        |  CAST((10 + n_nationkey % 7) * 10 AS DOUBLE) AS refill_area,
        |  CAST((10 + n_nationkey % 7) * (2 + n_nationkey % 5)
        |    * (20 - (2 + n_nationkey % 5)) AS DOUBLE) / 20.0 AS tri_clip_area,
        |  2.0 * (10 + n_nationkey % 7) * (1 + n_nationkey % 3)
        |    + 16 * sin(pi() / 16) * (1 + n_nationkey % 3) * (1 + n_nationkey % 3)
        |    AS buf_area,
        |  greatest(0, least(10 + n_nationkey % 7,
        |      (7 * n_nationkey) % 30 - 5 + 10)
        |    - greatest(0, (7 * n_nationkey) % 30 - 5)) > 0 AS interiors_meet
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      t(s, dir, "nation")
        .selectExpr(
          "n_nationkey",
          "10 + n_nationkey % 7 AS w",            // rect A: [0,w] x [0,10]
          "(7 * n_nationkey) % 30 - 5 AS d",      // rect B: [d,d+10] x [3,13]
          "2 + n_nationkey % 5 AS k",             // band height
          "1 + n_nationkey % 3 AS r")             // buffer radius
        .selectExpr(
          "n_nationkey",
          "concat('POLYGON ((0 0, ', w, ' 0, ', w, ' 10, 0 10, 0 0))') AS a",
          "concat('POLYGON ((', d, ' 3, ', d + 10, ' 3, ', d + 10, ' 13, ', d, ' 13, ', d, ' 3))') AS b",
          "concat('POLYGON ((0 0, ', w, ' 0, 0 10, 0 0))') AS tri",
          "concat('POLYGON ((-1 0, ', w + 1, ' 0, ', w + 1, ' ', k, ', -1 ', k, ', -1 0))') AS band",
          "concat('LINESTRING (0 0, ', w, ' 0)') AS line",
          "r")
        .selectExpr(
          "n_nationkey",
          "st_area(st_intersection(a, b)) AS inter_area",
          "st_area(st_union(a, b)) AS union_area",
          "st_area(st_difference(a, b)) AS diff_area",
          "st_area(st_symdifference(a, b)) AS xor_area",
          "st_area(st_difference(a, 'POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))')) AS donut_area",
          "st_area(st_union(st_difference(a, 'POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))'), 'POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))')) AS refill_area",
          "st_area(st_intersection(tri, band)) AS tri_clip_area",
          "st_area(st_buffer(line, r)) AS buf_area",
          "st_relate(a, b, 'T********') AS interiors_meet")
        .orderBy("n_nationkey")
    })
}
