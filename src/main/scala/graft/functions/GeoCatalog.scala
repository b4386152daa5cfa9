package graft.functions

import org.apache.spark.sql.SparkSession

/** Geospatial ST_* + Bing tile tier (reference: presto-geospatial/.../
  * GeoFunctions.java, BingTileFunctions.java — planar geometry over
  * WKT). The declarative surface lives here as SQL macros
  * (analyzer-inlined — no geometry library, no UDF); algorithmic
  * pieces (ray cast, hull, overlay, WKB, simplify) are codegen'd
  * Catalyst expressions in [[GeoExpressions]]. ~50 of the reference's
  * 56 ST_ names are callable; the residue is itemized in SURVEY §2.8.
  *
  * Geometries are WKT strings ('POINT (x y)',
  * 'POLYGON ((x1 y1, …, x1 y1))', single ring, planar coordinates —
  * Presto's geometry type is also WKT-constructed). The let-binding
  * trick `transform(array(parsed), p -> body)[0]` evaluates the parse
  * exactly once per row despite macro substitution being textual.
  *
  * st_contains uses ray casting (odd crossings = inside; boundary
  * points are implementation-defined, as in any float geometry);
  * st_area is the shoelace formula. Both are O(ring length) per row
  * and stay inside whole-stage codegen.
  */
object GeoCatalog {

  /** Expression fragment: WKT polygon ring → array<struct<x,y>>. */
  private def ring(poly: String): String =
    s"""transform(split(regexp_extract($poly, '\\\\(\\\\(([^)]+)\\\\)\\\\)', 1), ','),
       |  c -> named_struct(
       |    'x', cast(split(trim(c), ' ')[0] AS DOUBLE),
       |    'y', cast(split(trim(c), ' ')[1] AS DOUBLE)))""".stripMargin

  /** Expression fragment: any single-part WKT (POINT / LINESTRING /
    * single-ring POLYGON) → array<struct<x,y>> of its coordinates. */
  private def coords(g: String): String =
    s"""transform(split(regexp_replace($g, '^[A-Z]+ ?\\\\(+|\\\\)+$$', ''), ','),
       |  c -> named_struct(
       |    'x', cast(split(trim(c), ' ')[0] AS DOUBLE),
       |    'y', cast(split(trim(c), ' ')[1] AS DOUBLE)))""".stripMargin

  private[graft] val macros: Seq[(String, String, String)] = Seq(
    ("st_point", "(x DOUBLE, y DOUBLE) RETURNS STRING",
      "concat('POINT (', cast(x AS STRING), ' ', cast(y AS STRING), ')')"),
    ("st_x", "(p STRING) RETURNS DOUBLE",
      "cast(regexp_extract(p, 'POINT \\\\(([^ ]+) ', 1) AS DOUBLE)"),
    ("st_y", "(p STRING) RETURNS DOUBLE",
      "cast(regexp_extract(p, ' ([^ )]+)\\\\)', 1) AS DOUBLE)"),
    ("st_distance", "(a STRING, b STRING) RETURNS DOUBLE",
      "sqrt(power(st_x(a) - st_x(b), 2) + power(st_y(a) - st_y(b), 2))"),
    ("st_area", "(poly STRING) RETURNS DOUBLE",
      s"""transform(array(${ring("poly")}), r ->
         |  abs(aggregate(sequence(0, size(r) - 2), 0.0D,
         |    (acc, i) -> acc + r[i].x * r[i + 1].y - r[i + 1].x * r[i].y)) / 2.0D
         |)[0]""".stripMargin),
    // (st_contains moved to a codegen'd expression in GeoExpressions —
    // identical ray-cast arithmetic; the transform/aggregate macro form
    // ran interpreted and dominated the broadcast-NL spatial join)
    ("st_within", "(pt STRING, poly STRING) RETURNS BOOLEAN",
      "st_contains(poly, pt)"),

    // --- tier 2 (GeoFunctions.java surface continued) ---

    // geometry IS its WKT text in this tier
    ("st_geometry_from_text", "(t STRING) RETURNS STRING", "t"),
    ("st_astext", "(g STRING) RETURNS STRING", "g"),
    ("st_geometry_type", "(g STRING) RETURNS STRING",
      """CASE WHEN g LIKE 'POINT%' THEN 'ST_Point'
        |     WHEN g LIKE 'LINESTRING%' THEN 'ST_LineString'
        |     WHEN g LIKE 'POLYGON%' THEN 'ST_Polygon'
        |     WHEN g LIKE 'MULTIPOINT%' THEN 'ST_MultiPoint'
        |     WHEN g LIKE 'MULTILINESTRING%' THEN 'ST_MultiLineString'
        |     WHEN g LIKE 'MULTIPOLYGON%' THEN 'ST_MultiPolygon'
        |     WHEN g LIKE 'GEOMETRYCOLLECTION%' THEN 'ST_GeomCollection' END""".stripMargin),

    // bounding-box accessors over any geometry
    ("st_xmin", "(g STRING) RETURNS DOUBLE",
      s"array_min(transform(${coords("g")}, p -> p.x))"),
    ("st_xmax", "(g STRING) RETURNS DOUBLE",
      s"array_max(transform(${coords("g")}, p -> p.x))"),
    ("st_ymin", "(g STRING) RETURNS DOUBLE",
      s"array_min(transform(${coords("g")}, p -> p.y))"),
    ("st_ymax", "(g STRING) RETURNS DOUBLE",
      s"array_max(transform(${coords("g")}, p -> p.y))"),
    ("st_envelope", "(g STRING) RETURNS STRING",
      """concat('POLYGON ((',
        |  st_xmin(g), ' ', st_ymin(g), ', ', st_xmax(g), ' ', st_ymin(g), ', ',
        |  st_xmax(g), ' ', st_ymax(g), ', ', st_xmin(g), ' ', st_ymax(g), ', ',
        |  st_xmin(g), ' ', st_ymin(g), '))')""".stripMargin),

    // vertex count; the Esri-backed reference does not count a
    // polygon's repeated closing vertex (GeoFunctions.java:764-769)
    ("st_npoints", "(g STRING) RETURNS BIGINT",
      s"size(${coords("g")}) - IF(g LIKE 'POLYGON%', 1, 0)"),
    // NOTE for every macro below: a SQL macro invoked with a lambda
    // variable as argument does not inline (the substituted Project
    // can't see the lambda binding), so inside transform/aggregate/
    // exists bodies the point-concat and orientation arithmetic are
    // written out inline rather than via st_point/graft_ccw.
    ("st_startpoint", "(g STRING) RETURNS STRING",
      s"""st_point(${coords("g")}[0].x, ${coords("g")}[0].y)"""),
    ("st_endpoint", "(g STRING) RETURNS STRING",
      s"""st_point(element_at(${coords("g")}, -1).x,
         |         element_at(${coords("g")}, -1).y)""".stripMargin),
    ("st_isclosed", "(g STRING) RETURNS BOOLEAN",
      s"""transform(array(${coords("g")}), r ->
         |  r[0].x = element_at(r, -1).x AND r[0].y = element_at(r, -1).y)[0]""".stripMargin),

    // polyline length (polygon input yields its perimeter)
    ("st_length", "(g STRING) RETURNS DOUBLE",
      s"""transform(array(${coords("g")}), r ->
         |  aggregate(sequence(0, size(r) - 2), 0.0D, (acc, i) -> acc +
         |    sqrt(power(r[i + 1].x - r[i].x, 2) + power(r[i + 1].y - r[i].y, 2)))
         |)[0]""".stripMargin),

    // centroid: point → itself; linestring → length-weighted segment
    // midpoints (GeoFunctions.java computeLineCentroid:1298); polygon →
    // area-weighted shoelace centroid (getPolygonSansHolesCentroid)
    ("st_centroid", "(g STRING) RETURNS STRING",
      s"""CASE WHEN g LIKE 'POINT%' THEN g
         |WHEN g LIKE 'LINESTRING%' THEN
         |  transform(array(transform(array(${coords("g")}), r ->
         |    aggregate(sequence(0, size(r) - 2),
         |      named_struct('w', 0.0D, 'x', 0.0D, 'y', 0.0D),
         |      (acc, i) -> named_struct(
         |        'w', acc.w + sqrt(power(r[i + 1].x - r[i].x, 2)
         |                        + power(r[i + 1].y - r[i].y, 2)),
         |        'x', acc.x + (r[i].x + r[i + 1].x) / 2.0D
         |          * sqrt(power(r[i + 1].x - r[i].x, 2) + power(r[i + 1].y - r[i].y, 2)),
         |        'y', acc.y + (r[i].y + r[i + 1].y) / 2.0D
         |          * sqrt(power(r[i + 1].x - r[i].x, 2) + power(r[i + 1].y - r[i].y, 2))))
         |  )[0]), s -> concat('POINT (', cast(s.x / s.w AS STRING), ' ',
         |                     cast(s.y / s.w AS STRING), ')'))[0]
         |ELSE
         |  transform(array(transform(array(${coords("g")}), r ->
         |    aggregate(sequence(0, size(r) - 2),
         |      named_struct('cr', 0.0D, 'cx', 0.0D, 'cy', 0.0D),
         |      (acc, i) -> named_struct(
         |        'cr', acc.cr + (r[i].x * r[i + 1].y - r[i + 1].x * r[i].y),
         |        'cx', acc.cx + (r[i].x + r[i + 1].x)
         |          * (r[i].x * r[i + 1].y - r[i + 1].x * r[i].y),
         |        'cy', acc.cy + (r[i].y + r[i + 1].y)
         |          * (r[i].x * r[i + 1].y - r[i + 1].x * r[i].y)))
         |  )[0]), s -> concat('POINT (', cast(s.cx / (3.0D * s.cr) AS STRING), ' ',
         |                     cast(s.cy / (3.0D * s.cr) AS STRING), ')'))[0]
         |END""".stripMargin),

    // st_intersects over the point/polygon subset of this tier:
    // point-point equality, point-polygon containment, and
    // polygon-polygon via proper edge crossing (double counter-
    // clockwise orientation test, written inline per the macro/lambda
    // note above) or mutual vertex containment. Collinear-touching
    // edges are implementation-defined, as in any float geometry kernel.
    ("st_intersects", "(a STRING, b STRING) RETURNS BOOLEAN",
      s"""CASE
         |WHEN a LIKE 'POINT%' AND b LIKE 'POINT%' THEN
         |  st_x(a) = st_x(b) AND st_y(a) = st_y(b)
         |WHEN a LIKE 'POINT%' THEN st_contains(b, a)
         |WHEN b LIKE 'POINT%' THEN st_contains(a, b)
         |ELSE transform(array(named_struct(
         |    'ra', ${coords("a")}, 'rb', ${coords("b")})), e ->
         |  exists(sequence(0, size(e.ra) - 2), i ->
         |    exists(sequence(0, size(e.rb) - 2), j ->
         |      ((((e.rb[j].x - e.ra[i].x) * (e.rb[j + 1].y - e.ra[i].y)
         |        - (e.rb[j].y - e.ra[i].y) * (e.rb[j + 1].x - e.ra[i].x)) > 0.0D)
         |       != (((e.rb[j].x - e.ra[i + 1].x) * (e.rb[j + 1].y - e.ra[i + 1].y)
         |        - (e.rb[j].y - e.ra[i + 1].y) * (e.rb[j + 1].x - e.ra[i + 1].x)) > 0.0D))
         |      AND
         |      ((((e.ra[i + 1].x - e.ra[i].x) * (e.rb[j].y - e.ra[i].y)
         |        - (e.ra[i + 1].y - e.ra[i].y) * (e.rb[j].x - e.ra[i].x)) > 0.0D)
         |       != (((e.ra[i + 1].x - e.ra[i].x) * (e.rb[j + 1].y - e.ra[i].y)
         |        - (e.ra[i + 1].y - e.ra[i].y) * (e.rb[j + 1].x - e.ra[i].x)) > 0.0D)))))[0]
         |  OR st_contains(b, st_point(${coords("a")}[0].x, ${coords("a")}[0].y))
         |  OR st_contains(a, st_point(${coords("b")}[0].x, ${coords("b")}[0].y))
         |END""".stripMargin),
    ("st_disjoint", "(a STRING, b STRING) RETURNS BOOLEAN",
      "NOT st_intersects(a, b)"),

    // --- tier 3 accessors/constructors (GeoFunctions.java surface
    // continued; single-ring polygons, so interior-ring accessors are
    // structurally empty) ---
    ("st_line_from_text", "(t STRING) RETURNS STRING", "t"),
    ("st_polygon", "(t STRING) RETURNS STRING", "t"),
    // constructors from point arrays; the coordinate pair is pulled
    // back out of each POINT wkt inline (lambda args can't call macros)
    ("st_multipoint", "(pts ARRAY<STRING>) RETURNS STRING",
      """concat('MULTIPOINT (', array_join(transform(pts,
        |  p -> regexp_extract(p, 'POINT \\((.+)\\)', 1)), ', '), ')')""".stripMargin),
    ("st_linestring", "(pts ARRAY<STRING>) RETURNS STRING",
      """concat('LINESTRING (', array_join(transform(pts,
        |  p -> regexp_extract(p, 'POINT \\((.+)\\)', 1)), ', '), ')')""".stripMargin),
    // get() (null on out-of-range) instead of [] — codegen subexpression
    // elimination hoists the index out of the IF guard, so a throwing
    // accessor would fail even for guarded out-of-range n
    ("st_pointn", "(g STRING, n INT) RETURNS STRING",
      s"""IF(n >= 1 AND n <= size(${coords("g")}),
         |  st_point(get(${coords("g")}, n - 1).x, get(${coords("g")}, n - 1).y),
         |  cast(NULL AS STRING))""".stripMargin),
    ("st_points", "(g STRING) RETURNS ARRAY<STRING>",
      s"""transform(${coords("g")},
         |  p -> concat('POINT (', cast(p.x AS STRING), ' ', cast(p.y AS STRING), ')'))""".stripMargin),
    ("st_exterior_ring", "(poly STRING) RETURNS STRING",
      """concat('LINESTRING (',
        |  regexp_extract(poly, '\\(\\(([^)]+)\\)\\)', 1), ')')""".stripMargin),
    // r4 late: hole-REAL accessors (GeoFunctions.java ST_NumInteriorRing/
    // ST_InteriorRings/ST_InteriorRingN) — the overlay tier now emits
    // polygons with interior rings, so these count/extract them for
    // real: rings after the first paren group are interiors, returned
    // as LINESTRINGs like st_exterior_ring.
    ("st_num_interior_ring", "(poly STRING) RETURNS BIGINT",
      """IF(poly NOT LIKE 'POLYGON%', cast(NULL AS BIGINT),
        |  IF(poly LIKE '%EMPTY', 0L,
        |    cast(size(regexp_extract_all(poly, '\\(([^()]+)\\)', 1)) - 1 AS BIGINT)))""".stripMargin),
    ("st_interior_rings", "(poly STRING) RETURNS ARRAY<STRING>",
      """IF(poly NOT LIKE 'POLYGON%', cast(NULL AS ARRAY<STRING>),
        |  IF(poly LIKE '%EMPTY', array(),
        |    transform(
        |      slice(regexp_extract_all(poly, '\\(([^()]+)\\)', 1), 2, 1000000),
        |      r -> concat('LINESTRING (', r, ')'))))""".stripMargin),
    // reference indexing starts at 1 over the interior rings; out of
    // range → NULL (GeoFunctions.java ST_InteriorRingN)
    ("st_interior_ring_n", "(poly STRING, n INT) RETURNS STRING",
      """IF(poly NOT LIKE 'POLYGON%' OR poly LIKE '%EMPTY' OR n < 1,
        |  cast(NULL AS STRING),
        |  CASE WHEN try_element_at(
        |      regexp_extract_all(poly, '\\(([^()]+)\\)', 1), n + 1) IS NULL
        |    THEN cast(NULL AS STRING)
        |    ELSE concat('LINESTRING (', try_element_at(
        |      regexp_extract_all(poly, '\\(([^()]+)\\)', 1), n + 1), ')') END)""".stripMargin),
    ("st_is_empty", "(g STRING) RETURNS BOOLEAN", "g LIKE '%EMPTY'"),
    ("st_coord_dim", "(g STRING) RETURNS INT", "2"),
    ("st_dimension", "(g STRING) RETURNS INT",
      """CASE WHEN g LIKE 'POINT%' OR g LIKE 'MULTIPOINT%' THEN 0
        |     WHEN g LIKE 'LINESTRING%' OR g LIKE 'MULTILINESTRING%' THEN 1
        |     ELSE 2 END""".stripMargin),
    ("st_envelope_as_pts", "(g STRING) RETURNS ARRAY<STRING>",
      "array(st_point(st_xmin(g), st_ymin(g)), st_point(st_xmax(g), st_ymax(g)))"),
    ("st_num_geometries", "(g STRING) RETURNS INT",
      """CASE WHEN g LIKE '%EMPTY' THEN 0
        |WHEN g LIKE 'MULTIPOLYGON%' THEN
        |  size(regexp_extract_all(g, '\\(\\([^()]+\\)\\)', 0))
        |WHEN g LIKE 'MULTIPOINT%' THEN
        |  size(split(regexp_extract(g, '\\((.+)\\)', 1), ','))
        |ELSE 1 END""".stripMargin),
    ("st_geometry_n", "(g STRING, n INT) RETURNS STRING",
      """CASE WHEN n < 1 OR n > st_num_geometries(g) THEN cast(NULL AS STRING)
        |WHEN g LIKE 'MULTIPOLYGON%' THEN concat('POLYGON ',
        |  regexp_extract_all(g, '\\(\\([^()]+\\)\\)', 0)[n - 1])
        |WHEN g LIKE 'MULTIPOINT%' THEN concat('POINT (',
        |  trim(split(regexp_extract(g, '\\((.+)\\)', 1), ',')[n - 1]), ')')
        |ELSE g END""".stripMargin),
    ("st_geometries", "(g STRING) RETURNS ARRAY<STRING>",
      """CASE WHEN g LIKE '%EMPTY' THEN array()
        |WHEN g LIKE 'MULTIPOLYGON%' THEN
        |  transform(regexp_extract_all(g, '\\(\\([^()]+\\)\\)', 0),
        |    part -> concat('POLYGON ', part))
        |WHEN g LIKE 'MULTIPOINT%' THEN
        |  transform(split(regexp_extract(g, '\\((.+)\\)', 1), ','),
        |    c -> concat('POINT (', trim(c), ')'))
        |ELSE array(g) END""".stripMargin),
    // boundary: point → empty, open linestring → its endpoints, closed
    // linestring → empty, polygon → its ring (GeoFunctions.java
    // stBoundary semantics via Esri boundary())
    ("st_boundary", "(g STRING) RETURNS STRING",
      s"""CASE WHEN g LIKE 'POINT%' OR g LIKE 'MULTIPOINT%' THEN
         |  'GEOMETRYCOLLECTION EMPTY'
         |WHEN g LIKE 'LINESTRING%' THEN
         |  IF(st_isclosed(g), 'MULTIPOINT EMPTY',
         |    concat('MULTIPOINT (',
         |      cast(${coords("g")}[0].x AS STRING), ' ',
         |      cast(${coords("g")}[0].y AS STRING), ', ',
         |      cast(element_at(${coords("g")}, -1).x AS STRING), ' ',
         |      cast(element_at(${coords("g")}, -1).y AS STRING), ')'))
         |ELSE st_exterior_ring(g) END""".stripMargin),
    ("st_is_ring", "(g STRING) RETURNS BOOLEAN",
      "st_isclosed(g) AND st_is_simple(g)"),

    // --- Bing tile tier (presto-geospatial BingTileFunctions.java /
    // BingTile.java; tile math per the public Bing Maps tile-system
    // spec). A tile is represented by its QUADKEY string — the quadkey
    // bijectively encodes (x, y, zoom) (zoom = length), which is also
    // how Presto's BingTile casts to varchar. All macros are pure
    // arithmetic; mapSize = 256 · 2^zoom as in the reference
    // (BingTileFunctions.java:598-637).

    // quadkey digit i = x-bit + 2·y-bit at level i (BingTile.java:131)
    // zoom 0 is the root tile: empty quadkey (sequence(0, 1, -1) would
    // be an illegal-boundaries error, so it is guarded)
    ("bing_tile", "(x BIGINT, y BIGINT, zoom INT) RETURNS STRING",
      """IF(zoom < 1, '', array_join(transform(sequence(zoom, 1, -1), i ->
        |  cast(shiftright(x, i - 1) % 2 + 2 * (shiftright(y, i - 1) % 2) AS STRING)), ''))""".stripMargin),
    ("bing_tile_from_quadkey", "(q STRING) RETURNS STRING", "q"),
    ("bing_tile_quadkey", "(t STRING) RETURNS STRING", "t"),
    ("bing_tile_zoom_level", "(t STRING) RETURNS INT", "length(t)"),
    // inverse of the digit expansion (BingTile.java:84 fromQuadKey)
    ("bing_tile_coordinates", "(t STRING) RETURNS STRUCT<x: BIGINT, y: BIGINT>",
      """named_struct(
        |  'x', aggregate(sequence(1, length(t)), 0L,
        |         (acc, i) -> acc * 2 + (ascii(substr(t, i, 1)) - 48) % 2),
        |  'y', aggregate(sequence(1, length(t)), 0L,
        |         (acc, i) -> acc * 2 + (ascii(substr(t, i, 1)) - 48) div 2))""".stripMargin),
    // lat/lon → tile via Mercator pixel coords then /256, clipped to
    // [0, mapSize-1] (BingTileFunctions.java longitudeToTileX/Y)
    ("bing_tile_at", "(lat DOUBLE, lon DOUBLE, zoom INT) RETURNS STRING",
      """bing_tile(
        |  cast(least(greatest((lon + 180.0D) / 360.0D
        |      * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |    cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |  cast(least(greatest((0.5D
        |      - ln((1.0D + sin(lat * pi() / 180.0D)) / (1.0D - sin(lat * pi() / 180.0D)))
        |        / (4.0D * pi()))
        |      * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |    cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |  zoom)""".stripMargin),
    // tile envelope in lat/lon (tileXYToLatitudeLongitude,
    // BingTileFunctions.java:580): lon = 360·(px/mapSize − 0.5),
    // lat = 90 − 360·atan(exp(−(0.5 − py/mapSize)·2π))/π
    ("bing_tile_polygon", "(t STRING) RETURNS STRING",
      """transform(array(named_struct(
        |    'lon0', 360.0D * (cast(bing_tile_coordinates(t).x * 256 AS DOUBLE)
        |      / cast(shiftleft(256L, length(t)) AS DOUBLE) - 0.5D),
        |    'lon1', 360.0D * (cast((bing_tile_coordinates(t).x + 1) * 256 AS DOUBLE)
        |      / cast(shiftleft(256L, length(t)) AS DOUBLE) - 0.5D),
        |    'lat0', 90.0D - 360.0D * atan(exp(-(0.5D
        |      - cast((bing_tile_coordinates(t).y + 1) * 256 AS DOUBLE)
        |        / cast(shiftleft(256L, length(t)) AS DOUBLE)) * 2.0D * pi())) / pi(),
        |    'lat1', 90.0D - 360.0D * atan(exp(-(0.5D
        |      - cast(bing_tile_coordinates(t).y * 256 AS DOUBLE)
        |        / cast(shiftleft(256L, length(t)) AS DOUBLE)) * 2.0D * pi())) / pi())), e ->
        |  concat('POLYGON ((',
        |    cast(e.lon0 AS STRING), ' ', cast(e.lat0 AS STRING), ', ',
        |    cast(e.lon1 AS STRING), ' ', cast(e.lat0 AS STRING), ', ',
        |    cast(e.lon1 AS STRING), ' ', cast(e.lat1 AS STRING), ', ',
        |    cast(e.lon0 AS STRING), ' ', cast(e.lat1 AS STRING), ', ',
        |    cast(e.lon0 AS STRING), ' ', cast(e.lat0 AS STRING), '))'))[0]""".stripMargin),
    // 3×3 neighborhood clipped to the zoom's tile range
    // (BingTileFunctions.java:168-197); the quadkey expansion is
    // written inline because a macro invoked with lambda-bound
    // variables does not inline (see the note above)
    ("bing_tiles_around", "(lat DOUBLE, lon DOUBLE, zoom INT) RETURNS ARRAY<STRING>",
      """transform(array(named_struct(
        |    'tx', cast(least(greatest((lon + 180.0D) / 360.0D
        |        * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |      cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |    'ty', cast(least(greatest((0.5D
        |        - ln((1.0D + sin(lat * pi() / 180.0D)) / (1.0D - sin(lat * pi() / 180.0D)))
        |          / (4.0D * pi()))
        |        * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |      cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |    'mx', shiftleft(1L, zoom) - 1)), e ->
        |  filter(transform(sequence(0, 8), k ->
        |    IF(e.tx + k div 3 - 1 >= 0 AND e.tx + k div 3 - 1 <= e.mx
        |       AND e.ty + k % 3 - 1 >= 0 AND e.ty + k % 3 - 1 <= e.mx,
        |      IF(zoom < 1, '', array_join(transform(sequence(zoom, 1, -1), i ->
        |        cast(shiftright(e.tx + k div 3 - 1, i - 1) % 2
        |          + 2 * (shiftright(e.ty + k % 3 - 1, i - 1) % 2) AS STRING)), '')),
        |      NULL)), q -> q IS NOT NULL))[0]""".stripMargin),
    // Tile cover of a geometry's envelope at the given zoom
    // (BingTileFunctions.geometryToBingTiles). The reference subdivides
    // recursively and drops tiles disjoint from the geometry; the
    // envelope tile RANGE here is identical for every envelope-filling
    // geometry, and the exact-geometry refinement is one
    // st_intersects(bing_tile_polygon(t), g) filter over the result
    // (fn_geometry_to_bing_tiles demonstrates it). Corner tiles come
    // from the same Mercator pixel math as bing_tile_at; the per-tile
    // quadkey expansion is inlined (macros don't inline under
    // lambda-bound variables, see bing_tiles_around).
    ("geometry_to_bing_tiles", "(g STRING, zoom INT) RETURNS ARRAY<STRING>",
      """transform(array(named_struct(
        |    'x0', cast(least(greatest((st_xmin(g) + 180.0D) / 360.0D
        |        * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |      cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |    'x1', cast(least(greatest((st_xmax(g) + 180.0D) / 360.0D
        |        * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |      cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |    'y0', cast(least(greatest((0.5D
        |        - ln((1.0D + sin(st_ymax(g) * pi() / 180.0D))
        |            / (1.0D - sin(st_ymax(g) * pi() / 180.0D))) / (4.0D * pi()))
        |        * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |      cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256,
        |    'y1', cast(least(greatest((0.5D
        |        - ln((1.0D + sin(st_ymin(g) * pi() / 180.0D))
        |            / (1.0D - sin(st_ymin(g) * pi() / 180.0D))) / (4.0D * pi()))
        |        * cast(shiftleft(256L, zoom) AS DOUBLE), 0.0D),
        |      cast(shiftleft(256L, zoom) AS DOUBLE) - 1.0D) AS BIGINT) div 256)), e ->
        |  flatten(transform(sequence(e.x0, e.x1), tx ->
        |    transform(sequence(e.y0, e.y1), ty ->
        |      IF(zoom < 1, '', array_join(transform(sequence(zoom, 1, -1), i ->
        |        cast(shiftright(tx, i - 1) % 2
        |          + 2 * (shiftright(ty, i - 1) % 2) AS STRING)), ''))))))[0]""".stripMargin)
  )

  /** Presto resolves function names case-insensitively, so the SQL-level
    * identifier for e.g. `ST_IsEmpty` is the case-collapsed `st_isempty`
    * (GeoFunctions.java:136-1119) — NOT the snake_case `st_is_empty`
    * spelling used internally above. Every multi-word ST_ macro is
    * therefore also registered under its Presto-collapsed alias: the
    * original's own SQL function registered a second time under the
    * alias name (same signature, body and properties), so both names
    * analyze to the same expression.
    */
  private[graft] val prestoAliases: Seq[(String, String)] = Seq(
    "st_geometryfromtext" -> "st_geometry_from_text",
    "st_geometrytype"     -> "st_geometry_type",
    "st_numpoints"        -> "st_npoints",
    "st_exteriorring"     -> "st_exterior_ring",
    "st_numinteriorring"  -> "st_num_interior_ring",
    "st_interiorrings"    -> "st_interior_rings",
    "st_interiorringn"    -> "st_interior_ring_n",
    "st_isempty"          -> "st_is_empty",
    "st_coorddim"         -> "st_coord_dim",
    "st_envelopeaspts"    -> "st_envelope_as_pts",
    "st_numgeometries"    -> "st_num_geometries",
    "st_geometryn"        -> "st_geometry_n",
    "st_isring"           -> "st_is_ring",
    "st_linefromtext"     -> "st_line_from_text")

  def register(spark: SparkSession): Unit = {
    val registered = SqlMacros.register(spark, macros)
    prestoAliases.foreach { case (alias, orig) =>
      SqlMacros.alias(spark, registered(orig), alias)
    }
  }
}
