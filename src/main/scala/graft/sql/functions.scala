package graft.sql

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/**
 * Column API for the st_* operators plus SQL function registration
 * (SparkSessionExtensions.injectFunction analogue via the session
 * FunctionRegistry — SURVEY.md §2.6). Both build from [[Catalogue]].
 */
object functions {

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def x(c: Column): Expression = ColumnBridge.expression(c)
  private def call(name: String, args: Column*): Column = col(Catalogue(name)(args.map(x)))

  // codecs
  def st_geomfromtext(wkt: Column): Column = call("st_geomfromtext", wkt)

  /** EXPLICITLY LOSSY drop-to-2D parse of XYZ/XYM/XYZM WKT (PostGIS-
    * sourced corpora): the Z/M token and extra ordinates drop. The
    * default st_geomfromtext keeps the typed rejection contract. */
  def st_geomfromtext_force2d(wkt: Column): Column = call("st_geomfromtext_force2d", wkt)
  def st_astext(g: Column): Column = call("st_astext", g)
  def st_geometrytype(g: Column): Column = call("st_geometrytype", g)
  def st_point(lon: Column, lat: Column): Column = call("st_point", lon, lat)
  /** PostGIS alias of [[st_point]]. */
  def st_makepoint(lon: Column, lat: Column): Column = st_point(lon, lat)
  def st_rect(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    call("st_rect", xmin, ymin, xmax, ymax)
  /** GEOMETRYCOLLECTION ↔ array<geom> (Spark-native collection form). */
  def st_collection_fromtext(wkt: Column): Column = call("st_collection_fromtext", wkt)
  def st_collection_astext(arr: Column): Column = call("st_collection_astext", arr)
  /** Unary union of an array<geom>: merged polygons, fully noded +
    * dissolved linework, residual points (empties omitted). */
  def st_unary_union(arr: Column): Column = call("st_unary_union", arr)
  /** JTS GeometryCollection centroid over array<geom> (highest
    * dimension wins). */
  def st_collection_centroid(arr: Column): Column = call("st_collection_centroid", arr)
  def st_numparts(g: Column): Column = call("st_numparts", g)
  /** OGC Mod-2 boundary. */
  def st_boundary(g: Column): Column = call("st_boundary", g)
  /** Minimum clearance distance / realizing line. */
  def st_minclearance(g: Column): Column = call("st_minclearance", g)
  def st_minclearanceline(g: Column): Column = call("st_minclearanceline", g)
  /** Polygonize linework: array<geom> → array of formed polygons. */
  def st_polygonize(arr: Column): Column = call("st_polygonize", arr)
  /** Winnowing (MOSS) rolling-hash fingerprints of a text column. */
  def st_winnow(text: Column, k: Column, w: Column): Column = call("st_winnow", text, k, w)

  // measures
  def st_area(g: Column): Column = call("st_area", g)
  def st_unsigned_area(g: Column): Column = call("st_unsigned_area", g)
  def st_sphere_area(g: Column): Column = call("st_sphere_area", g)
  def st_geodesic_area(g: Column): Column = call("st_geodesic_area", g)
  def st_geodesic_area_unsigned(g: Column): Column = call("st_geodesic_area_unsigned", g)
  def st_length(g: Column): Column = call("st_length", g)
  def st_length_sphere(g: Column): Column = call("st_length_sphere", g)
  def st_length_rhumb(g: Column): Column = call("st_length_rhumb", g)
  def st_length_geodesic(g: Column): Column = call("st_length_geodesic", g)
  def st_perimeter(g: Column): Column = call("st_perimeter", g)
  def st_numpoints(g: Column): Column = call("st_numpoints", g)
  /** PostGIS alias of [[st_numpoints]]. */
  def st_npoints(g: Column): Column = st_numpoints(g)
  def st_isempty(g: Column): Column = call("st_isempty", g)
  def st_isccw(g: Column): Column = call("st_isccw", g)
  def st_isconvex(g: Column): Column = call("st_isconvex", g)
  def st_windingorder(g: Column): Column = call("st_windingorder", g)
  def st_xmin(g: Column): Column = call("st_xmin", g)
  def st_ymin(g: Column): Column = call("st_ymin", g)
  def st_xmax(g: Column): Column = call("st_xmax", g)
  def st_ymax(g: Column): Column = call("st_ymax", g)
  def st_x(g: Column): Column = call("st_x", g)
  def st_y(g: Column): Column = call("st_y", g)
  def st_extremes(g: Column): Column = call("st_extremes", g)

  // derived geometries
  def st_centroid(g: Column): Column = call("st_centroid", g)
  def st_envelope(g: Column): Column = call("st_envelope", g)
  def st_interiorpoint(g: Column): Column = call("st_interiorpoint", g)
  def st_convexhull(g: Column): Column = call("st_convexhull", g)
  def st_grahamhull(g: Column, includeOnHull: Column): Column =
    call("st_grahamhull", g, includeOnHull)
  def st_subdivide(g: Column, maxVerts: Column): Column = call("st_subdivide", g, maxVerts)
  def st_linemerge(g: Column): Column = call("st_linemerge", g)
  def st_offsetcurve(g: Column, dist: Column): Column = call("st_offsetcurve", g, dist)
  def st_makevalid(g: Column): Column = call("st_makevalid", g)
  def st_shortestline(a: Column, b: Column): Column = call("st_shortestline", a, b)
  def st_snap(a: Column, b: Column, tol: Column): Column = call("st_snap", a, b, tol)
  def st_split(a: Column, b: Column): Column = call("st_split", a, b)
  def st_linesubstring(g: Column, t0: Column, t1: Column): Column =
    call("st_linesubstring", g, t0, t1)
  def st_reverse(g: Column): Column = call("st_reverse", g)
  def st_normalize(g: Column): Column = call("st_normalize", g)
  def st_exteriorring(g: Column): Column = call("st_exteriorring", g)
  def st_numinteriorrings(g: Column): Column = call("st_numinteriorrings", g)
  def st_interiorringn(g: Column, n: Column): Column = call("st_interiorringn", g, n)
  def st_pointn(g: Column, n: Column): Column = call("st_pointn", g, n)
  def st_startpoint(g: Column): Column = call("st_startpoint", g)
  def st_endpoint(g: Column): Column = call("st_endpoint", g)
  def st_geometryn(g: Column, n: Column): Column = call("st_geometryn", g, n)
  def st_dumprings(g: Column): Column = call("st_dumprings", g)
  def st_maxdistance(a: Column, b: Column): Column = call("st_maxdistance", a, b)
  def st_longestline(a: Column, b: Column): Column = call("st_longestline", a, b)
  def st_makeline(arr: Column): Column = call("st_makeline", arr)
  def st_flipcoordinates(g: Column): Column = call("st_flipcoordinates", g)
  def st_isclosed(g: Column): Column = call("st_isclosed", g)
  def st_issimple(g: Column): Column = call("st_issimple", g)
  def st_isring(g: Column): Column = call("st_isring", g)
  def st_multi(g: Column): Column = call("st_multi", g)
  def st_points(g: Column): Column = call("st_points", g)
  def st_boundingdiagonal(g: Column): Column = call("st_boundingdiagonal", g)
  def st_scroll(g: Column, p: Column): Column = call("st_scroll", g, p)
  def st_shift_longitude(g: Column): Column = call("st_shift_longitude", g)
  def st_minimumboundingcircle(g: Column): Column = call("st_minimumboundingcircle", g)
  def st_minimumboundingcircle(g: Column, segs: Column): Column =
    call("st_minimumboundingcircle", g, segs)
  def st_minimumboundingradius(g: Column): Column = call("st_minimumboundingradius", g)
  def st_sharedpaths(a: Column, b: Column): Column = call("st_sharedpaths", a, b)
  def st_linecrossingdirection(a: Column, b: Column): Column =
    call("st_linecrossingdirection", a, b)
  def st_hexbin(xc: Column, yc: Column, size: Column): Column = call("st_hexbin", xc, yc, size)
  def st_hexbin_center(q: Column, r: Column, size: Column): Column =
    call("st_hexbin_center", q, r, size)
  def st_hexagon(q: Column, r: Column, size: Column): Column = call("st_hexagon", q, r, size)
  def st_tileenvelope(z: Column, xt: Column, yt: Column): Column =
    call("st_tileenvelope", z, xt, yt)
  def st_tileenvelope(z: Column, xt: Column, yt: Column, margin: Column): Column =
    call("st_tileenvelope", z, xt, yt, margin)
  def st_asmvtgeom(g: Column, z: Column, xt: Column, yt: Column): Column =
    call("st_asmvtgeom", g, z, xt, yt)
  def st_asmvtgeom(g: Column, z: Column, xt: Column, yt: Column,
      extent: Column, buffer: Column, clip: Column): Column =
    call("st_asmvtgeom", g, z, xt, yt, extent, buffer, clip)
  def st_squaregrid(g: Column, size: Column): Column = call("st_squaregrid", g, size)
  def st_squaregrid_cell(i: Column, j: Column, size: Column): Column =
    call("st_squaregrid_cell", i, j, size)
  def st_asmvt(g: Column, id: Column): Column =
    col(StAsMvtAgg(x(g), x(id)).toAggregateExpression())
  def st_asmvt(g: Column, id: Column, layer: String, extent: Int): Column =
    col(StAsMvtAgg(x(g), x(id), None, layer, extent).toAggregateExpression())
  def st_asmvt(g: Column, id: Column, attrs: Column): Column =
    col(StAsMvtAgg(x(g), x(id), Some(x(attrs))).toAggregateExpression())
  def st_asmvt(g: Column, id: Column, attrs: Column,
      layer: String, extent: Int): Column =
    col(StAsMvtAgg(x(g), x(id), Some(x(attrs)), layer, extent).toAggregateExpression())
  def st_mvt_decode(tile: Column): Column = call("st_mvt_decode", tile)
  def st_mvt_layername(tile: Column): Column = call("st_mvt_layername", tile)
  def st_mvt_extent(tile: Column): Column = call("st_mvt_extent", tile)
  def st_geometricmedian(g: Column): Column = call("st_geometricmedian", g)
  def st_geometricmedian(g: Column, tol: Column, maxIter: Column): Column =
    call("st_geometricmedian", g, tol, maxIter)
  def st_generatepoints(g: Column, n: Column): Column = call("st_generatepoints", g, n)
  def st_generatepoints(g: Column, n: Column, seed: Column): Column =
    call("st_generatepoints", g, n, seed)
  def st_hexdistance(q1: Column, r1: Column, q2: Column, r2: Column): Column =
    call("st_hexdistance", q1, r1, q2, r2)
  def st_hexring(q: Column, r: Column, k: Column): Column = call("st_hexring", q, r, k)
  def st_quadkey(z: Column, xt: Column, yt: Column): Column = call("st_quadkey", z, xt, yt)
  def st_quadkey_decode(qk: Column): Column = call("st_quadkey_decode", qk)
  def st_lineinterpolatepoints(line: Column, fraction: Column): Column =
    call("st_lineinterpolatepoints", line, fraction)
  def st_addpoint(line: Column, p: Column, pos: Column): Column = call("st_addpoint", line, p, pos)
  def st_setpoint(line: Column, pos: Column, p: Column): Column = call("st_setpoint", line, pos, p)
  def st_removepoint(line: Column, pos: Column): Column = call("st_removepoint", line, pos)
  def st_angle(a: Column, b: Column, c: Column): Column = call("st_angle", a, b, c)
  def st_expand(g: Column, d: Column): Column = call("st_expand", g, d)
  def st_node(g: Column): Column = call("st_node", g)
  def st_maximuminscribedcircle(g: Column, tol: Column): Column =
    call("st_maximuminscribedcircle", g, tol)
  def st_largestemptycircle(g: Column, tol: Column): Column = call("st_largestemptycircle", g, tol)
  def st_voronoi(g: Column): Column = call("st_voronoi", g)
  def st_voronoi(g: Column, minX: Column, minY: Column, maxX: Column, maxY: Column): Column =
    call("st_voronoi", g, minX, minY, maxX, maxY)
  def st_buffer(g: Column, dist: Column): Column = call("st_buffer", g, dist)
  def st_buffer(g: Column, dist: Column, style: Column): Column = call("st_buffer", g, dist, style)
  def st_simplify(g: Column, eps: Column): Column = call("st_simplify", g, eps)
  def st_simplifyvw(g: Column, eps: Column): Column = call("st_simplifyvw", g, eps)
  def st_simplify_idx(g: Column, eps: Column): Column = call("st_simplify_idx", g, eps)
  def st_simplifyvw_idx(g: Column, eps: Column): Column = call("st_simplifyvw_idx", g, eps)
  def st_densify(g: Column, maxLen: Column): Column = call("st_densify", g, maxLen)
  def st_densify_rhumb(g: Column, maxLen: Column): Column = call("st_densify_rhumb", g, maxLen)
  def st_densify_geodesic(g: Column, maxLen: Column): Column =
    call("st_densify_geodesic", g, maxLen)
  def st_densify_haversine(g: Column, maxLen: Column): Column =
    call("st_densify_haversine", g, maxLen)
  def st_chaikin(g: Column, n: Column): Column = call("st_chaikin", g, n)
  def st_removerepeated(g: Column): Column = call("st_removerepeated", g)
  def st_toradians(g: Column): Column = call("st_toradians", g)
  def st_todegrees(g: Column): Column = call("st_todegrees", g)
  def st_force_cw(g: Column): Column = call("st_force_cw", g)
  def st_force_ccw(g: Column): Column = call("st_force_ccw", g)
  def st_dumppoints(g: Column): Column = call("st_dumppoints", g)
  def st_dumpsegments(g: Column): Column = call("st_dumpsegments", g)
  def st_lineintersection(a: Column, b: Column): Column = call("st_lineintersection", a, b)
  def st_closestpoint(g: Column, p: Column): Column = call("st_closestpoint", g, p)

  // transforms
  def st_affine(g: Column, a: Column, b: Column, xoff: Column,
      d: Column, e: Column, yoff: Column): Column =
    call("st_affine", g, a, b, xoff, d, e, yoff)
  def st_translate(g: Column, tx: Column, ty: Column): Column = call("st_translate", g, tx, ty)
  def st_rotate(g: Column, degrees: Column): Column = call("st_rotate", g, degrees)
  def st_scale(g: Column, sx: Column, sy: Column): Column = call("st_scale", g, sx, sy)
  def st_skew(g: Column, degX: Column, degY: Column): Column = call("st_skew", g, degX, degY)

  // predicates
  def st_contains(a: Column, b: Column): Column = call("st_contains", a, b)
  def st_within(a: Column, b: Column): Column = call("st_within", a, b)
  def st_intersects(a: Column, b: Column): Column = call("st_intersects", a, b)
  def st_disjoint(a: Column, b: Column): Column = call("st_disjoint", a, b)
  def st_contains_xy(poly: Column, lon: Column, lat: Column): Column =
    call("st_contains_xy", poly, lon, lat)
  def st_intersects_xy(g: Column, lon: Column, lat: Column): Column =
    call("st_intersects_xy", g, lon, lat)

  // distances / navigation
  def st_distance(a: Column, b: Column): Column = call("st_distance", a, b)
  def st_distance_sphere(a: Column, b: Column): Column = call("st_distance_sphere", a, b)
  def st_distance_rhumb(a: Column, b: Column): Column = call("st_distance_rhumb", a, b)
  def st_distance_geodesic(a: Column, b: Column): Column = call("st_distance_geodesic", a, b)
  def st_azimuth(a: Column, b: Column): Column = call("st_azimuth", a, b)
  def st_bearing(a: Column, b: Column): Column = call("st_bearing", a, b)
  def st_bearing_rhumb(a: Column, b: Column): Column = call("st_bearing_rhumb", a, b)
  def st_bearing_geodesic(a: Column, b: Column): Column = call("st_bearing_geodesic", a, b)
  def st_project(p: Column, bearing: Column, meters: Column): Column =
    call("st_project", p, bearing, meters)
  def st_project_rhumb(p: Column, bearing: Column, meters: Column): Column =
    call("st_project_rhumb", p, bearing, meters)
  def st_project_geodesic(p: Column, bearing: Column, meters: Column): Column =
    call("st_project_geodesic", p, bearing, meters)
  def st_crosstrack(p: Column, a: Column, b: Column): Column = call("st_crosstrack", p, a, b)
  def st_hausdorff(a: Column, b: Column): Column = call("st_hausdorff", a, b)
  def st_frechet(a: Column, b: Column): Column = call("st_frechet", a, b)
  def st_linelocatepoint(line: Column, p: Column): Column = call("st_linelocatepoint", line, p)
  def st_lineinterpolatepoint(line: Column, fraction: Column): Column =
    call("st_lineinterpolatepoint", line, fraction)
  def st_lineinterpolate_sphere(a: Column, b: Column, ratio: Column): Column =
    call("st_lineinterpolate_sphere", a, b, ratio)
  def st_lineinterpolate_rhumb(a: Column, b: Column, ratio: Column): Column =
    call("st_lineinterpolate_rhumb", a, b, ratio)
  def st_lineinterpolate_geodesic(a: Column, b: Column, ratio: Column): Column =
    call("st_lineinterpolate_geodesic", a, b, ratio)

  // wkb / validation / vwp
  def st_asgeojson(g: Column): Column = call("st_asgeojson", g)
  def st_geomfromgeojson(s: Column): Column = call("st_geomfromgeojson", s)
  def st_geomfromwkb(b: Column): Column = call("st_geomfromwkb", b)

  /** EXPLICITLY LOSSY drop-to-2D parse of Z/M-bearing (E)WKB. */
  def st_geomfromwkb_force2d(b: Column): Column = call("st_geomfromwkb_force2d", b)
  def st_aswkb(g: Column): Column = call("st_aswkb", g)
  /** EWKB interop: the reader accepts both plain WKB and SRID-tagged
    * EWKB, so st_geomfromewkb is the same decoder under the PostGIS
    * name; st_asewkb tags with an SRID; st_srid extracts it (0 when
    * untagged). */
  def st_geomfromewkb(b: Column): Column = call("st_geomfromewkb", b)
  def st_asewkb(g: Column, srid: Column): Column = call("st_asewkb", g, srid)
  def st_srid(b: Column): Column = call("st_srid", b)
  def st_isvalid(g: Column): Column = call("st_isvalid", g)
  def st_isvalidreason(g: Column): Column = call("st_isvalidreason", g)
  def st_simplifyvw_preserve(g: Column, eps: Column): Column =
    call("st_simplifyvw_preserve", g, eps)

  // overlay (boolean ops)
  def st_intersection(a: Column, b: Column): Column = call("st_intersection", a, b)
  def st_union(a: Column, b: Column): Column = call("st_union", a, b)
  def st_difference(a: Column, b: Column): Column = call("st_difference", a, b)
  def st_symdifference(a: Column, b: Column): Column = call("st_symdifference", a, b)
  // Heterogeneous (any dimension mix) boolean ops — result is the
  // array<geom> collection form [polygonal?, linework?, points?]
  def st_intersection_hetero(a: Column, b: Column): Column = call("st_intersection_hetero", a, b)
  def st_union_hetero(a: Column, b: Column): Column = call("st_union_hetero", a, b)
  def st_difference_hetero(a: Column, b: Column): Column = call("st_difference_hetero", a, b)
  def st_symdifference_hetero(a: Column, b: Column): Column = call("st_symdifference_hetero", a, b)
  def st_clip(poly: Column, line: Column, invert: Column): Column =
    call("st_clip", poly, line, invert)
  /** CRS reprojection between EPSG codes (4326, 3857, 28992, UTM). */
  def st_transform(g: Column, fromSrid: Column, toSrid: Column): Column =
    call("st_transform", g, fromSrid, toSrid)

  // fixed-precision (snap-rounded) overlay: every coordinate of the
  // result lies on the round(v*scale)/scale grid; rings that collapse
  // on the grid surface as 1-D linework via the `_lines` variants
  def st_snap_to_grid(g: Column, scale: Column): Column = call("st_snap_to_grid", g, scale)
  def st_intersection_sr(a: Column, b: Column, scale: Column): Column =
    call("st_intersection_sr", a, b, scale)
  def st_union_sr(a: Column, b: Column, scale: Column): Column =
    call("st_union_sr", a, b, scale)
  def st_difference_sr(a: Column, b: Column, scale: Column): Column =
    call("st_difference_sr", a, b, scale)
  def st_symdifference_sr(a: Column, b: Column, scale: Column): Column =
    call("st_symdifference_sr", a, b, scale)
  def st_intersection_sr_lines(a: Column, b: Column, scale: Column): Column =
    call("st_intersection_sr_lines", a, b, scale)
  def st_union_sr_lines(a: Column, b: Column, scale: Column): Column =
    call("st_union_sr_lines", a, b, scale)
  def st_difference_sr_lines(a: Column, b: Column, scale: Column): Column =
    call("st_difference_sr_lines", a, b, scale)
  def st_symdifference_sr_lines(a: Column, b: Column, scale: Column): Column =
    call("st_symdifference_sr_lines", a, b, scale)
  /** Dissolve: n-way union of a group's geometries as a REAL partial
    * aggregate (TypedImperativeAggregate): per-partition partial
    * unions, merged by pairwise union — per-task memory is O(batch +
    * partial), never the group's geometry list. */
  def st_union_agg(g: Column): Column =
    col(StUnionAgg(x(g)).toAggregateExpression())

  // relate (DE-9IM)
  def st_relate(a: Column, b: Column): Column = call("st_relate", a, b)
  def st_relatematch(a: Column, b: Column, pattern: Column): Column =
    call("st_relatematch", a, b, pattern)
  def st_touches(a: Column, b: Column): Column = call("st_touches", a, b)
  def st_crosses(a: Column, b: Column): Column = call("st_crosses", a, b)
  def st_overlaps(a: Column, b: Column): Column = call("st_overlaps", a, b)
  def st_covers(a: Column, b: Column): Column = call("st_covers", a, b)
  def st_coveredby(a: Column, b: Column): Column = call("st_coveredby", a, b)
  def st_equals(a: Column, b: Column): Column = call("st_equals", a, b)

  // shapes
  def st_concavehull(g: Column, concavity: Column): Column = call("st_concavehull", g, concavity)
  def st_knnconcavehull(g: Column, k: Column): Column = call("st_knnconcavehull", g, k)
  def st_minrotatedrect(g: Column): Column = call("st_minrotatedrect", g)
  def st_triangulate(g: Column): Column = call("st_triangulate", g)
  /** Constrained Delaunay for polygonal input, plain Delaunay of the
    * geometry's points otherwise (TriangulateSpade semantics). */
  def st_delaunay(g: Column): Column = call("st_delaunay", g)
  def st_delaunay_unconstrained(g: Column): Column = call("st_delaunay_unconstrained", g)
  /** Merge an array of triangles into the MultiPolygon they cover. */
  def st_stitch(tris: Column): Column = call("st_stitch", tris)
  def st_segmentize(g: Column, n: Column): Column = call("st_segmentize", g, n)
  def st_segmentize_sphere(g: Column, n: Column): Column = call("st_segmentize_sphere", g, n)
  def st_dimension(g: Column): Column = call("st_dimension", g)
  def st_closestpoint_sphere(g: Column, p: Column): Column = call("st_closestpoint_sphere", g, p)
  def st_distance_vincenty(a: Column, b: Column): Column = call("st_distance_vincenty", a, b)

  // cells
  def st_cellid(level: Column, lon: Column, lat: Column): Column =
    call("st_cellid", level, lon, lat)
  def st_cell_of_geom(level: Column, g: Column): Column = call("st_cell_of_geom", level, g)
  def st_covering(level: Column, g: Column): Column = call("st_covering", level, g)
  def st_cell_bounds(id: Column): Column = call("st_cell_bounds", id)
  def st_cell_parent(id: Column, level: Column): Column = call("st_cell_parent", id, level)
  def st_cell_level(id: Column): Column = call("st_cell_level", id)
  def st_cell_x(id: Column): Column = call("st_cell_x", id)
  def st_cell_y(id: Column): Column = call("st_cell_y", id)
  def st_cell_children(id: Column): Column = call("st_cell_children", id)
  def st_geohash(lon: Column, lat: Column, precision: Column): Column =
    call("st_geohash", lon, lat, precision)
  def st_geohash_rect(h: Column): Column = call("st_geohash_rect", h)
  def st_geohash_neighbors(h: Column): Column = call("st_geohash_neighbors", h)
  def st_cell_compact(cells: Column): Column = call("st_cell_compact", cells)
  def st_cell_uncompact(cells: Column, level: Column): Column =
    call("st_cell_uncompact", cells, level)
  def st_cell_neighborhood(level: Column, lon: Column, lat: Column, ring: Column): Column =
    call("st_cell_neighborhood", level, lon, lat, ring)

  // ------------------------------------------------------ aggregates
  // composed from codegen'd built-ins — no custom ImperativeAggregate
  // needed for these (SURVEY.md §2.6):

  /** Collect a group's geometries into one MultiPoint. */
  def st_collect_agg(g: Column): Column =
    call("st_collect_points", org.apache.spark.sql.functions.collect_list(g))

  /** Convex hull of all geometries in the group — incremental
    * aggregate: the buffer holds only the running hull's vertices (+ a
    * pending batch), so group size never bounds memory. */
  def st_convexhull_agg(g: Column): Column =
    col(StConvexHullAgg(x(g)).toAggregateExpression())

  /** Group minimum bounding rectangle as (xmin, ymin, xmax, ymax). */
  def st_envelope_agg(g: Column): Column = {
    import org.apache.spark.sql.functions.{min, max, struct}
    struct(min(st_xmin(g)).as("xmin"), min(st_ymin(g)).as("ymin"),
      max(st_xmax(g)).as("xmax"), max(st_ymax(g)).as("ymax"))
  }

  /** Total unsigned area of the group. */
  def st_area_agg(g: Column): Column =
    org.apache.spark.sql.functions.sum(st_unsigned_area(g))

  // ------------------------------------------------- SQL registration

  /** Install the spatial-join optimizer rule (st_contains_xy /
    * st_intersects_xy join predicates become cell equi-joins). */
  def registerOptimizations(spark: SparkSession, level: Int = 6): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[SpatialJoinRule]))
      spark.experimental.extraOptimizations = existing :+ SpatialJoinRule(level)
  }

  /** Register every st_* function for SQL use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for (f <- Catalogue.all; name <- f.names)
      reg.createOrReplaceTempFunction(name, f(_), "built-in")
  }
}

/** SparkSessionExtensions entry point:
  * `.config("spark.sql.extensions", "graft.sql.GraftExtensions")`.
  * Injects every st_* function of [[Catalogue]] and the spatial-join
  * rewrites (PIP / ST_DWithin / geometry pairs → cell equi-joins). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SpatialJoinRule())
    for (f <- Catalogue.all; name <- f.names)
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft.sql", name), f(_)))
  }
}
