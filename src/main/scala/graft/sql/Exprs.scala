package graft.sql

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import graft.kernels.Overlay
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.MethodInputTypes
import org.apache.spark.sql.types._

/**
 * One st_* expression = one static call
 * `graft.sql.GeomEval.<fname>(children…, constArgs…)`.
 *
 * Codegen emits that call directly, so surrounding stages stay inside
 * whole-stage codegen (no Scala-UDF or CodegenFallback in hot paths).
 * The interpreted `eval` (constant folding, local relations, codegen
 * off, children of imperative aggregates) invokes the same static
 * method through a `java.lang.reflect.Method` resolved once per
 * instance, so the two paths cannot disagree on which kernel runs.
 * GeomEval has no overloaded names: the name picks the method, and the
 * method's parameter types are the expected input types, so analysis
 * casts an int or DECIMAL literal for a double parameter the way it
 * does for any built-in function.
 *
 * Null contract: any null child gives NULL without calling the kernel;
 * object-typed results (geom struct, string, array, binary) may also be
 * null for non-null inputs (EMPTY geometry, non-convergence), and so
 * may a primitive SQL type the method returns boxed.
 */
abstract class GeomCall(val fname: String, override val dataType: DataType)
    extends Expression with MethodInputTypes with Serializable {

  /** Compile-time arguments passed after the children (op codes). */
  protected def constArgs: Seq[Any] = Nil

  @transient private lazy val method: Method = GeomCall.method(fname)

  /** Number of children the static method takes. */
  def arity: Int = method.getParameterCount - constArgs.length

  /** The static method's parameter types, children first. */
  def parameterTypes: Seq[Class[_]] = method.getParameterTypes.toSeq.take(arity)

  private def primitiveResult: Boolean = CodeGenerator.isPrimitiveType(dataType)

  /** A primitive SQL type that the method returns boxed, null = NULL. */
  private def boxedResult: Boolean = primitiveResult && !method.getReturnType.isPrimitive

  override def nullable: Boolean =
    !primitiveResult || boxedResult || children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = fname

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + constArgs.length)
    var i = 0
    val it = children.iterator
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    constArgs.foreach { c => args(i) = c.asInstanceOf[AnyRef]; i += 1 }
    try method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCall(ctx, ev) { args =>
      val call = s"graft.sql.GeomEval.$fname(${(args ++ constArgs.map(_.toString)).mkString(", ")})"
      if (boxedResult) {
        val raw = ctx.freshName("boxed")
        s"""Object $raw = $call;
           |${ev.isNull} = $raw == null;
           |if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $raw;""".stripMargin
      } else if (primitiveResult) s"${ev.value} = $call;"
      else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
    }

  /** N-ary form of Spark's `nullSafeCodeGen`: children are evaluated
    * left to right and `body` (given their value terms) runs only when
    * none is null. */
  protected def nullSafeCall(ctx: CodegenContext, ev: ExprCode)(
      body: Seq[String] => String): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val result = body(gens.map(_.value.toString))
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      val guarded = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((c, g), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $result""", isNull = FalseLiteral)
    }
  }

  /** Codegen through the method's primitive `raw` twin, which signals
    * NULL with NaN (no boxing on the hot path). */
  protected def nanIsNull(ctx: CodegenContext, ev: ExprCode, raw: String): ExprCode =
    nullSafeCall(ctx, ev) { args =>
      s"""${ev.value} = graft.sql.GeomEval.$raw(${args.mkString(", ")});
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin
    }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    makeCopy(Array(c))
}

object GeomCall {
  private lazy val methods: Map[String, Method] =
    Class.forName("graft.sql.GeomEval").getMethods.toSeq
      .filter(m => Modifier.isStatic(m.getModifiers))
      .groupBy(_.getName).map { case (name, ms) =>
        require(ms.size == 1, s"GeomEval.$name is overloaded")
        name -> ms.head
      }

  def method(fname: String): Method =
    methods.getOrElse(fname, throw new IllegalArgumentException(s"no static GeomEval.$fname"))

  // result types shared by several expressions
  val Geom: DataType = GeomSchema.dataType
  val Geoms: DataType = ArrayType(Geom, containsNull = false)
  val Longs: DataType = ArrayType(LongType, containsNull = false)
  val Ints: DataType = ArrayType(IntegerType, containsNull = false)
  val Strings: DataType = ArrayType(StringType, containsNull = false)
  val HexCell: DataType = StructType(Seq(
    StructField("q", LongType, nullable = false), StructField("r", LongType, nullable = false)))
  val HexCells: DataType = ArrayType(HexCell, containsNull = false)
  val GridCells: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false))), containsNull = false)
  val Circle: DataType = StructType(Seq(
    StructField("center", Geom), StructField("nearest", Geom), StructField("radius", DoubleType)))
  val CenterRadius: DataType = StructType(Seq(
    StructField("center", Geom, nullable = false),
    StructField("radius", DoubleType, nullable = false)))
  val Extremes: DataType = StructType(Seq(
    StructField("xmin_idx", IntegerType), StructField("xmin", DoubleType),
    StructField("ymin_idx", IntegerType), StructField("ymin", DoubleType),
    StructField("xmax_idx", IntegerType), StructField("xmax", DoubleType),
    StructField("ymax_idx", IntegerType), StructField("ymax", DoubleType)))
  val TileZxy: DataType = StructType(Seq(
    StructField("z", IntegerType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false)))
  val MvtFeatures: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("geom", Geom, nullable = false),
    StructField("tags", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false))), containsNull = false)
}

import GeomCall._

// Catalyst expressions for every st_* operator (SURVEY.md §2): each is
// one GeomCall, one class per function (SpatialJoinRule matches on the
// classes); the SQL names that build them live in Catalogue.

// --------------------------------------------------------------- codecs

case class StGeomFromText(children: Args) extends GeomCall("geomFromTextOrNull", Geom)
/** Lossy 2-D parse: XYZ/XYM/XYZM WKT accepted, Z/M dropped. */
case class StGeomFromTextForce2D(children: Args) extends GeomCall("geomFromTextForce2D", Geom)
case class StAsText(children: Args) extends GeomCall("asText", StringType)
case class StAsGeoJson(children: Args) extends GeomCall("asGeoJson", StringType)
case class StGeomFromGeoJson(children: Args) extends GeomCall("geomFromGeoJsonOrNull", Geom)
case class StCollectionFromText(children: Args) extends GeomCall("collectionFromText", Geoms)
case class StCollectionAsText(children: Args) extends GeomCall("collectionAsText", StringType)
/** Unary union over the array<geom> collection form: dissolve the
  * parts into canonical disjoint components — merged polygons, fully
  * noded + dissolved linework, residual points (kernels/UnaryUnion).
  * The geo crate's BooleanOps is binary-only; this is the JTS
  * `Geometry.union()` shape, gated by TestUnaryUnion(-Floating).xml. */
case class StUnaryUnion(children: Args) extends GeomCall("unaryUnion", Geoms)
/** OGC Mod-2 boundary: empty for 0-D, odd-occurrence endpoints for
  * 1-D, rings as linework for 2-D (kernels/Topo.boundary). */
case class StBoundary(children: Args) extends GeomCall("boundary", Geom)
/** Polygonize linework into the maximal set of polygons (dangles
  * dropped, holes assigned) — kernels/Polygonize. */
case class StPolygonize(children: Args) extends GeomCall("polygonize", Geoms)
/** Minimum clearance: smallest positive vertex-vertex or
  * vertex-to-non-incident-segment distance (JTS MinimumClearance);
  * Double.MaxValue when undefined. */
case class StMinClearance(children: Args) extends GeomCall("minClearance", DoubleType)
case class StMinClearanceLine(children: Args) extends GeomCall("minClearanceLine", Geom)
/** Number of parts of a (multi-)geometry (1 for simple kinds). */
case class StNumParts(children: Args) extends GeomCall("numParts", IntegerType)
case class StWinnowFingerprints(children: Args) extends GeomCall("winnowFingerprints", Longs)
case class StGeometryType(children: Args) extends GeomCall("geometryType", StringType)
/** Axis-aligned rectangle from corner ordinates — the allocation-light
  * constructor for grid/cell geometry (no WKT round-trip). */
case class StRect(children: Args) extends GeomCall("rectXY", Geom)
case class StPoint(children: Args) extends GeomCall("point", Geom)

// ----------------------------------------------------- unary geom -> num

case class StArea(children: Args) extends GeomCall("area", DoubleType)
case class StUnsignedArea(children: Args) extends GeomCall("unsignedArea", DoubleType)
case class StSphereArea(children: Args) extends GeomCall("sphereArea", DoubleType)
case class StGeodesicArea(children: Args) extends GeomCall("geodesicArea", DoubleType)
case class StGeodesicAreaUnsigned(children: Args) extends GeomCall("geodesicAreaUnsigned", DoubleType)
case class StLength(children: Args) extends GeomCall("length", DoubleType)
case class StLengthSphere(children: Args) extends GeomCall("lengthSphere", DoubleType)
case class StLengthRhumb(children: Args) extends GeomCall("lengthRhumb", DoubleType)
case class StLengthGeodesic(children: Args) extends GeomCall("lengthGeodesic", DoubleType)
case class StPerimeter(children: Args) extends GeomCall("perimeter", DoubleType)
case class StXMin(children: Args) extends GeomCall("xMin", DoubleType)
case class StYMin(children: Args) extends GeomCall("yMin", DoubleType)
case class StXMax(children: Args) extends GeomCall("xMax", DoubleType)
case class StYMax(children: Args) extends GeomCall("yMax", DoubleType)
case class StX(children: Args) extends GeomCall("pointX", DoubleType)
case class StY(children: Args) extends GeomCall("pointY", DoubleType)
case class StNumPoints(children: Args) extends GeomCall("numPoints", IntegerType)
case class StIsEmpty(children: Args) extends GeomCall("isEmpty", BooleanType)
case class StIsCcw(children: Args) extends GeomCall("isCcw", BooleanType)
case class StIsConvex(children: Args) extends GeomCall("isConvex", BooleanType)
case class StWindingOrder(children: Args) extends GeomCall("windingOrder", StringType)

// ---------------------------------------------------- unary geom -> geom

case class StCentroid(children: Args) extends GeomCall("centroid", Geom)
case class StEnvelope(children: Args) extends GeomCall("envelope", Geom)
case class StInteriorPoint(children: Args) extends GeomCall("interiorPoint", Geom)
case class StConvexHull(children: Args) extends GeomCall("convexHull", Geom)
case class StRemoveRepeated(children: Args) extends GeomCall("removeRepeated", Geom)
case class StToRadians(children: Args) extends GeomCall("toRadians", Geom)
case class StToDegrees(children: Args) extends GeomCall("toDegrees", Geom)
case class StForceCw(children: Args) extends GeomCall("forceCw", Geom)
case class StForceCcw(children: Args) extends GeomCall("forceCcw", Geom)
case class StDumpPoints(children: Args) extends GeomCall("dumpPoints", Geoms)
case class StDumpSegments(children: Args) extends GeomCall("dumpSegments", Geoms)
case class StExtremes(children: Args) extends GeomCall("extremes", Extremes)

// --------------------------------------------------------- binary preds

case class StContains(children: Args) extends GeomCall("contains", BooleanType)
case class StWithin(children: Args) extends GeomCall("within", BooleanType)
case class StIntersects(children: Args) extends GeomCall("intersects", BooleanType)
case class StDisjoint(children: Args) extends GeomCall("disjoint", BooleanType)
/** Hot-path PIP with raw coordinates (join refine stage). */
case class StContainsXY(children: Args) extends GeomCall("containsXY", BooleanType)
case class StIntersectsXY(children: Args) extends GeomCall("intersectsXY", BooleanType)

// ------------------------------------------------------ binary measures

case class StDistance(children: Args) extends GeomCall("distance", DoubleType)
case class StDistanceSphere(children: Args) extends GeomCall("distanceSphere", DoubleType)
case class StDistanceRhumb(children: Args) extends GeomCall("distanceRhumb", DoubleType)
case class StDistanceGeodesic(children: Args) extends GeomCall("distanceGeodesic", DoubleType)
case class StBearing(children: Args) extends GeomCall("bearing", DoubleType)
case class StBearingRhumb(children: Args) extends GeomCall("bearingRhumb", DoubleType)
case class StBearingGeodesic(children: Args) extends GeomCall("bearingGeodesic", DoubleType)
case class StHausdorff(children: Args) extends GeomCall("hausdorff", DoubleType)
case class StFrechet(children: Args) extends GeomCall("frechet", DoubleType)
case class StLineLocatePoint(children: Args) extends GeomCall("lineLocatePoint", DoubleType)
case class StClosestPoint(children: Args) extends GeomCall("closestPoint", Geom)
case class StLineIntersection(children: Args) extends GeomCall("lineIntersection", Geom)

// ----------------------------------------------- geom + scalar -> geom

case class StVoronoi(children: Args) extends GeomCall("voronoi", Geoms)
/** st_voronoi(geom, minx, miny, maxx, maxy) — explicit clip window.
  * Like StAffine it keeps the class-derived prettyName that plan text
  * and unaliased output column names already carry. */
case class StVoronoiClip(children: Args) extends GeomCall("voronoiClip", Geoms) {
  override def prettyName: String = "stvoronoiclip"
}
case class StShortestLine(children: Args) extends GeomCall("shortestLine", Geom)
case class StSnap(children: Args) extends GeomCall("snapTo", Geom)
case class StLineSubstring(children: Args) extends GeomCall("lineSubstring", Geom)
case class StReverse(children: Args) extends GeomCall("reverseGeom", Geom)
case class StExteriorRing(children: Args) extends GeomCall("exteriorRing", Geom)
case class StNumInteriorRings(children: Args) extends GeomCall("numInteriorRings", IntegerType)
case class StInteriorRingN(children: Args) extends GeomCall("interiorRingN", Geom)
case class StPointN(children: Args) extends GeomCall("pointN", Geom)
case class StStartPoint(children: Args) extends GeomCall("startPoint", Geom)
case class StEndPoint(children: Args) extends GeomCall("endPoint", Geom)
case class StGeometryN(children: Args) extends GeomCall("geometryN", Geom)
case class StDumpRings(children: Args) extends GeomCall("dumpRings", Geoms)
case class StMaxDistance(children: Args) extends GeomCall("maxDistance", DoubleType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nanIsNull(ctx, ev, "maxDistanceRaw")
}
case class StLongestLine(children: Args) extends GeomCall("longestLine", Geom)
case class StAddPoint(children: Args) extends GeomCall("addPoint", Geom)
case class StSetPoint(children: Args) extends GeomCall("setPoint", Geom)
case class StRemovePoint(children: Args) extends GeomCall("removePoint", Geom)
case class StFlipCoordinates(children: Args) extends GeomCall("flipCoordinates", Geom)
case class StIsClosed(children: Args) extends GeomCall("isClosed", BooleanType)
case class StIsSimple(children: Args) extends GeomCall("isSimple", BooleanType)
case class StIsRing(children: Args) extends GeomCall("isRing", BooleanType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = nullSafeCall(ctx, ev) { args =>
    val raw = ctx.freshName("isRingRaw") // -1 = NULL, 0 = false, 1 = true
    s"""byte $raw = graft.sql.GeomEval.isRingRaw(${args.head});
       |${ev.isNull} = $raw < 0;
       |${ev.value} = $raw == 1;""".stripMargin
  }
}
case class StMulti(children: Args) extends GeomCall("toMulti", Geom)
case class StPoints(children: Args) extends GeomCall("pointsOf", Geom)
case class StBoundingDiagonal(children: Args) extends GeomCall("boundingDiagonal", Geom)
case class StScroll(children: Args) extends GeomCall("scroll", Geom)
case class StShiftLongitude(children: Args) extends GeomCall("shiftLongitude", Geom)
case class StMinimumBoundingCircle(children: Args) extends GeomCall("minimumBoundingCircle", Geom)
case class StMinimumBoundingRadius(children: Args)
    extends GeomCall("minimumBoundingRadius", CenterRadius)
case class StHexBin(children: Args) extends GeomCall("hexBin", HexCell)
case class StHexBinCenter(children: Args) extends GeomCall("hexBinCenter", Geom)
case class StHexagon(children: Args) extends GeomCall("hexagonCell", Geom)
case class StSharedPaths(children: Args) extends GeomCall("sharedPaths", Geoms)
case class StLineCrossingDirection(children: Args)
    extends GeomCall("lineCrossingDirection", IntegerType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = nullSafeCall(ctx, ev) { args =>
    val raw = ctx.freshName("lcdRaw") // Integer.MIN_VALUE = NULL
    s"""int $raw = graft.kernels.SharedPaths.crossingDirection(
       |  graft.sql.GeomSchema.fromRow(${args(0)}), graft.sql.GeomSchema.fromRow(${args(1)}));
       |${ev.isNull} = $raw == Integer.MIN_VALUE;
       |${ev.value} = $raw;""".stripMargin
  }
}
case class StMakeLine(children: Args) extends GeomCall("makeLine", Geom)
case class StAngle(children: Args) extends GeomCall("angle3", DoubleType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nanIsNull(ctx, ev, "angle3Raw")
}
case class StExpand(children: Args) extends GeomCall("expandEnvelope", Geom)
case class StNormalize(children: Args) extends GeomCall("normalizeGeom", Geom)
case class StSplit(children: Args) extends GeomCall("splitBy", Geoms)
case class StMakeValid(children: Args) extends GeomCall("makeValid", Geom)
case class StOffsetCurve(children: Args) extends GeomCall("offsetCurve", Geom)
case class StLineMerge(children: Args) extends GeomCall("lineMerge", Geom)
case class StNode(children: Args) extends GeomCall("nodeLines", Geom)
case class StMaximumInscribedCircle(children: Args) extends GeomCall("maximumInscribedCircle", Circle)
case class StLargestEmptyCircle(children: Args) extends GeomCall("largestEmptyCircle", Circle)
case class StSubdivide(children: Args) extends GeomCall("subdivide", Geoms)
case class StBuffer(children: Args) extends GeomCall("buffer", Geom)
/** st_buffer(geom, dist, 'quad_segs=8 endcap=flat join=mitre
  * mitre_limit=5') — the PostGIS buffer-style parameter string. */
case class StBufferStyle(children: Args) extends GeomCall("bufferStyle", Geom)
case class StSimplify(children: Args) extends GeomCall("simplify", Geom)
case class StSimplifyVw(children: Args) extends GeomCall("simplifyVw", Geom)
case class StSimplifyIdx(children: Args) extends GeomCall("simplifyIdx", Ints)
case class StSimplifyVwIdx(children: Args) extends GeomCall("simplifyVwIdx", Ints)
case class StDensify(children: Args) extends GeomCall("densify", Geom)
case class StDensifyHaversine(children: Args) extends GeomCall("densifyHaversine", Geom)
case class StDensifyRhumb(children: Args) extends GeomCall("densifyRhumb", Geom)
case class StDensifyGeodesic(children: Args) extends GeomCall("densifyGeodesic", Geom)
case class StChaikin(children: Args) extends GeomCall("chaikin", Geom)
case class StRotate(children: Args) extends GeomCall("rotate", Geom)
case class StGrahamHull(children: Args) extends GeomCall("grahamHull", Geom)
case class StLineInterpolatePoint(children: Args) extends GeomCall("lineInterpolatePoint", Geom)

// ------------------------------------------------------------- ternary

case class StProject(children: Args) extends GeomCall("project", Geom)
case class StProjectRhumb(children: Args) extends GeomCall("projectRhumb", Geom)
case class StProjectGeodesic(children: Args) extends GeomCall("projectGeodesic", Geom)
case class StTranslate(children: Args) extends GeomCall("translate", Geom)
case class StScale(children: Args) extends GeomCall("scale", Geom)
case class StSkew(children: Args) extends GeomCall("skew", Geom)
case class StCrossTrack(children: Args) extends GeomCall("crossTrack", DoubleType)
case class StLineInterpolateSphere(children: Args) extends GeomCall("lineInterpolateSphere", Geom)
case class StLineInterpolateRhumb(children: Args) extends GeomCall("lineInterpolateRhumb", Geom)
case class StLineInterpolateGeodesic(children: Args)
    extends GeomCall("lineInterpolateGeodesic", Geom)
/** Full 2×3 affine: st_affine(geom, a, b, xoff, d, e, yoff). */
case class StAffine(children: Args) extends GeomCall("affine", Geom) {
  override def prettyName: String = "staffine"
}

// ------------------------------------------------ wkb / validation

case class StGeomFromWkb(children: Args) extends GeomCall("geomFromWkb", Geom)
/** Lossy 2-D parse: EWKB flags / ISO Z/M type codes accepted, extra
  * ordinates dropped. */
case class StGeomFromWkbForce2D(children: Args) extends GeomCall("geomFromWkbForce2D", Geom)
case class StAsWkb(children: Args) extends GeomCall("asWkb", BinaryType)
/** PostGIS extended WKB with an SRID tag (geo-postgis wire format,
  * to_postgis.rs:12). */
case class StAsEwkb(children: Args) extends GeomCall("asEwkb", BinaryType)
/** SRID of an (E)WKB payload; 0 for plain WKB. */
case class StSrid(children: Args) extends GeomCall("sridOf", IntegerType)
case class StIsValid(children: Args) extends GeomCall("isValid", BooleanType)
case class StIsValidReason(children: Args) extends GeomCall("isValidReason", StringType)
case class StSimplifyVwPreserve(children: Args) extends GeomCall("simplifyVwPreserve", Geom)

// ------------------------------------------------------------- overlay

case class StIntersection(children: Args) extends GeomCall("intersection", Geom)
/** Heterogeneous boolean op over ANY dimension mix — points, lines,
  * polygons (kernels/Hetero; beyond the reference: geo's BooleanOps is
  * polygon×polygon + 1-D clip only, bool_ops/mod.rs:86-106). Result is
  * the array<geom> collection form [polygonal?, linework?, points?]
  * with empty components omitted (JTS OverlayNG mixed-input
  * semantics). */
case class StOverlayHetero(children: Args, op: Int) extends GeomCall(op match {
    case Overlay.OpIntersection => "heteroIntersection"
    case Overlay.OpUnion => "heteroUnion"
    case Overlay.OpDifference => "heteroDifference"
    case _ => "heteroSymDifference"
  }, Geoms) {
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
case class StUnion(children: Args) extends GeomCall("union", Geom)
case class StDifference(children: Args) extends GeomCall("difference", Geom)
case class StSymDifference(children: Args) extends GeomCall("symDifference", Geom)
case class StClip(children: Args) extends GeomCall("clip", Geom)
case class StSnapToGrid(children: Args) extends GeomCall("snapToGrid", Geom)
/** Fixed-precision (snap-rounded) boolean op — children are
  * (a, b, scale); `op`/`linework` are compile-time parameters baked
  * into the generated call so the expression stays a plain ternary
  * inside whole-stage codegen. */
case class StBooleanSr(children: Args, op: Int, linework: Boolean)
    extends GeomCall("booleanSr", Geom) {
  override protected def constArgs: Seq[Any] = Seq(op, linework)
  override def prettyName: String = if (linework) "booleanSrLines" else "booleanSr"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}
/** CRS reprojection from published formulas (kernels/Crs — beyond the
  * executed reference: geo feature-gates reprojection onto a C library,
  * proj.rs:2). Supported SRIDs: 4326, 3857, 28992 (RD New),
  * 32601–32660 / 32701–32760 (UTM). Unsupported SRIDs raise. */
case class StTransform(children: Args) extends GeomCall("transformSrid", Geom)
case class StUnionAll(children: Args) extends GeomCall("unionAll", Geom)
/** Dimension-weighted centroid of an array<geom> collection (the JTS
  * Centroid rule over a GeometryCollection — highest dimension wins). */
case class StCollectionCentroid(children: Args) extends GeomCall("collectionCentroid", Geom)

// -------------------------------------------------------------- relate

case class StRelate(children: Args) extends GeomCall("relate", StringType)
case class StRelateMatch(children: Args) extends GeomCall("relateMatch", BooleanType)
case class StTouches(children: Args) extends GeomCall("touches", BooleanType)
case class StCrosses(children: Args) extends GeomCall("crosses", BooleanType)
case class StOverlaps(children: Args) extends GeomCall("overlaps", BooleanType)
case class StCovers(children: Args) extends GeomCall("covers", BooleanType)
case class StCoveredBy(children: Args) extends GeomCall("coveredBy", BooleanType)
case class StEqualsTopo(children: Args) extends GeomCall("equalsTopo", BooleanType)

// ------------------------------------------------------- shapes (v1.1)

case class StConcaveHull(children: Args) extends GeomCall("concaveHull", Geom)
case class StKnnConcaveHull(children: Args) extends GeomCall("knnConcaveHull", Geom)
case class StMinRotatedRect(children: Args) extends GeomCall("minRotatedRect", Geom)
case class StTriangulate(children: Args) extends GeomCall("triangulate", Geoms)
case class StDelaunay(children: Args) extends GeomCall("delaunay", Geoms)
case class StDelaunayUnconstrained(children: Args) extends GeomCall("delaunayUnconstrained", Geoms)
case class StStitch(children: Args) extends GeomCall("stitch", Geom)
case class StSegmentize(children: Args) extends GeomCall("segmentize", Geom)
case class StSegmentizeSphere(children: Args) extends GeomCall("segmentizeSphere", Geom)
case class StDimension(children: Args) extends GeomCall("dimension", IntegerType)
case class StClosestPointSphere(children: Args) extends GeomCall("closestPointSphere", Geom)
case class StDistanceVincenty(children: Args) extends GeomCall("distanceVincenty", DoubleType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nanIsNull(ctx, ev, "distanceVincentyRaw")
}
/** PostGIS ST_Azimuth: planar angle in radians clockwise from north
  * of the segment a→b, in [0, 2π); NULL for non-point, empty or
  * coincident inputs. */
case class StAzimuth(children: Args) extends GeomCall("azimuth", DoubleType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nanIsNull(ctx, ev, "azimuthRaw")
}
/** Merge an array of geometries (e.g. from collect_list) into one
  * MultiPoint of all their coordinates — the bridge that turns the
  * built-in collect aggregates into geometric aggregations
  * (hull_agg = st_convexhull ∘ st_collect ∘ collect_list). */
case class StCollectPoints(children: Args) extends GeomCall("collectPoints", Geom)

// --------------------------------------------------------------- cells

case class StCellId(children: Args) extends GeomCall("cellId", LongType)
case class StCellOfGeom(children: Args) extends GeomCall("cellOfGeomCentroid", LongType)
case class StCovering(children: Args) extends GeomCall("covering", Longs)
case class StCellBounds(children: Args) extends GeomCall("cellBounds", Geom)
case class StCellParent(children: Args) extends GeomCall("cellParent", LongType)
case class StCellLevel(children: Args) extends GeomCall("cellLevel", IntegerType)
case class StCellChildren(children: Args) extends GeomCall("cellChildren", Longs)
case class StCellCompact(children: Args) extends GeomCall("cellCompact", Longs)
case class StGeohash(children: Args) extends GeomCall("geohashEncode", StringType)
case class StGeohashNeighbors(children: Args) extends GeomCall("geohashNeighbors", Strings)
case class StGeohashRect(children: Args) extends GeomCall("geohashRect", Geom)
case class StCellUncompact(children: Args) extends GeomCall("cellUncompact", Longs)
/** Distinct cells within Chebyshev index distance `ring` of the cell
  * containing (lon, lat) — integer index arithmetic (antimeridian wrap,
  * pole-row drop), never re-encoded offset coordinates, so the DWithin
  * ring-coverage guarantee holds at cell-edge ulps. */
case class StCellNeighborhood(children: Args) extends GeomCall("cellNeighborhood", Longs)
case class StCellX(children: Args) extends GeomCall("cellX", LongType)
case class StCellY(children: Args) extends GeomCall("cellY", LongType)

// ------------------------------------------------- vector-tile surface

/** st_tileenvelope(z, x, y[, margin]) — XYZ tile rect in EPSG:3857
  * (PostGIS contract; see kernels/Mvt). Null for out-of-range z/x/y. */
case class StTileEnvelope(children: Args) extends GeomCall("tileEnvelope", Geom)
/** st_asmvtgeom(geom, z, x, y[, extent, buffer, clip]) — integer
  * tile-local MVT geometry (transform → snap → clip → snap → clean;
  * kernels/Mvt documents the deliberate snapped-grid clipping order).
  * Hot map stage of tile generation. */
case class StAsMvtGeom(children: Args) extends GeomCall("asMvtGeom", Geom)
/** st_squaregrid(geom, size) — array of (i, j) grid-cell indices
  * covering the envelope; null over the cell cap (typed, never OOM). */
case class StSquareGrid(children: Args) extends GeomCall("squareGrid", GridCells)
/** st_squaregrid_cell(i, j, size) — the cell polygon. */
case class StSquareGridCell(children: Args) extends GeomCall("squareGridCell", Geom)
/** st_mvt_decode(tile) — (id, geom) features of the first layer;
  * null on malformed bytes. */
case class StMvtDecode(children: Args) extends GeomCall("mvtDecode", MvtFeatures)
case class StMvtLayerName(children: Args) extends GeomCall("mvtLayerName", StringType)
case class StMvtExtent(children: Args) extends GeomCall("mvtExtent", IntegerType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = nullSafeCall(ctx, ev) { args =>
    val raw = ctx.freshName("mvtExt") // -1 = NULL (malformed bytes)
    s"""int $raw = graft.sql.GeomEval.mvtExtentOrNeg(${args.head});
       |${ev.isNull} = $raw < 0;
       |${ev.value} = $raw;""".stripMargin
  }
}
/** st_geometricmedian(geom[, tol, max_iter]) — Weiszfeld/Vardi-Zhang
  * fixed point; points-only operand contract (PostGIS). */
case class StGeometricMedian(children: Args) extends GeomCall("geometricMedian", Geom)
/** st_generatepoints(geom, n[, seed]) — deterministic seeded uniform
  * points in a polygon (triangulate + area-weighted sampling, never a
  * rejection loop). */
case class StGeneratePoints(children: Args) extends GeomCall("generatePoints", Geom)
/** st_hexdistance(q1, r1, q2, r2) — axial hex-grid distance. */
case class StHexDistance(children: Args) extends GeomCall("hexDistance", LongType)
/** st_hexring(q, r, k) — cells at hex distance exactly k (H3 hexRing). */
case class StHexRing(children: Args) extends GeomCall("hexRing", HexCells)
/** st_quadkey(z, x, y) — Bing tile-system quadkey string. */
case class StQuadkey(children: Args) extends GeomCall("quadkey", StringType)
/** st_quadkey_decode(qk) — struct(z, x, y); null on malformed keys. */
case class StQuadkeyDecode(children: Args) extends GeomCall("quadkeyDecode", TileZxy)
/** st_lineinterpolatepoints(line, fraction) — points at every multiple
  * of `fraction` (PostGIS repeat=true contract), as MULTIPOINT. */
case class StLineInterpolatePoints(children: Args) extends GeomCall("lineInterpolatePoints", Geom)
