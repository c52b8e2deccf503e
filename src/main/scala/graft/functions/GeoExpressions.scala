package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.spatial.{GeoKit, Geodesic, PlainWkt, SpatialPredicate}

/**
 * WKB-geometry Catalyst expressions: the transformer lifts each side's
 * geometry into a WKB `BinaryType` column with them, and GraftExtensions
 * exposes them in SQL. Every expression is codegen'd via a static helper
 * call, so the stages around them stay in whole-stage codegen. JTS
 * readers/factories are thread-local (GeoKit) — no serialization of JTS
 * objects, ever.
 */
object GeoExpressions {

  // --- Column API -------------------------------------------------------

  /** WKT string → WKB (null/empty → null). */
  def wkbFromWkt(wkt: Column): Column =
    ColumnBridge.column(WkbFromWkt(ColumnBridge.expression(wkt)))

  /** (lon, lat) doubles → WKB point. */
  def wkbPoint(lon: Column, lat: Column): Column =
    ColumnBridge.column(WkbPoint(ColumnBridge.expression(lon), ColumnBridge.expression(lat)))

  /** Exact relation `left op right` (within/contains/intersects/overlaps),
    * refined by `SpatialPredicate.relates` like the broadcast kernel. */
  def stRelates(lwkb: Column, rwkb: Column, predicate: String): Column =
    ColumnBridge.column(StRelates(ColumnBridge.expression(lwkb), ColumnBridge.expression(rwkb),
      predicate))

  /** WGS84 geodesic centroid distance, whole metres (graft.spatial.Geodesic). */
  def geodesicMeters(lwkb: Column, rwkb: Column): Column =
    ColumnBridge.column(GeodesicMeters(ColumnBridge.expression(lwkb), ColumnBridge.expression(rwkb)))

  /** JTS coordinate-space (degree) distance — the broadcast kernel's
    * nearest ordering. */
  def stDistance(lwkb: Column, rwkb: Column): Column =
    ColumnBridge.column(StDistance(ColumnBridge.expression(lwkb), ColumnBridge.expression(rwkb)))

  /** Geometry envelope as [minX, minY, maxX, maxY]; null for null/empty
    * geometries (they drop out of inner-join semantics upstream). */
  def stEnvelope(wkb: Column): Column =
    ColumnBridge.column(StEnvelope(ColumnBridge.expression(wkb)))

  // --- static helpers shared by eval and generated code -----------------

  /** The WKB of `wkt`, null for an empty geometry. Plain 2-D point and
    * polygon text is written straight to WKB ([[PlainWkt]]); any other
    * text goes through JTS, whose answer stands. */
  def computeWkbFromWkt(wkt: UTF8String): Array[Byte] = {
    val plain = PlainWkt.toWkb(wkt)
    if (plain != null) plain
    else {
      val g = GeoKit.wktToGeom(wkt.toString)
      if (g == null) null else GeoKit.geomToWkb(g)
    }
  }

  /** The 21 bytes `GeoKit.geomToWkb(GeoKit.point(lon, lat))` writes
    * ([[GeoKit.pointWkb]]). */
  def computeWkbPoint(lon: Double, lat: Double): Array[Byte] = GeoKit.pointWkb(lon, lat)

  /** The relation predicates, indexed by the ordinal generated code carries. */
  private val Relations: Array[SpatialPredicate] = Array(SpatialPredicate.Within,
    SpatialPredicate.Contains, SpatialPredicate.Intersects, SpatialPredicate.Overlaps)

  def computeRelates(lwkb: Array[Byte], rwkb: Array[Byte], predOrdinal: Int): Boolean = {
    val lg = GeoKit.wkbToGeomMemo(lwkb); val rg = GeoKit.wkbToGeomMemo(rwkb)
    lg != null && rg != null && Relations(predOrdinal).relates(lg, rg)
  }

  def predOrdinal(predicate: String): Int = {
    val p = SpatialPredicate.parse(predicate)
    val i = Relations.indexOf(p)
    if (i < 0) throw new IllegalArgumentException(s"not a relation predicate: $p")
    i
  }

  // --- zero-allocation fast path for 2-D point WKB ---------------------
  // A JTS 2-D point WKB is exactly 21 bytes: byteOrder(1) + type(4) +
  // x(8) + y(8). The pairwise expressions (the grid distance column,
  // SQL st_distance) evaluate two geometry reads per PAIR; for the
  // point-point case — the dominant one — decoding the two doubles in
  // place skips the WKB parse, the parse memo (which thrashes once
  // distinct geometries exceed its 4096 slots), and the per-pair JTS
  // centroid allocation. Exactness: a point's centroid IS its coordinate
  // and JTS point distance (`Coordinate.distance`) is `Math.hypot(dx, dy)`
  // on the same doubles — bit-identical results
  // (GeoExpressionsDistanceSpec), so SQL `st_distance` ranks near-ties
  // exactly as both spatial kernels do. Anything not a plain 2-D point
  // (SRID-flagged type, Z/M dims, other geometries) falls through to
  // the JTS path.
  import GeoKit.{isPointWkb, readDouble}

  def computeGeodesicMeters(lwkb: Array[Byte], rwkb: Array[Byte]): Int =
    if (isPointWkb(lwkb) && isPointWkb(rwkb)) {
      val lbe = lwkb(0) == 0; val rbe = rwkb(0) == 0
      math.round(Geodesic.inverseMeters(
        readDouble(lwkb, 13, lbe), readDouble(lwkb, 5, lbe),
        readDouble(rwkb, 13, rbe), readDouble(rwkb, 5, rbe))).toInt
    } else Geodesic.centroidDistance(GeoKit.wkbToGeomMemo(lwkb), GeoKit.wkbToGeomMemo(rwkb))

  def computeStDistance(lwkb: Array[Byte], rwkb: Array[Byte]): Double =
    if (isPointWkb(lwkb) && isPointWkb(rwkb)) {
      val lbe = lwkb(0) == 0; val rbe = rwkb(0) == 0
      Math.hypot(readDouble(lwkb, 5, lbe) - readDouble(rwkb, 5, rbe),
        readDouble(lwkb, 13, lbe) - readDouble(rwkb, 13, rbe))
    } else GeoKit.wkbToGeomMemo(lwkb).distance(GeoKit.wkbToGeomMemo(rwkb))

  /** Called from generated code; null for null/empty geometries. */
  def computeEnvelope(wkb: Array[Byte]): ArrayData = {
    val g = GeoKit.wkbToGeom(wkb)
    if (g == null) return null
    val e = g.getEnvelopeInternal
    new GenericArrayData(Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
  }
}

case class WkbFromWkt(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeoExpressions.computeWkbFromWkt(v.asInstanceOf[UTF8String])
  // null for an empty geometry, as in eval: set isNull, as StEnvelope does
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.GeoExpressions.computeWkbFromWkt($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
  override protected def withNewChildInternal(n: Expression): WkbFromWkt = copy(child = n)
  override def prettyName: String = "wkb_from_wkt"
}

case class WkbPoint(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeoExpressions.computeWkbPoint(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GeoExpressions.computeWkbPoint($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): WkbPoint =
    copy(left = l, right = r)
  override def prettyName: String = "wkb_point"
}

case class StRelates(left: Expression, right: Expression, predicate: String)
    extends BinaryExpression with ExpectsInputTypes {
  private val ord = GeoExpressions.predOrdinal(predicate)
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(l: Any, r: Any): Any =
    GeoExpressions.computeRelates(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]], ord)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GeoExpressions.computeRelates($a, $b, $ord)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StRelates =
    copy(left = l, right = r)
  override def prettyName: String = s"st_$predicate"
}

case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    GeoExpressions.computeStDistance(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GeoExpressions.computeStDistance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StDistance =
    copy(left = l, right = r)
  override def prettyName: String = "st_distance"
}

case class StEnvelope(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    GeoExpressions.computeEnvelope(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
        graft.functions.GeoExpressions.computeEnvelope($c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r; }""")
  override protected def withNewChildInternal(n: Expression): StEnvelope = copy(child = n)
  override def prettyName: String = "st_envelope"
}

case class GeodesicMeters(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(l: Any, r: Any): Any =
    GeoExpressions.computeGeodesicMeters(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GeoExpressions.computeGeodesicMeters($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GeodesicMeters =
    copy(left = l, right = r)
  override def prettyName: String = "geodesic_meters"
}
