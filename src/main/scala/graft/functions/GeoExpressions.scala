package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Envelope

import graft.spatial.{GeoKit, Geodesic, SpatialPredicate}

/**
 * WKB-geometry Catalyst expressions for the partitioned (grid) spatial
 * join — the scale path where neither side is collected or broadcast.
 * Geometry travels as WKB `BinaryType` columns inside one Catalyst plan;
 * every expression is codegen'd via a static helper call, so the stages
 * around them stay in whole-stage codegen. JTS readers/factories are
 * thread-local (GeoKit) — no serialization of JTS objects, ever.
 */
object GeoExpressions {

  // --- Column API -------------------------------------------------------

  /** WKT string → WKB (null/empty → null). */
  def wkbFromWkt(wkt: Column): Column =
    ColumnBridge.column(WkbFromWkt(ColumnBridge.expression(wkt)))

  /** (lon, lat) doubles → WKB point. */
  def wkbPoint(lon: Column, lat: Column): Column =
    ColumnBridge.column(WkbPoint(ColumnBridge.expression(lon), ColumnBridge.expression(lat)))

  /** Grid cell ids overlapped by the geometry's envelope expanded by
    * `expandMeters` (latitude-aware, strictly over-approximating — same
    * bound as the broadcast kernel). Cell id = cellX * 2^20 + cellY. */
  def gridCells(wkb: Column, cellDeg: Double, expandMeters: Double = 0): Column =
    ColumnBridge.column(GridCells(ColumnBridge.expression(wkb), cellDeg, expandMeters))

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

  /** The unique "emit" cell of a candidate pair: the cell containing the
    * reference point (max of the two expanded-envelope minima). A pair
    * sharing k cells passes `gridCells` k times; filtering on
    * `cell === refCellEnv` keeps exactly one copy with no extra shuffle.
    * Computed from the two per-ROW envelope arrays (stEnvelope columns),
    * so no pair parses WKB. */
  def refCellEnv(lenv: Column, renv: Column, cellDeg: Double,
      lExpandMeters: Double = 0): Column =
    ColumnBridge.column(RefCellEnv(ColumnBridge.expression(lenv),
      ColumnBridge.expression(renv), cellDeg, lExpandMeters))

  /** st_relates with a FUSED envelope pre-check (round 13): the two
    * envelope arrays are computed once per ROW (stEnvelope columns),
    * and envelope-disjoint pairs reject on 8 double loads before the
    * per-PAIR WKB parse + JTS relate — every relates predicate implies
    * envelope intersection, so the check is a pure superset filter.
    * Fused into ONE expression because conjunct order inside a pushed
    * join condition is optimizer-chosen, not API-chosen (measured on
    * the round-13 band A/B: a cheap conjunct `.where`d first still ran
    * last) — inside one expression no rule can reorder the cheap check
    * behind the expensive relate. */
  def stRelatesEnvChecked(lenv: Column, renv: Column,
      lwkb: Column, rwkb: Column, predicate: String): Column =
    ColumnBridge.column(StRelatesEnvChecked(
      ColumnBridge.expression(lenv), ColumnBridge.expression(renv),
      ColumnBridge.expression(lwkb), ColumnBridge.expression(rwkb), predicate))

  // --- static helpers shared by eval and generated code -----------------

  val CellBits = 20
  val MaxCell: Int = (1 << CellBits) - 1

  def computeWkbFromWkt(wkt: UTF8String): Array[Byte] = {
    val g = GeoKit.wktToGeom(wkt.toString)
    if (g == null) null else GeoKit.geomToWkb(g)
  }

  /** The 21 bytes `GeoKit.geomToWkb(GeoKit.point(lon, lat))` writes,
    * built in place (the writer twin of `isPointWkb`/`readDouble`):
    * byte order 0 = big-endian, type 1 = Point, then x and y as
    * `doubleToLongBits` (NaN canonical, as JTS writes it). */
  def computeWkbPoint(lon: Double, lat: Double): Array[Byte] = {
    val b = new Array[Byte](21)
    b(4) = 1
    writeDouble(b, 5, lon)
    writeDouble(b, 13, lat)
    b
  }

  @inline private def writeDouble(b: Array[Byte], off: Int, v: Double): Unit = {
    var bits = java.lang.Double.doubleToLongBits(v)
    var i = off + 7
    while (i >= off) { b(i) = bits.toByte; bits >>>= 8; i -= 1 }
  }

  private def cellOf(x: Double, y: Double, cellDeg: Double): Long = {
    val cx = math.min(MaxCell, math.max(0, math.floor((x + 180.0) / cellDeg).toInt))
    val cy = math.min(MaxCell, math.max(0, math.floor((y + 90.0) / cellDeg).toInt))
    (cx.toLong << CellBits) | cy.toLong
  }

  /** Latitude-aware conservative envelope expansion by metres — identical
    * bound to graft.plans.SpatialProbe's withindist prefilter. */
  def expandedBounds(env: Envelope, meters: Double): (Double, Double, Double, Double) = {
    if (meters <= 0) return (env.getMinX, env.getMaxX, env.getMinY, env.getMaxY)
    val latDeg = meters / 110500.0
    val phiMax = math.min(89.9,
      math.max(math.abs(env.getMinY), math.abs(env.getMaxY)) + 2 * latDeg)
    val cosPhi = math.cos(math.toRadians(phiMax))
    val lonDeg =
      if (cosPhi <= 1e-6) 360.0
      else meters / (Geodesic.SemiMajorA * cosPhi * math.Pi / 180.0)
    (env.getMinX - lonDeg, env.getMaxX + lonDeg, env.getMinY - latDeg, env.getMaxY + latDeg)
  }

  def computeGridCells(wkb: Array[Byte], cellDeg: Double, expandMeters: Double): ArrayData = {
    val g = GeoKit.wkbToGeom(wkb)
    // null and empty geometries (e.g. POLYGON EMPTY, a NaN-ordinate
    // point) bin to no cell so they drop out, matching the broadcast
    // kernel's null semantics instead of crashing on centroid access
    if (g == null) return new GenericArrayData(Array.empty[Any])
    val (minX, maxX, minY, maxY) = expandedBounds(g.getEnvelopeInternal, expandMeters)
    val cx0 = math.min(MaxCell, math.max(0, math.floor((minX + 180.0) / cellDeg).toInt))
    val cx1 = math.min(MaxCell, math.max(0, math.floor((maxX + 180.0) / cellDeg).toInt))
    val cy0 = math.min(MaxCell, math.max(0, math.floor((minY + 90.0) / cellDeg).toInt))
    val cy1 = math.min(MaxCell, math.max(0, math.floor((maxY + 90.0) / cellDeg).toInt))
    val out = new Array[Any]((cx1 - cx0 + 1) * (cy1 - cy0 + 1))
    var i = 0; var cx = cx0
    while (cx <= cx1) {
      var cy = cy0
      while (cy <= cy1) { out(i) = (cx.toLong << CellBits) | cy.toLong; i += 1; cy += 1 }
      cx += 1
    }
    new GenericArrayData(out)
  }

  def computeRingCells(cell: Long, lo: Int, hi: Int): ArrayData = {
    val cx = (cell >> CellBits).toInt
    val cy = (cell & MaxCell).toInt
    val out = new Array[Any]((2 * hi + 1) * (2 * hi + 1))
    var i = 0
    var dx = -hi
    while (dx <= hi) {
      val adx = math.abs(dx)
      val nx = cx + dx
      if (nx >= 0 && nx <= MaxCell) {
        var dy = -hi
        while (dy <= hi) {
          val cheb = math.max(adx, math.abs(dy))
          if (cheb > lo && cheb <= hi) {
            val ny = cy + dy
            if (ny >= 0 && ny <= MaxCell) {
              out(i) = (nx.toLong << CellBits) | ny.toLong
              i += 1
            }
          }
          dy += 1
        }
      }
      dx += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], i))
  }

  /** The relation predicates, indexed by the ordinal generated code carries. */
  private val Relations: Array[SpatialPredicate] = Array(SpatialPredicate.Within,
    SpatialPredicate.Contains, SpatialPredicate.Intersects, SpatialPredicate.Overlaps)

  def computeRelates(lwkb: Array[Byte], rwkb: Array[Byte], predOrdinal: Int): Boolean = {
    val lg = GeoKit.wkbToGeomMemo(lwkb); val rg = GeoKit.wkbToGeomMemo(rwkb)
    lg != null && rg != null && Relations(predOrdinal).relates(lg, rg)
  }

  def computeRefCellEnv(lenv: ArrayData, renv: ArrayData, cellDeg: Double,
      lExpandMeters: Double): Long = {
    // the per-ROW envelope arrays instead of per-PAIR WKB parses —
    // stEnvelope carries exactly getEnvelopeInternal's doubles, and the
    // left side expands by the same bounds gridCells binned it with
    val le = new Envelope(lenv.getDouble(0), lenv.getDouble(2),
      lenv.getDouble(1), lenv.getDouble(3))
    val (lMinX, _, lMinY, _) = expandedBounds(le, lExpandMeters)
    cellOf(math.max(lMinX, renv.getDouble(0)),
      math.max(lMinY, renv.getDouble(1)), cellDeg)
  }

  def computeRelatesEnvChecked(lenv: ArrayData, renv: ArrayData,
      lwkb: Array[Byte], rwkb: Array[Byte], predOrdinal: Int): Boolean =
    // envelope-disjoint pairs cannot satisfy any relates predicate —
    // arithmetic-only reject before the WKB parse + JTS relate
    if (lenv.getDouble(0) > renv.getDouble(2) || renv.getDouble(0) > lenv.getDouble(2) ||
        lenv.getDouble(1) > renv.getDouble(3) || renv.getDouble(1) > lenv.getDouble(3)) false
    else computeRelates(lwkb, rwkb, predOrdinal)

  def predOrdinal(predicate: String): Int = {
    val p = SpatialPredicate.parse(predicate)
    val i = Relations.indexOf(p)
    if (i < 0) throw new IllegalArgumentException(s"not a relation predicate: $p")
    i
  }

  // --- zero-allocation fast path for 2-D point WKB ---------------------
  // A JTS 2-D point WKB is exactly 21 bytes: byteOrder(1) + type(4) +
  // x(8) + y(8). The pairwise refine kernels (withindist, distance
  // column, ring-kernel st_distance) evaluate two geometry reads per
  // CANDIDATE PAIR; for the point-point case — the dominant one —
  // decoding the two doubles in place skips the WKB parse, the parse
  // memo (which thrashes once distinct geometries exceed its 4096
  // slots), and the per-pair JTS centroid allocation. Exactness: a
  // point's centroid IS its coordinate and JTS point distance
  // (`Coordinate.distance`) is `Math.hypot(dx, dy)` on the same doubles —
  // bit-identical results (GeoExpressionsDistanceSpec), so SQL
  // `st_distance` ranks near-ties exactly as both spatial kernels do.
  // Anything not a plain 2-D point
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
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GeoExpressions.computeWkbFromWkt($c)")
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

case class GridCells(child: Expression, cellDeg: Double, expandMeters: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GeoExpressions.computeGridCells(v.asInstanceOf[Array[Byte]], cellDeg, expandMeters)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GeoExpressions.computeGridCells($c, $cellDeg, $expandMeters)")
  override protected def withNewChildInternal(n: Expression): GridCells = copy(child = n)
  override def prettyName: String = "grid_cells"
}

case class RingCells(child: Expression, lo: Int, hi: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    GeoExpressions.computeRingCells(v.asInstanceOf[Long], lo, hi)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GeoExpressions.computeRingCells($c, $lo, $hi)")
  override protected def withNewChildInternal(n: Expression): RingCells = copy(child = n)
  override def prettyName: String = "ring_cells"
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

case class RefCellEnv(lenv: Expression, renv: Expression,
    cellDeg: Double, lExpandMeters: Double)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = lenv
  override def right: Expression = renv
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType, containsNull = false),
    ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any =
    GeoExpressions.computeRefCellEnv(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], cellDeg, lExpandMeters)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.GeoExpressions.computeRefCellEnv($a, $b, $cellDeg, $lExpandMeters)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RefCellEnv =
    copy(lenv = l, renv = r)
  override def prettyName: String = "grid_ref_cell_env"
}

case class StRelatesEnvChecked(lenv: Expression, renv: Expression,
    lwkb: Expression, rwkb: Expression, predicate: String)
    extends QuaternaryExpression with ExpectsInputTypes {
  private val ord = GeoExpressions.predOrdinal(predicate)
  override def first: Expression = lenv
  override def second: Expression = renv
  override def third: Expression = lwkb
  override def fourth: Expression = rwkb
  override def inputTypes: Seq[DataType] = Seq(
    ArrayType(DoubleType, containsNull = false),
    ArrayType(DoubleType, containsNull = false), BinaryType, BinaryType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(le: Any, re: Any, l: Any, r: Any): Any =
    GeoExpressions.computeRelatesEnvChecked(
      le.asInstanceOf[ArrayData], re.asInstanceOf[ArrayData],
      l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]], ord)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.GeoExpressions.computeRelatesEnvChecked($a, $b, $c, $d, $ord)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): StRelatesEnvChecked =
    copy(lenv = f, renv = s, lwkb = t, rwkb = q)
  override def prettyName: String = s"st_${predicate}_envchecked"
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
