package graft.spatial

import org.locationtech.jts.geom.{Coordinate, CoordinateXY, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.geom.impl.CoordinateArraySequence
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader}

/**
 * JTS plumbing: per-thread factories/readers (JTS reader objects are not
 * thread-safe and not serializable) and WKT/WKB codecs.
 *
 * CRS is fixed to WGS84 / SRID 4326
 * (reference: DatasetGeometry.scala:35,54-59).
 */
object GeoKit {

  val SridWgs84 = 4326

  private val tlFactory = new ThreadLocal[GeometryFactory] {
    override def initialValue(): GeometryFactory =
      new GeometryFactory(new PrecisionModel(PrecisionModel.FLOATING), SridWgs84)
  }
  private val tlWktReader = new ThreadLocal[WKTReader] {
    override def initialValue(): WKTReader = new WKTReader(tlFactory.get())
  }
  private val tlWkbReader = new ThreadLocal[WKBReader] {
    override def initialValue(): WKBReader = new WKBReader(tlFactory.get())
  }
  private val tlWkbWriter = new ThreadLocal[WKBWriter] {
    override def initialValue(): WKBWriter = new WKBWriter()
  }

  def factory: GeometryFactory = tlFactory.get()

  /** WKT → Geometry; null/empty input → null (nulls flow, join drops them —
    * reference: DatasetGeometry.scala:40-42). Empty geometries (e.g.
    * `POLYGON EMPTY`, null JTS envelope, no centroid) also map to null so
    * every join path drops them uniformly. Invalid WKT throws. */
  def wktToGeom(wkt: String): Geometry =
    if (wkt == null || wkt.isEmpty) null
    else {
      val g = tlWktReader.get().read(wkt)
      if (g == null || g.isEmpty) null else g
    }

  /** WKB → Geometry; null input and empty geometries → null, as in
    * [[wktToGeom]]. A lon/lat point with a NaN ordinate encodes to a WKB
    * that reads back as `POINT EMPTY`; JTS puts an empty geometry at
    * distance 0 from everything, so it must never reach a kernel. */
  def wkbToGeom(wkb: Array[Byte]): Geometry =
    if (wkb == null || wkb.isEmpty) null
    else if (isPointWkb(wkb)) pointOfWkb(wkb)
    else {
      val g = tlWkbReader.get().read(wkb)
      if (g.isEmpty) null else g
    }

  /** The point `WKBReader` reads from a 2-D point WKB ([[isPointWkb]]),
    * decoded in place: one `CoordinateXY` in a `CoordinateArraySequence`
    * of dimension 2, with the factory's SRID; null for a NaN ordinate,
    * which the reader reads as `POINT EMPTY`. */
  private def pointOfWkb(wkb: Array[Byte]): Geometry = {
    val be = wkb(0) == 0
    val x = readDouble(wkb, 5, be)
    val y = readDouble(wkb, 13, be)
    if (x.isNaN || y.isNaN) null
    else factory.createPoint(new CoordinateArraySequence(Array[Coordinate](new CoordinateXY(x, y)), 2, 0))
  }

  /** True for the 21-byte WKB of a 2-D point (byte order, type 1, x, y),
    * in either byte order; false for SRID-flagged, Z/M and other types. */
  @inline def isPointWkb(b: Array[Byte]): Boolean =
    b != null && b.length == 21 &&
      (if (b(0) == 0) b(1) == 0 && b(2) == 0 && b(3) == 0 && b(4) == 1
       else b(0) == 1 && b(1) == 1 && b(2) == 0 && b(3) == 0 && b(4) == 0)

  /** The IEEE double at `off`; a point WKB holds x at 5 and y at 13,
    * big-endian when its first byte is 0. */
  @inline def readDouble(b: Array[Byte], off: Int, bigEndian: Boolean): Double = {
    var bits = 0L
    if (bigEndian) {
      var i = off; val e = off + 8
      while (i < e) { bits = (bits << 8) | (b(i) & 0xffL); i += 1 }
    } else {
      var i = off + 7
      while (i >= off) { bits = (bits << 8) | (b(i) & 0xffL); i -= 1 }
    }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** The 21 bytes `geomToWkb(point(x, y))` writes, built in place (the
    * writer twin of [[isPointWkb]]): byte order 0 = big-endian, type 1 =
    * Point, then x and y ([[writeDouble]]). */
  def pointWkb(x: Double, y: Double): Array[Byte] = {
    val b = new Array[Byte](21)
    b(4) = 1
    writeDouble(b, 5, x)
    writeDouble(b, 13, y)
    b
  }

  /** Writes `v` big-endian at `off`, as `doubleToLongBits` (NaN canonical,
    * as JTS's `WKBWriter` writes it): the writer twin of [[readDouble]]. */
  @inline def writeDouble(b: Array[Byte], off: Int, v: Double): Unit = {
    var bits = java.lang.Double.doubleToLongBits(v)
    var i = off + 7
    while (i >= off) { b(i) = bits.toByte; bits >>>= 8; i -= 1 }
  }

  // Per-thread direct-mapped parse cache for PAIRWISE hot paths
  // (distance / relate / ref-cell evaluate two parses per candidate
  // pair). In a broadcast nested-loop join the STREAMED row's WKB
  // re-arrives unchanged for every broadcast candidate AND the broadcast
  // side's geometries rotate through per streamed row — a 2-slot memo
  // (the previous design) pins the streamed side but re-parses the
  // rotating side on EVERY pair, which at 15M pairs is 15M parses and
  // 15M discarded JTS objects per pass; the resulting allocation storm
  // measurably degraded whole stages (in-task GC growing run over run).
  // A direct-mapped table keyed by WKB content (hash & mask → slot,
  // collision = overwrite) caches the rotating side too: parses drop to
  // O(distinct geometries) per thread and the garbage goes with them.
  // Content-keyed (UnsafeRow.getBinary returns a fresh copy each access,
  // so reference equality never fires); a hit costs one hashCode + one
  // short Arrays.equals. Entries over `CacheMaxEntryBytes` bypass the
  // cache (bounds per-thread memory: 4096 slots x ≤512 B WKB + parsed
  // geometry, a few MB worst-case); JTS geometries are immutable for all
  // ops used here, so cross-row reuse is safe.
  private val CacheSlots = 4096 // power of two
  private val CacheMaxEntryBytes = 512
  private val tlMemo = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](CacheSlots * 2)
  }

  def wkbToGeomMemo(wkb: Array[Byte]): Geometry = {
    if (wkb == null || wkb.isEmpty) return null
    if (wkb.length > CacheMaxEntryBytes) return tlWkbReader.get().read(wkb)
    val m = tlMemo.get()
    val i = (java.util.Arrays.hashCode(wkb) & (CacheSlots - 1)) << 1
    val k = m(i).asInstanceOf[Array[Byte]]
    if (k != null && java.util.Arrays.equals(k, wkb))
      return m(i + 1).asInstanceOf[Geometry]
    val g = tlWkbReader.get().read(wkb)
    m(i) = wkb; m(i + 1) = g
    g
  }

  def geomToWkb(g: Geometry): Array[Byte] =
    if (g == null) null else tlWkbWriter.get().write(g)

  def point(lon: Double, lat: Double): Geometry =
    factory.createPoint(new Coordinate(lon, lat))
}
