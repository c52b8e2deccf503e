package graft.spatial

import java.nio.{ByteBuffer, ByteOrder}

import org.locationtech.jts.algorithm.CGAlgorithmsDD
import org.locationtech.jts.geom.Location

/**
 * Point-in-polygon on a polygon's WKB bytes, without building the JTS
 * polygon: JTS's `SimplePointInAreaLocator.locate` of a point against
 * the polygon the bytes decode to, step for step. The shell is located
 * first and then each hole, with the locator's rules (a point in a hole
 * is exterior, on a hole's boundary it is boundary). Each ring is one
 * `RayCrossingCounter` pass that counts the segment from point k to
 * point k - 1, and an edge that straddles the ray's line is decided by
 * `CGAlgorithmsDD.orientationIndex`, as JTS does. The locator's envelope
 * tests are left out: for a closed ring of finite points they never
 * change its answer, and callers test the polygon's envelope themselves.
 *
 * Only a plain polygon is read: byte order 0 or 1, type 3 with no SRID,
 * Z or M flag, at least one ring, and every ring closed, with at least
 * 4 points, all of them finite, inside the buffer. Anything else gives
 * [[NotPlain]], and the caller asks JTS: a multipolygon or any other
 * type, EWKB, a ring that JTS's reader would close or pad
 * (`CoordinateSequences.ensureValidRing`), a NaN or infinite ordinate,
 * `POLYGON EMPTY` and a truncated buffer.
 */
object PolygonWkb {

  /** [[locate]]'s answer for a WKB that is not a plain polygon. */
  val NotPlain: Int = -1

  private val PolygonType = 3

  /** `Location.INTERIOR`, `BOUNDARY` or `EXTERIOR` of (x, y) against the
    * polygon in `wkb`, or [[NotPlain]]. */
  def locate(x: Double, y: Double, wkb: Array[Byte]): Int = {
    if (wkb == null || wkb.length < 9) return NotPlain
    val b = ByteBuffer.wrap(wkb)
    wkb(0) match {
      case 0 => b.order(ByteOrder.BIG_ENDIAN)
      case 1 => b.order(ByteOrder.LITTLE_ENDIAN)
      case _ => return NotPlain
    }
    if (b.getInt(1) != PolygonType) return NotPlain
    val rings = b.getInt(5)
    if (rings < 1) return NotPlain
    var answer = -1
    var off = 9
    var r = 0
    while (r < rings) {
      if (wkb.length - off < 4) return NotPlain
      val n = b.getInt(off)
      off += 4
      if (n < 4 || n > (wkb.length - off) / 16) return NotPlain
      val loc = locateInRing(x, y, b, off, n)
      if (loc == NotPlain) return NotPlain
      // the locator's rule; every ring is still read, so that whether
      // the bytes are plain does not depend on the point
      if (answer < 0) {
        if (r == 0) { if (loc != Location.INTERIOR) answer = loc }
        else if (loc == Location.BOUNDARY) answer = Location.BOUNDARY
        else if (loc == Location.INTERIOR) answer = Location.EXTERIOR
      }
      off += 16 * n
      r += 1
    }
    if (answer < 0) Location.INTERIOR else answer
  }

  /** `RayCrossingCounter.locatePointInRing` of (x, y) against the ring of
    * `n` points at `off`; [[NotPlain]] when a point is not finite or the
    * ring does not end where it starts. */
  private def locateInRing(x: Double, y: Double, b: ByteBuffer, off: Int, n: Int): Int = {
    val x0 = b.getDouble(off)
    val y0 = b.getDouble(off + 8)
    if (!java.lang.Double.isFinite(x0) || !java.lang.Double.isFinite(y0)) return NotPlain
    var p2x = x0
    var p2y = y0
    var crossings = 0
    var onSegment = false
    var o = off + 16
    val end = off + 16 * n
    while (o < end) {
      val p1x = b.getDouble(o)
      val p1y = b.getDouble(o + 8)
      if (!java.lang.Double.isFinite(p1x) || !java.lang.Double.isFinite(p1y)) return NotPlain
      // RayCrossingCounter.countSegment(p1, p2), until the point is on
      // a segment
      if (!onSegment && !(p1x < x && p2x < x)) {
        if (x == p2x && y == p2y) onSegment = true
        else if (p1y == y && p2y == y) {
          var minX = p1x
          var maxX = p2x
          if (minX > maxX) { minX = p2x; maxX = p1x }
          if (x >= minX && x <= maxX) onSegment = true
        } else if ((p1y > y && p2y <= y) || (p2y > y && p1y <= y)) {
          var orient = CGAlgorithmsDD.orientationIndex(p1x, p1y, p2x, p2y, x, y)
          if (orient == 0) onSegment = true
          else {
            if (p2y < p1y) orient = -orient
            if (orient == 1) crossings += 1
          }
        }
      }
      p2x = p1x
      p2y = p1y
      o += 16
    }
    if (p2x != x0 || p2y != y0) NotPlain
    else if (onSegment) Location.BOUNDARY
    else if ((crossings & 1) == 1) Location.INTERIOR
    else Location.EXTERIOR
  }
}
