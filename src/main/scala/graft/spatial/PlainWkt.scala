package graft.spatial

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * WKT to WKB without JTS objects, for plain 2-D point and polygon text:
 * the bytes `WKBWriter().write(WKTReader.read(text))` gives (big-endian,
 * type 1 or 3, x and y only), written from the string's UTF-8 bytes,
 * which are never decoded to a `String`.
 *
 * Plain text is `POINT (x y)` or `POLYGON ((x y, ...), (x y, ...), ...)`
 * with the tag in any case, whitespace bytes 0 to 32 (JTS's tokenizer's
 * whitespace) between tokens and nothing but whitespace after the last
 * `)`. A number is a token made only of `[0-9+-.eE]`, parsed by
 * `Double.parseDouble` on the same text JTS's tokenizer hands it, and
 * must be finite. Every ring is closed (its first and last points `==`,
 * as `Coordinate.equals2D` compares them) and has at least 4 points.
 *
 * Anything else is not plain, and the caller asks JTS, whose answer (a
 * geometry, an empty one, or an exception) stands: `EMPTY`, a Z or M tag,
 * a third ordinate, `NaN` or `Infinity`, a `#` comment, a byte above 127,
 * any other geometry type, a malformed number, an open or short ring and
 * trailing text.
 */
object PlainWkt {

  private val PointType = 1
  private val PolygonType = 3

  /** The WKB of `wkt`, or null when it is not plain. */
  def toWkb(wkt: UTF8String): Array[Byte] = scanners.get().wkb(wkt)

  private val scanners = ThreadLocal.withInitial[Scanner](() => new Scanner)

  /** One thread's parse state, reused from text to text. */
  private final class Scanner {
    private var base: AnyRef = _
    private var pos = 0L
    private var end = 0L
    /** The ordinates read, x and y of each point in turn. */
    private var xy = new Array[Double](64)
    private var points = 0
    /** Per polygon ring, its point count. */
    private var rings = new Array[Int](4)
    private var ringCount = 0
    private var token = new Array[Char](32)

    def wkb(s: UTF8String): Array[Byte] = {
      base = s.getBaseObject
      pos = s.getBaseOffset
      end = pos + s.numBytes
      points = 0
      ringCount = 0
      // the text may point into a large row buffer: hold no reference to it
      val t = try parse() finally base = null
      if (t == PointType) GeoKit.pointWkb(xy(0), xy(1))
      else if (t == PolygonType) {
        val b = new Array[Byte](9 + 4 * ringCount + 16 * points)
        b(4) = PolygonType.toByte
        writeInt(b, 5, ringCount)
        var off = 9
        var p = 0
        var r = 0
        while (r < ringCount) {
          writeInt(b, off, rings(r))
          off += 4
          val e = p + rings(r)
          while (p < e) {
            GeoKit.writeDouble(b, off, xy(2 * p))
            GeoKit.writeDouble(b, off + 8, xy(2 * p + 1))
            off += 16
            p += 1
          }
          r += 1
        }
        b
      } else null
    }

    /** The type of the plain text read, or 0 when it is not plain. */
    private def parse(): Int = {
      val t = tag()
      if (t == 0 || !take('(')) return 0
      if (t == PointType) {
        if (!point() || !take(')')) return 0
      } else {
        var more = true
        while (more) {
          if (!take('(') || !ring()) return 0
          if (take(')')) more = false
          else if (!take(',')) return 0
        }
      }
      skipWhitespace()
      if (pos == end) t else 0
    }

    /** The geometry type the tag names, or 0 for any other word. */
    private def tag(): Int = {
      skipWhitespace()
      val start = pos
      while (pos < end && isLetter(byteAt(pos))) pos += 1
      if (is(start, "POINT")) PointType else if (is(start, "POLYGON")) PolygonType else 0
    }

    /** Whether the bytes from `start` to `pos` are `word`, in any case. */
    private def is(start: Long, word: String): Boolean = {
      if (pos - start != word.length) return false
      var k = 0
      while (k < word.length && (byteAt(start + k) & ~0x20) == word.charAt(k)) k += 1
      k == word.length
    }

    /** A ring's points after its `(`, through its `)`: closed, at least 4. */
    private def ring(): Boolean = {
      val first = points
      var more = true
      while (more) {
        if (!point()) return false
        if (take(')')) more = false
        else if (!take(',')) return false
      }
      val n = points - first
      val last = points - 1
      if (n < 4 || xy(2 * first) != xy(2 * last) || xy(2 * first + 1) != xy(2 * last + 1))
        return false
      if (ringCount == rings.length) rings = java.util.Arrays.copyOf(rings, 2 * ringCount)
      rings(ringCount) = n
      ringCount += 1
      true
    }

    /** Two numbers, appended to [[xy]]. */
    private def point(): Boolean = {
      if (2 * points + 2 > xy.length) xy = java.util.Arrays.copyOf(xy, 2 * xy.length)
      val x = number()
      if (x.isNaN) return false
      val y = number()
      if (y.isNaN) return false
      xy(2 * points) = x
      xy(2 * points + 1) = y
      points += 1
      true
    }

    /** The next token's finite value, or NaN when it is not a plain
      * number. The token runs over `[0-9+-.eE]`. Where JTS's token would
      * run on (over another letter, or a byte above 127), the caller's
      * next expectation fails on that byte, so a token is read only when
      * JTS reads the same one. */
    private def number(): Double = {
      skipWhitespace()
      var n = 0
      while (pos < end && isNumberByte(byteAt(pos))) {
        if (n == token.length) token = java.util.Arrays.copyOf(token, 2 * n)
        token(n) = byteAt(pos).toChar
        n += 1
        pos += 1
      }
      if (n == 0) return Double.NaN
      val v =
        try java.lang.Double.parseDouble(new String(token, 0, n))
        catch { case _: NumberFormatException => Double.NaN }
      if (java.lang.Double.isFinite(v)) v else Double.NaN
    }

    /** Skips whitespace, then consumes `c` if it comes next. */
    private def take(c: Char): Boolean = {
      skipWhitespace()
      if (pos < end && byteAt(pos) == c) { pos += 1; true } else false
    }

    private def skipWhitespace(): Unit =
      while (pos < end && (byteAt(pos) & 0xff) <= ' ') pos += 1

    @inline private def byteAt(p: Long): Byte = Platform.getByte(base, p)
  }

  @inline private def isLetter(b: Byte): Boolean = (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  @inline private def isNumberByte(b: Byte): Boolean =
    (b >= '0' && b <= '9') || b == '.' || b == '-' || b == '+' || b == 'e' || b == 'E'

  private def writeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte
    b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte
    b(off + 3) = v.toByte
  }
}
