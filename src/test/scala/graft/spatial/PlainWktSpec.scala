package graft.spatial

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.{Failure, Success, Try}

import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Geometry, Point}
import org.locationtech.jts.io.{ByteOrderValues, WKBReader, WKBWriter, WKTReader}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.functions.GeoExpressions

/**
 * Differential pin for the WKT writer that skips JTS (`PlainWkt`, behind
 * `GeoExpressions.computeWkbFromWkt`): on seeded point and polygon texts
 * in many spellings, every text it accepts must give the bytes of JTS's
 * `WKBWriter().write(WKTReader.read(text))`, and every text it hands back
 * must get JTS's own answer from `computeWkbFromWkt`: the same bytes,
 * null, or an exception of the same class. The in-place point decode in
 * `GeoKit.wkbToGeom` must build the point `WKBReader` builds.
 */
class PlainWktSpec extends AnyFlatSpec with Matchers {

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** JTS's WKB, null or exception class for `s`: the path every text
    * took before the writer. */
  private def jts(s: String): Any = Try(GeoKit.wktToGeom(s)) match {
    case Success(null) => null
    case Success(g) => GeoKit.geomToWkb(g).toSeq
    case Failure(e) => e.getClass
  }

  private def ours(s: String): Any = Try(GeoExpressions.computeWkbFromWkt(utf8(s))) match {
    case Success(null) => null
    case Success(b) => b.toSeq
    case Failure(e) => e.getClass
  }

  /** The writer's bytes for `s`, also read out of the middle of a larger
    * buffer; None when it hands the text to JTS. */
  private def plain(s: String): Option[Seq[Byte]] = {
    val direct = Option(PlainWkt.toWkb(utf8(s))).map(_.toSeq)
    val bytes = s.getBytes(UTF_8)
    val padded = Array[Byte](7, 7, 7) ++ bytes ++ Array[Byte](7)
    Option(PlainWkt.toWkb(UTF8String.fromBytes(padded, 3, bytes.length))).map(_.toSeq) shouldBe direct
    direct
  }

  private def spaces(rnd: java.util.Random, allowNone: Boolean): String =
    rnd.nextInt(8) match {
      case 0 if allowNone => ""
      case 1 => "  "
      case 2 => "\t"
      case 3 => "\n"
      case 4 => "\r\n "
      case 5 => "\u0000"
      case 6 => " \u001f"
      case _ => " "
    }

  /** One ordinate in one of the spellings WKT writers use. */
  private def number(rnd: java.util.Random): String = {
    val v = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 2)
    rnd.nextInt(10) match {
      case 0 => (rnd.nextInt(200) - 100).toString
      case 1 => java.lang.Double.toString(v)
      case 2 => String.format(java.util.Locale.ROOT, "%.3e", Double.box(v))
      case 3 => String.format(java.util.Locale.ROOT, "%.6E", Double.box(v)).replace("E+0", "E")
      case 4 => if (rnd.nextBoolean()) "-0.0" else "-0"
      case 5 => "+" + math.abs(v).toString
      case 6 => new java.math.BigDecimal(v).toPlainString // up to 50 digits
      case 7 => "." + rnd.nextInt(1000)
      case 8 => rnd.nextInt(1000) + "."
      case _ => new java.math.BigDecimal(java.lang.Double.toString(v)).toPlainString
    }
  }

  private def tag(word: String, rnd: java.util.Random): String =
    word.map(c => if (rnd.nextInt(3) == 0) c.toLower else c)

  /** A closed ring of `n` points (the last repeats the first's text). */
  private def ring(rnd: java.util.Random, n: Int): Seq[(String, String)] = {
    val pts = Seq.fill(n - 1)((number(rnd), number(rnd)))
    pts :+ pts.head
  }

  private def ringText(pts: Seq[(String, String)], rnd: java.util.Random): String =
    "(" + spaces(rnd, allowNone = true) + pts.map { case (x, y) =>
      x + spaces(rnd, allowNone = false) + y + spaces(rnd, allowNone = true)
    }.mkString("," + spaces(rnd, allowNone = true)) + ")"

  /** A point or polygon text the writer accepts: every ring is closed by
    * its text, its last point repeating its first. */
  private def plainText(rnd: java.util.Random): String =
    if (rnd.nextInt(4) == 0)
      spaces(rnd, allowNone = true) + tag("POINT", rnd) + spaces(rnd, allowNone = true) +
        "(" + number(rnd) + spaces(rnd, allowNone = false) + number(rnd) + ")" +
        spaces(rnd, allowNone = true)
    else {
      val rings = Seq.fill(1 + (if (rnd.nextInt(3) == 0) rnd.nextInt(3) else 0))(
        ring(rnd, 4 + rnd.nextInt(9)))
      spaces(rnd, allowNone = true) + tag("POLYGON", rnd) + spaces(rnd, allowNone = true) +
        "(" + rings.map(ringText(_, rnd)).mkString("," + spaces(rnd, allowNone = true)) + ")" +
        spaces(rnd, allowNone = true)
    }

  /** The shapes the writer must hand to JTS, each as a text. */
  private val fallbacks = Seq(
    "", "   ", "POINT EMPTY", "POLYGON EMPTY", "POLYGON (EMPTY)", "POLYGON ((0 0, 1 0, 1 1, 0 0), EMPTY)",
    "POINT Z (1 2 3)", "POINT M (1 2 3)", "POINT ZM (1 2 3 4)", "POINTZ (1 2 3)", "POLYGON Z ((0 0 0, 1 0 0, 1 1 0, 0 0 0))",
    "POINT (1 2 3)", "POLYGON ((0 0 1, 1 0 1, 1 1 1, 0 0 1))",
    "POINT (NaN 1)", "POINT (nan 1)", "POINT (1 Infinity)", "POINT (1e999 0)", "POINT (-1e400 0)",
    "POINT (1 2) # a comment", "# c\nPOINT (1 2)", "POINT (1 #\n 2)",
    "POINT (1 2)é", "POINT (1\u00a02)", "POINT (1 2é)", "PÖINT (1 2)",
    "LINESTRING (0 0, 1 1)", "MULTIPOINT ((0 0))", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))",
    "GEOMETRYCOLLECTION (POINT (1 2))", "LINEARRING (0 0, 1 0, 1 1, 0 0)", "POLYGONS ((0 0, 1 0, 1 1, 0 0))",
    "POINT (1.2.3 4)", "POINT (--1 2)", "POINT (1e 2)", "POINT (e5 2)", "POINT (. 2)", "POINT (+ 2)",
    "POINT (1d 2)", "POINT (0x10 2)", "POINT (1-2 3)", "POINT (1,2)", "POINT (1 2, 3 4)", "POINT 1 2",
    "POINT ((1 2))", "POINT (1 2", "POINT (1)", "POINT ()",
    "POLYGON ((0 0, 1 0, 1 1, 0 1))", "POLYGON ((0 0, 1 0, 0 0))", "POLYGON ((0 0, 1 0, 1 1, 0 0.1))",
    "POLYGON ((0 0, 1 0, 1 1, 0 0), (0.1 0.1, 0.2 0.1, 0.2 0.2))", "POLYGON (0 0, 1 0, 1 1, 0 0)",
    "POLYGON ((0 0, 1 0, 1 1, 0 0)", "POLYGON ((0 0, 1 0, 1 1, 0 0)),", "POLYGON (())",
    "POINT (1 2) x", "POINT (1 2))", "POINT (1 2) POINT (3 4)", "POLYGON ((0 0, 1 0, 1 1, 0 0)) junk",
    "(1 2)", "1 2", "POINT(1 2)garbage")

  "PlainWkt" should "write JTS's bytes for every seeded text it accepts" in {
    val rnd = new java.util.Random(13)
    val texts = Seq.fill(6000)(plainText(rnd))
    var accepted = 0
    for (s <- texts) withClue(s"'$s': ") {
      plain(s) match {
        case Some(b) =>
          accepted += 1
          b shouldBe new WKBWriter().write(new WKTReader(GeoKit.factory).read(s)).toSeq
        case None =>
      }
      ours(s) shouldBe jts(s)
    }
    accepted shouldBe texts.length
  }

  it should "accept holes, tag case, whitespace, exponents, -0.0 and integers" in {
    val accepted = Seq(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2), (6 6, 8 6, 8 8, 6 6))",
      "polygon((0 0,1 0,1 1,0 0))", "Polygon\t(\n(0 0 , 1 0 ,1 1, 0 0 ) )\n", "pOiNt(1 2)",
      "\u0000 POINT\r\n(1 2)\u0001", "POINT (1e5 -2.5E-3)", "POINT (1E+2 +3e+0)", "POINT (-0.0 -0)",
      "POINT (.5 5.)", "POINT (12345678901234567890 -7)",
      "POLYGON ((-0.0 0, 1 0, 1 1, 0 0))", // closed by ==, as equals2D compares
      "POINT (-73.98765432101234 40.748817000000001)")
    for (s <- accepted) withClue(s"'$s': ") {
      plain(s) shouldBe Some(new WKBWriter().write(new WKTReader(GeoKit.factory).read(s)).toSeq)
      ours(s) shouldBe jts(s)
    }
    // -0.0 keeps its sign bit, as JTS writes it
    plain("POINT (-0.0 0)").get.slice(5, 13) shouldBe
      GeoExpressions.computeWkbPoint(-0.0, 0.0).toSeq.slice(5, 13)
  }

  it should "hand every other shape to JTS, whose answer stands" in {
    for (s <- fallbacks) withClue(s"'$s': ") {
      plain(s) shouldBe None
      ours(s) shouldBe jts(s)
    }
    // the shapes cover all three of JTS's answers
    val answers = fallbacks.map(jts)
    answers should contain (null)
    answers.exists(_.isInstanceOf[Seq[_]]) shouldBe true
    answers.exists(_.isInstanceOf[Class[_]]) shouldBe true
  }

  it should "answer as JTS on seeded mutations of plain texts" in {
    val rnd = new java.util.Random(29)
    val junk = Seq("", " ", "(", ")", ",", "#", "e", "E", "+", "-", ".", "1", "x", "Z", "EMPTY",
      "NaN", "é", "\u00a0", "\t")
    for (_ <- 1 to 4000) {
      val base = plainText(rnd)
      val at = rnd.nextInt(base.length + 1)
      val s = rnd.nextInt(3) match {
        case 0 => base.substring(0, at) + junk(rnd.nextInt(junk.length)) + base.substring(at)
        case 1 if at < base.length => base.substring(0, at) + base.substring(at + 1)
        case _ => base.substring(0, at)
      }
      withClue(s"'$s': ") {
        plain(s).foreach(_ shouldBe new WKBWriter().write(new WKTReader(GeoKit.factory).read(s)).toSeq)
        ours(s) shouldBe jts(s)
      }
    }
  }

  "GeoKit.wkbToGeom" should "decode a point WKB in place as WKBReader does, in both byte orders" in {
    val rnd = new java.util.Random(31)
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue, -1.5, 179.99999999999997)
    val pairs = Seq.fill(500)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)) ++
      Seq.fill(200)((java.lang.Double.longBitsToDouble(rnd.nextLong()),
        java.lang.Double.longBitsToDouble(rnd.nextLong()))) ++
      (for (x <- specials; y <- specials) yield (x, y))
    val reader = new WKBReader(GeoKit.factory)
    for ((x, y) <- pairs; order <- Seq(ByteOrderValues.BIG_ENDIAN, ByteOrderValues.LITTLE_ENDIAN))
      withClue(s"($x, $y), byte order $order: ") {
        val wkb = new WKBWriter(2, order).write(GeoKit.factory.createPoint(new Coordinate(x, y)))
        GeoKit.isPointWkb(wkb) shouldBe true
        val want: Geometry = { val g = reader.read(wkb); if (g.isEmpty) null else g }
        val got = GeoKit.wkbToGeom(wkb)
        if (want == null) got shouldBe null
        else {
          got shouldBe a[Point]
          got.equalsExact(want) shouldBe true
          java.lang.Double.doubleToRawLongBits(got.getCoordinate.x) shouldBe
            java.lang.Double.doubleToRawLongBits(want.getCoordinate.x)
          java.lang.Double.doubleToRawLongBits(got.getCoordinate.y) shouldBe
            java.lang.Double.doubleToRawLongBits(want.getCoordinate.y)
          got.getSRID shouldBe want.getSRID
          val (gs, ws) = (got.asInstanceOf[Point].getCoordinateSequence,
            want.asInstanceOf[Point].getCoordinateSequence)
          gs.getDimension shouldBe ws.getDimension
          gs.getMeasures shouldBe ws.getMeasures
          gs.getClass shouldBe ws.getClass
          got.getCoordinate.getClass shouldBe want.getCoordinate.getClass
        }
      }
    // a NaN ordinate reads as an empty point, which maps to null
    GeoKit.wkbToGeom(GeoExpressions.computeWkbPoint(Double.NaN, 1.0)) shouldBe null
    GeoKit.wkbToGeom(GeoExpressions.computeWkbPoint(1.0, Double.NaN)) shouldBe null
  }
}
