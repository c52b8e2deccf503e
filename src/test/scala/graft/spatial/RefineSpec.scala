package graft.spatial

import java.nio.{ByteBuffer, ByteOrder}

import scala.util.{Failure, Success, Try}

import org.locationtech.jts.algorithm.locate.SimplePointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Geometry, Location, Point, Polygon, TopologyException}
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/**
 * Differential pin for the point/polygon fast path of
 * `SpatialPredicate.{Within, Contains}.relates`: on seeded shells
 * (convex, concave, self-crossing, rectangles), with holes (nested ones
 * too) and as `MultiPolygon`s, probed at vertices, edge midpoints, hole
 * centres, snapped grid points, random spots, `POINT EMPTY` and NaN
 * ordinates, it must answer exactly what JTS relate answers wherever
 * relate answers. The WKB refine the kernels run for a point within a
 * polygon row (`PolygonWkb.locate`, through `SpatialProbe`) must answer
 * exactly what `SimplePointInAreaLocator` answers, and hand every shape
 * it does not read to JTS.
 */
class RefineSpec extends AnyFlatSpec with Matchers {

  import SpatialPredicate.{Contains, Within}

  private val gf = GeoKit.factory

  private def pt(x: Double, y: Double): Point = gf.createPoint(new Coordinate(x, y))

  private def ring(cs: Seq[(Double, Double)]): Array[Coordinate] =
    (cs :+ cs.head).map { case (x, y) => new Coordinate(x, y) }.toArray

  private def polygon(shell: Seq[(Double, Double)], holes: Seq[Seq[(Double, Double)]]): Polygon =
    gf.createPolygon(gf.createLinearRing(ring(shell)),
      holes.map(h => gf.createLinearRing(ring(h))).toArray)

  /** Shell vertices on the integer grid, so edge midpoints and snapped
    * grid points land exactly on edges. */
  private def shellOf(kind: Int, rnd: java.util.Random): Seq[(Double, Double)] = {
    val cx = 10 + rnd.nextInt(10); val cy = 10 + rnd.nextInt(10)
    val n = 4 + rnd.nextInt(9)
    val r = 4 + rnd.nextInt(6)
    def onCircle(i: Int, rad: Double): (Double, Double) = {
      val a = 2 * math.Pi * i / n
      (math.rint(cx + rad * math.cos(a)), math.rint(cy + rad * math.sin(a)))
    }
    kind match {
      case 0 => (0 until n).map(onCircle(_, r)) // convex
      case 1 => (0 until n).map(i => onCircle(i, if (i % 2 == 0) r else r / 2.0)) // concave star
      case 2 => // self-crossing: the convex ring's vertices in shuffled order
        new scala.util.Random(rnd).shuffle((0 until n).map(onCircle(_, r)))
      case _ => // rectangle
        val w = 1 + rnd.nextInt(8); val h = 1 + rnd.nextInt(8)
        Seq((cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h), (cx - w, cy + h))
    }
  }

  private def square(x: Double, y: Double, half: Double): Seq[(Double, Double)] =
    Seq((x - half, y - half), (x + half, y - half), (x + half, y + half), (x - half, y + half))

  private def holesOf(shell: Seq[(Double, Double)], rnd: java.util.Random): Seq[Seq[(Double, Double)]] = {
    val xs = shell.map(_._1); val ys = shell.map(_._2)
    val (mx, my) = ((xs.min + xs.max) / 2, (ys.min + ys.max) / 2)
    rnd.nextInt(4) match {
      case 0 => Nil
      case 1 => Seq(square(mx, my, 1))
      case 2 => Seq(square(mx - 1.5, my, 1), square(mx + 1.5 + rnd.nextInt(2), my, 1))
      case _ => Seq(square(mx, my, 2), square(mx, my, 1)) // nested: a hole inside a hole
    }
  }

  /** Vertices, edge midpoints, hole centres, snapped grid points, random
    * spots, an empty point and NaN ordinates. */
  private def probesOf(a: Geometry, rnd: java.util.Random): Seq[Point] = {
    val cs = a.getCoordinates.toSeq
    val vertices = cs.map(c => pt(c.x, c.y))
    val mids = cs.sliding(2).collect { case Seq(p, q) => pt((p.x + q.x) / 2, (p.y + q.y) / 2) }
    val holeCentres = a match {
      case p: Polygon => (0 until p.getNumInteriorRing).map { i =>
        val e = p.getInteriorRingN(i).getEnvelopeInternal
        pt(e.centre.x, e.centre.y)
      }
      case _ => Nil
    }
    val e = a.getEnvelopeInternal
    val grid = for {
      x <- (e.getMinX.toInt - 1) to (e.getMaxX.toInt + 1)
      y <- (e.getMinY.toInt - 1) to (e.getMaxY.toInt + 1)
      if rnd.nextInt(4) == 0
    } yield pt(x, y)
    val random = (0 until 20).map(_ =>
      pt(e.getMinX + rnd.nextDouble() * e.getWidth, e.getMinY + rnd.nextDouble() * e.getHeight))
    vertices ++ mids ++ holeCentres ++ grid ++ random ++
      Seq(gf.createPoint(), pt(Double.NaN, e.centre.y), pt(e.centre.x, Double.NaN))
  }

  /** Compares `fast` against `relate` on one pair; returns the relate
    * answer, or None when relate throws on an invalid polygon. */
  private def agree(l: Geometry, r: Geometry, fast: => Boolean, relate: => Boolean): Option[Boolean] =
    Try(relate) match {
      case Success(v) =>
        withClue(s"l=$l r=$r: ") { fast shouldBe v }
        Some(v)
      case Failure(_: TopologyException) => None
      case Failure(e) => throw e
    }

  "Within/Contains relates" should "equal JTS relate on points against polygons and multipolygons" in {
    var compared = 0; var inside = 0; var threw = 0
    for (seed <- 1 to 40) {
      val rnd = new java.util.Random(seed)
      for (kind <- 0 to 3) {
        val shell = shellOf(kind, rnd)
        val poly = polygon(shell, holesOf(shell, rnd))
        val shifted = shell.map { case (x, y) => (x + 2 * (rnd.nextInt(3) + 4), y) }
        val multi = gf.createMultiPolygon(Array(poly, polygon(shifted, Nil)))
        for (area <- Seq[Geometry](poly, multi); p <- probesOf(area, rnd)) {
          val w = agree(p, area, Within.relates(p, area), p.within(area))
          agree(area, p, Contains.relates(area, p), area.contains(p))
          w match {
            case Some(v) => compared += 1; if (v) inside += 1
            case None => threw += 1
          }
        }
      }
    }
    // the comparison is not vacuous: thousands of pairs, a real share
    // inside, and the invalid shells do reach relate's failure mode
    compared should be > 10000
    inside should be > 2000
    threw should be > 0
  }

  it should "answer on an invalid polygon where relate throws (the recorded trade)" in {
    // a self-crossing shell with a hole: relate's edge labelling fails
    // ("side location conflict"); the ray crossing count does not
    val bad = GeoKit.wktToGeom("POLYGON ((18 11, 14 7, 14 15, 10 11, 18 11), " +
      "(13 10, 15 10, 15 12, 13 12, 13 10))")
    val p = pt(15, 9)
    an[TopologyException] should be thrownBy p.within(bad)
    Within.relates(p, bad) shouldBe true
    Contains.relates(bad, p) shouldBe true
  }

  private def wkb(g: Geometry, order: Int): Array[Byte] = new WKBWriter(2, order).write(g)

  /** Whether the probe kernel finds `p` within the one indexed row `w`. */
  private def probeWithin(p: Point, w: Array[Byte]): Boolean =
    new graft.plans.SpatialProbe(Array(w))
      .matches(p, Within, graft.plans.SpatialProbe.AlwaysTrue, needDist = false).hasNext

  "PolygonWkb.locate" should "equal SimplePointInAreaLocator on the seeded polygons, in both byte orders" in {
    var compared = 0; var inside = 0; var boundary = 0; var selfCrossing = 0
    for (seed <- 1 to 40) {
      val rnd = new java.util.Random(seed)
      for (kind <- 0 to 3) {
        val shell = shellOf(kind, rnd)
        val poly = polygon(shell, holesOf(shell, rnd))
        if (kind == 2 && !poly.isValid) selfCrossing += 1
        val be = wkb(poly, ByteOrderValues.BIG_ENDIAN)
        val le = wkb(poly, ByteOrderValues.LITTLE_ENDIAN)
        for (p <- probesOf(poly, rnd) if !p.isEmpty) {
          val c = p.getCoordinate
          val want = SimplePointInAreaLocator.locate(c, poly)
          withClue(s"p=$p poly=$poly: ") {
            PolygonWkb.locate(c.x, c.y, be) shouldBe want
            PolygonWkb.locate(c.x, c.y, le) shouldBe want
            probeWithin(p, le) shouldBe Within.relates(p, poly)
          }
          compared += 1
          if (want == Location.INTERIOR) inside += 1
          if (want == Location.BOUNDARY) boundary += 1
        }
      }
    }
    compared should be > 10000
    inside should be > 2000
    boundary should be > 1000
    selfCrossing should be > 0
  }

  /** A polygon's WKB written by hand: `rings` as given, open or short
    * ones included, under the type word `typeWord`. */
  private def handWkb(order: ByteOrder, typeWord: Int, rings: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val b = ByteBuffer.allocate(9 + rings.map(r => 4 + 16 * r.length).sum).order(order)
    b.put((if (order == ByteOrder.BIG_ENDIAN) 0 else 1).toByte).putInt(typeWord).putInt(rings.length)
    rings.foreach { r => b.putInt(r.length); r.foreach { case (x, y) => b.putDouble(x).putDouble(y) } }
    b.array()
  }

  it should "hand every shape it does not read to JTS, which answers" in {
    val sq = Seq((0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0))
    val plain = polygon(sq.init, Seq(square(2, 2, 0.5)))
    val zPoly = gf.createPolygon(sq.map { case (x, y) => new Coordinate(x, y, 7) }.toArray)
    val withSrid = gf.createPolygon(ring(sq.init)); withSrid.setSRID(4326)
    val multi = gf.createMultiPolygon(Array(plain, polygon(square(10, 10, 1), Nil)))
    val shapes = Seq(
      "multipolygon" -> wkb(multi, ByteOrderValues.LITTLE_ENDIAN),
      "EWKB with SRID" -> new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN, true).write(withSrid),
      "Z coordinate" -> new WKBWriter(3, ByteOrderValues.BIG_ENDIAN).write(zPoly),
      "open ring" -> handWkb(ByteOrder.LITTLE_ENDIAN, 3, Seq(sq.init)),
      "3-point ring" -> handWkb(ByteOrder.BIG_ENDIAN, 3, Seq(Seq((0.0, 0.0), (4.0, 0.0), (0.0, 4.0)))),
      "POLYGON EMPTY" -> wkb(gf.createPolygon(), ByteOrderValues.LITTLE_ENDIAN),
      "NaN ordinate" -> handWkb(ByteOrder.LITTLE_ENDIAN, 3,
        Seq(Seq((0.0, 0.0), (4.0, Double.NaN), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)))),
      "NaN in a hole" -> handWkb(ByteOrder.BIG_ENDIAN, 3,
        Seq(sq, Seq((1.0, 1.0), (2.0, 1.0), (Double.NaN, 2.0), (1.0, 1.0)))))
    val probes = Seq(pt(1, 1), pt(2, 2), pt(0.5, 3), pt(4, 2), pt(0, 0), pt(5, 5), pt(10, 10), pt(1.5, 1))
    var insideSomewhere = 0
    for ((name, w) <- shapes) withClue(s"$name: ") {
      val g = GeoKit.wkbToGeom(w)
      for (p <- probes) {
        PolygonWkb.locate(p.getX, p.getY, w) shouldBe PolygonWkb.NotPlain
        val want = g != null && Within.relates(p, g)
        if (want) insideSomewhere += 1
        withClue(s"p=$p: ") { probeWithin(p, w) shouldBe want }
      }
    }
    insideSomewhere should be > 10
    // and the same polygon, plain, is read
    PolygonWkb.locate(1, 1, wkb(plain, ByteOrderValues.LITTLE_ENDIAN)) shouldBe Location.INTERIOR
    PolygonWkb.locate(2, 2, handWkb(ByteOrder.BIG_ENDIAN, 3, Seq(sq))) shouldBe Location.INTERIOR
  }

  it should "not read past a truncated buffer" in {
    val w = wkb(polygon(square(2, 2, 1), Nil), ByteOrderValues.LITTLE_ENDIAN)
    for (n <- 0 until w.length)
      PolygonWkb.locate(2, 2, java.util.Arrays.copyOf(w, n)) shouldBe PolygonWkb.NotPlain
    PolygonWkb.locate(2, 2, null) shouldBe PolygonWkb.NotPlain
  }
}
