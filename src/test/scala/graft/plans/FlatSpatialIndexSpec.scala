package graft.plans

import scala.util.Random

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.functions.GeoExpressions.computeWkbPoint
import graft.spatial.{GeoKit, Geodesic, SpatialPredicate}

/** Seeded differential of the flat packed index against the JTS path it
  * replaced: decoded geometries in a JTS `STRtree`, candidates from the
  * tree's envelope query, nearest as the minimum (JTS distance, row
  * index) over every passing row. Both must give the same rows with the
  * same metres for points and polygons on the index side, coordinate
  * ties, ±0.0 and NaN/empty geometries, nearest with no, a rare and a
  * never-passing condition, withindist, the relation predicates, and
  * key-partitioned sub-indexes. */
class FlatSpatialIndexSpec extends AnyFlatSpec with Matchers {

  private val gf = GeoKit.factory

  /** The replaced kernel, as a reference. */
  private final class Reference(wkbs: Array[Array[Byte]]) {
    val geoms: Array[Geometry] = wkbs.map(GeoKit.wkbToGeom)
    private val tree = new STRtree()
    geoms.zipWithIndex.foreach { case (g, i) =>
      if (g != null) tree.insert(g.getEnvelopeInternal, Integer.valueOf(i))
    }
    tree.build()

    private def query(env: Envelope, rows: Int => Boolean): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      tree.query(env, (item: Any) => {
        val i = item.asInstanceOf[Integer].intValue()
        if (rows(i)) out += i
      })
      out.result().sorted
    }

    def nearest(g: Geometry, cond: Int => Boolean, rows: Int => Boolean): Int = {
      if (g == null) return -1
      var best = -1
      var bestDist = Double.MaxValue
      geoms.indices.foreach { i =>
        if (geoms(i) != null && rows(i) && cond(i)) {
          val d = g.distance(geoms(i))
          if (d < bestDist) { bestDist = d; best = i }
        }
      }
      best
    }

    def matches(g: Geometry, p: SpatialPredicate, cond: Int => Boolean,
        rows: Int => Boolean): Seq[(Int, Int)] = p match {
      case _ if g == null => Nil
      case SpatialPredicate.Nearest =>
        nearest(g, cond, rows) match {
          case -1 => Nil
          case i => Seq((i, Geodesic.centroidDistance(g, geoms(i))))
        }
      case wd: SpatialPredicate.WithinDist =>
        val env = g.getEnvelopeInternal.copy()
        val latDeg = wd.meters / 110500.0
        val phiMax = math.min(89.9,
          math.max(math.abs(env.getMinY), math.abs(env.getMaxY)) + 2 * latDeg)
        val cosPhi = math.cos(math.toRadians(phiMax))
        val lonDeg =
          if (cosPhi <= 1e-6) 360.0
          else wd.meters / (Geodesic.SemiMajorA * cosPhi * math.Pi / 180.0)
        env.expandBy(lonDeg, latDeg)
        query(env, rows).filter(cond).map(i => (i, Geodesic.centroidDistance(g, geoms(i))))
          .filter(_._2 <= wd.meters.toInt)
      case rel =>
        query(g.getEnvelopeInternal, rows).filter(i => rel.relates(g, geoms(i)) && cond(i))
          .map(i => (i, Geodesic.centroidDistance(g, geoms(i))))
    }
  }

  // coordinates on a coarse lattice, so distances tie exactly; ±0.0 both
  private def coord(r: Random): Double = r.nextInt(9) match {
    case 0 => -0.0
    case 1 => 0.0
    case _ => (r.nextInt(41) - 20) * 0.125
  }

  private def box(r: Random, x: Double, y: Double): Geometry = {
    val w = 0.125 * (1 + r.nextInt(6)); val h = 0.125 * (1 + r.nextInt(6))
    gf.createPolygon(Array(new Coordinate(x, y), new Coordinate(x + w, y),
      new Coordinate(x + w, y + h), new Coordinate(x, y + h), new Coordinate(x, y)))
  }

  private def triangle(r: Random, x: Double, y: Double): Geometry = {
    val s = 0.125 * (1 + r.nextInt(8))
    gf.createPolygon(Array(new Coordinate(x, y), new Coordinate(x + s, y),
      new Coordinate(x, y + s), new Coordinate(x, y)))
  }

  private val littleEndian = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN)

  /** One indexed row: a point (duplicates likely), a polygon, a
    * multipolygon, or a null/empty geometry of each kind. */
  private def site(r: Random, points: Double): Array[Byte] = {
    val x = coord(r); val y = coord(r)
    r.nextDouble() match {
      case u if u < points => computeWkbPoint(x, y)
      case u if u < points + 0.04 => computeWkbPoint(Double.NaN, y)
      case u if u < points + 0.06 => computeWkbPoint(x, Double.NaN)
      case u if u < points + 0.08 => null
      case u if u < points + 0.09 => GeoKit.geomToWkb(gf.createPolygon())
      case u if u < points + 0.2 =>
        GeoKit.geomToWkb(gf.createMultiPolygon(Array(
          box(r, x, y).asInstanceOf[org.locationtech.jts.geom.Polygon],
          triangle(r, x + 1, y + 1).asInstanceOf[org.locationtech.jts.geom.Polygon])))
      case u if u < points + 0.3 => littleEndian.write(triangle(r, x, y))
      case _ => GeoKit.geomToWkb(box(r, x, y))
    }
  }

  private def probes(r: Random, n: Int, polygons: Boolean): Seq[Geometry] =
    Seq.fill(n) {
      val x = coord(r) + (if (r.nextBoolean()) 0.0 else 0.0625 * r.nextInt(3))
      val y = coord(r)
      if (polygons && r.nextInt(3) == 0) box(r, x, y) else gf.createPoint(new Coordinate(x, y))
    } ++ Seq(
      GeoKit.wkbToGeom(computeWkbPoint(Double.NaN, 1.0)), // empty: null
      gf.createPoint(new Coordinate(-0.0, -0.0)))

  private val predicates = Seq(SpatialPredicate.Nearest, SpatialPredicate.WithinDist(0),
    SpatialPredicate.WithinDist(15000), SpatialPredicate.WithinDist(120000),
    SpatialPredicate.Within, SpatialPredicate.Contains, SpatialPredicate.Intersects,
    SpatialPredicate.Overlaps)

  private val sometimes: Int => Boolean = i => i % 7 != 3
  private val rare: Int => Boolean = i => i % 97 == 3
  private val never: Int => Boolean = _ => false
  private val conditions = Seq("none" -> SpatialProbe.AlwaysTrue, "always" -> ((i: Int) => i >= 0),
    "sometimes" -> sometimes, "rare" -> rare, "never" -> never)

  private def check(seed: Int, n: Int, points: Double, polygonProbes: Boolean): Unit = {
    val r = new Random(seed)
    val wkbs = Array.fill(n)(site(r, points))
    val ref = new Reference(wkbs)
    val index = FlatSpatialIndex(n, wkbs(_))
    index.size shouldBe ref.geoms.count(_ != null)
    val probe = new SpatialProbe(index, wkbs(_))
    val keyOf: Int => Any = i => if (i % 11 == 5) null else Integer.valueOf(i % 4)
    val parts = index.partitioned(keyOf)
    for (g <- probes(r, 40, polygonProbes); p <- predicates; (cn, c) <- conditions) {
      withClue(s"seed $seed n $n probe $g predicate $p condition $cn: ") {
        probe.matches(g, p, c, needDist = true).toSeq.sortBy(_._1) shouldBe
          ref.matches(g, p, c, _ => true).sortBy(_._1)
        if (p == SpatialPredicate.Nearest)
          probe.nearestMatch(g, c) shouldBe ref.nearest(g, c, _ => true)
        for (k <- 0 until 4) withClue(s"key $k: ") {
          val inKey: Int => Boolean = i => keyOf(i) == Integer.valueOf(k)
          val got = Option(parts.get(Integer.valueOf(k)))
            .map(t => probe.matches(g, p, c, needDist = true, t).toSeq.sortBy(_._1))
            .getOrElse(Nil)
          got shouldBe ref.matches(g, p, c, inKey).sortBy(_._1)
        }
      }
    }
  }

  "FlatSpatialIndex" should "match the JTS path on point sites with ties, ±0.0 and NaN" in {
    for (seed <- 1 to 6; n <- Seq(1, 5, 40, 300)) check(seed, n, points = 0.9, polygonProbes = false)
  }

  it should "match the JTS path on polygon and mixed sites, with polygon probes" in {
    for (seed <- 1 to 6; n <- Seq(3, 30, 200)) {
      check(seed, n, points = 0.0, polygonProbes = true)
      check(seed + 100, n, points = 0.5, polygonProbes = true)
    }
  }

  it should "give nearest the smallest row among exact ties, with any condition" in {
    // rows 2, 4 and 7 all sit at the nearest coordinate
    val pts = Seq((0.0, 0.0), (9.0, 9.0), (5.0, 5.0), (1.0, 8.0),
      (5.0, 5.0), (8.0, 1.0), (9.0, 0.0), (5.0, 5.0))
    val probe = new SpatialProbe(pts.map { case (x, y) => computeWkbPoint(x, y) }.toArray)
    val q = gf.createPoint(new Coordinate(5.2, 5.2))
    probe.nearestMatch(q, SpatialProbe.AlwaysTrue) shouldBe 2
    probe.nearestMatch(q, i => i != 2) shouldBe 4
    probe.nearestMatch(q, i => i == 7 || i == 0) shouldBe 7
  }

  it should "count what nearest examined, with and without the scan fallback" in {
    val n = 300
    val q = gf.createPoint(new Coordinate(-1.0, 0.0))
    val probe = new SpatialProbe(Array.tabulate(n)(i => computeWkbPoint(i.toDouble, 0.0)))
    probe.nearestMatch(q, SpatialProbe.AlwaysTrue) shouldBe 0
    probe.candidates shouldBe 1
    // the row at index 10 is the 11th in distance order
    probe.nearestMatch(q, _ == 10) shouldBe 10
    probe.candidates shouldBe 1 + 11
    // past ScanAfter rejections, one linear scan of all n rows
    probe.nearestMatch(q, _ == 200) shouldBe 200
    probe.candidates shouldBe 1 + 11 + SpatialProbe.ScanAfter + n
    probe.refines shouldBe 0
  }

  it should "return a passing row at infinite distance before and after the scan fallback" in {
    // row 0's distance from the probe overflows to +Infinity; the other
    // rows are nearer and fail the condition: 2 rejections stay on the
    // best-first path, 299 pass ScanAfter and end in the linear scan
    val q = gf.createPoint(new Coordinate(-1e308, 0.0))
    for (n <- Seq(3, 300)) withClue(s"n=$n: ") {
      val wkbs = Array.tabulate(n)(i => computeWkbPoint(if (i == 0) 1e308 else -1e308, i.toDouble))
      new SpatialProbe(wkbs).nearestMatch(q, _ == 0) shouldBe 0
    }
  }

  "PackedRTree.search" should "return exactly the items whose box meets the query" in {
    for (seed <- 1 to 20; n <- Seq(0, 1, 15, 16, 17, 257, 1000)) {
      val r = new Random(seed)
      val boxes = Array.fill(n) {
        val x = r.nextInt(200) * 0.5; val y = r.nextInt(200) * 0.5
        Array(x, y, x + r.nextInt(4) * 0.5, y + r.nextInt(4) * 0.5)
      }
      val rows = Array.tabulate(n)(i => 3 * i + 1)
      val tree = PackedRTree.build(n, boxes.flatten, rows)
      tree.numItems shouldBe n
      for (_ <- 0 until 30) {
        val x = r.nextInt(220) * 0.5 - 5; val y = r.nextInt(220) * 0.5 - 5
        val w = r.nextInt(30) * 0.5; val h = r.nextInt(30) * 0.5
        val want = boxes.indices.filter { i =>
          val b = boxes(i)
          b(0) <= x + w && b(2) >= x && b(1) <= y + h && b(3) >= y
        }.map(rows(_))
        tree.search(x, y, x + w, y + h).sorted.toSeq shouldBe want
      }
    }
  }
}
