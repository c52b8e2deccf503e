package graft.functions

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.spatial.GeoKit

/** `GeoExpressions.computeStDistance` takes the point-point distance
  * straight from the WKB doubles; it must be bit-identical to JTS's
  * `Geometry.distance` for the same points, which is what both spatial
  * kernels rank by. */
class GeoExpressionsDistanceSpec extends AnyFlatSpec with Matchers {

  private def wkb(x: Double, y: Double) = GeoExpressions.computeWkbPoint(x, y)

  "computeStDistance" should "equal JTS point distance bit for bit on random and extreme coordinates" in {
    val rnd = new java.util.Random(11)
    val degrees = Seq.fill(20000)(
      (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90,
        rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
    // squares of these underflow to 0 or overflow to infinity
    val extreme = for {
      m <- Seq(1e-200, 1e200)
      (a, b, c, d) <- Seq((1.0, 2.0, 4.0, -3.0), (-1.5, 0.5, 2.5, 7.0), (3.0, 0.0, 0.0, 4.0))
    } yield (a * m, b * m, c * m, d * m)
    for ((x1, y1, x2, y2) <- degrees ++ extreme) withClue(s"($x1 $y1) - ($x2 $y2): ") {
      val got = GeoExpressions.computeStDistance(wkb(x1, y1), wkb(x2, y2))
      val jts = GeoKit.point(x1, y1).distance(GeoKit.point(x2, y2))
      java.lang.Double.doubleToRawLongBits(got) shouldBe java.lang.Double.doubleToRawLongBits(jts)
    }
  }
}
