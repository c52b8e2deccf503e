package graft.functions

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.spatial.GeoKit

/** `GeoExpressions.computeWkbPoint` writes the point WKB in place; it must
  * be byte-identical to what JTS's `WKBWriter` writes for the same point,
  * special doubles included. */
class WkbPointSpec extends AnyFlatSpec with Matchers {

  private def jts(x: Double, y: Double): Seq[Byte] = GeoKit.geomToWkb(GeoKit.point(x, y)).toSeq

  "computeWkbPoint" should "write the bytes JTS writes for random and special doubles" in {
    val rnd = new java.util.Random(7)
    val random = Seq.fill(2000)(
      (rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)) ++
      Seq.fill(500)((java.lang.Double.longBitsToDouble(rnd.nextLong()),
        java.lang.Double.longBitsToDouble(rnd.nextLong())))
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 3,
      Double.MaxValue, 1.0)
    val pairs = random ++ (for (x <- specials; y <- specials) yield (x, y))
    for ((x, y) <- pairs)
      withClue(s"($x, $y): ") { GeoExpressions.computeWkbPoint(x, y).toSeq shouldBe jts(x, y) }
  }
}
