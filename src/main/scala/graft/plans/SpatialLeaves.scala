package graft.plans

/**
 * Spatial leaves of a KD split of the plane: leaf boxes that tile it,
 * the outer ones unbounded. Node `n` splits on `axis(n)` (0 = x, 1 = y)
 * at `value(n)`: a coordinate below the value goes to `below(n)`, any
 * other to `above(n)`; a child `c < 0` is leaf `-1 - c`. Leaf boxes are
 * closed, so two neighbours share their common side: a point on a split
 * line belongs to one leaf ([[leafOf]]) and meets both ([[meeting]]).
 *
 * @param boxes per leaf (minX, minY, maxX, maxY), infinite on outer sides
 */
final class SpatialLeaves private (
    axis: Array[Int],
    value: Array[Double],
    below: Array[Int],
    above: Array[Int],
    val boxes: Array[Double]) extends Serializable {

  def count: Int = boxes.length / 4

  /** The one leaf that owns the point (x, y). */
  def leafOf(x: Double, y: Double): Int = {
    if (axis.isEmpty) return 0
    var c = 0
    while (c >= 0) {
      val v = if (axis(c) == 0) x else y
      c = if (v < value(c)) below(c) else above(c)
    }
    -1 - c
  }

  /** Calls `f` on every leaf whose closed box meets the closed box. */
  def meeting(minX: Double, minY: Double, maxX: Double, maxY: Double)(f: Int => Unit): Unit = {
    def visit(c: Int): Unit =
      if (c < 0) f(-1 - c)
      else {
        val (lo, hi) = if (axis(c) == 0) (minX, maxX) else (minY, maxY)
        if (lo <= value(c)) visit(below(c))
        if (hi >= value(c)) visit(above(c))
      }
    if (axis.isEmpty) f(0) else visit(0)
  }

  /** Distance from the box to leaf `j`'s box: 0 when they meet. */
  def distance(j: Int, minX: Double, minY: Double, maxX: Double, maxY: Double): Double = {
    val b = j << 2
    val dx = math.max(0.0, math.max(boxes(b) - maxX, minX - boxes(b + 2)))
    val dy = math.max(0.0, math.max(boxes(b + 1) - maxY, minY - boxes(b + 3)))
    Math.hypot(dx, dy)
  }

  /** Distance from the box, which lies in leaf `j`'s box, to the nearest
    * side of that box: every point outside the leaf, or on its boundary,
    * is at least this far away. Negative when the box sticks out. */
  def clearance(j: Int, minX: Double, minY: Double, maxX: Double, maxY: Double): Double = {
    val b = j << 2
    math.min(math.min(minX - boxes(b), boxes(b + 2) - maxX),
      math.min(minY - boxes(b + 1), boxes(b + 3) - maxY))
  }
}

object SpatialLeaves {

  /** One leaf covering the whole plane. */
  val Whole: SpatialLeaves = cut(Array.emptyDoubleArray, Array.emptyDoubleArray, 1)

  /**
   * Cuts at most `leaves` leaves from the sample points (xs(i), ys(i)):
   * each split halves the leaf budget and cuts its points at the matching
   * rank along the axis where they spread widest, so the leaves hold
   * about equal shares of the sample and a dense cluster splits. A set of
   * points that no line separates stays one leaf.
   */
  def cut(xs: Array[Double], ys: Array[Double], leaves: Int): SpatialLeaves = {
    val axis = Array.newBuilder[Int]
    val value = Array.newBuilder[Double]
    val below = scala.collection.mutable.ArrayBuffer[Int]()
    val above = scala.collection.mutable.ArrayBuffer[Int]()
    val boxes = Array.newBuilder[Double]
    var nodes = 0
    var leafCount = 0

    def leaf(box: Array[Double]): Int = {
      boxes ++= box
      leafCount += 1
      -leafCount
    }

    // the rank that splits `pts` (sorted along the axis) `share` of the
    // way, moved up past equal values; -1 when every value is equal
    def splitRank(sorted: Array[Double], share: Double): Int = {
      val n = sorted.length
      var r = math.min(n - 1, math.max(1, math.round(n * share).toInt))
      while (r < n && sorted(r) == sorted(r - 1)) r += 1
      if (r < n) r
      else {
        r = math.min(n - 1, math.max(1, math.round(n * share).toInt))
        while (r > 0 && sorted(r) == sorted(r - 1)) r -= 1
        if (r > 0) r else -1
      }
    }

    def build(pts: Array[Int], box: Array[Double], budget: Int): Int = {
      if (budget <= 1 || pts.length < 2) return leaf(box)
      val spreadX = spread(xs, pts); val spreadY = spread(ys, pts)
      val axes = if (spreadX >= spreadY) Seq(0, 1) else Seq(1, 0)
      val share = (budget / 2).toDouble / budget
      axes.iterator.map { a =>
        val c = if (a == 0) xs else ys
        val sorted = pts.map(c(_)).sorted
        (a, c, sorted, splitRank(sorted, share))
      }.find(_._4 > 0) match {
        case None => leaf(box)
        case Some((a, c, sorted, r)) =>
          val v = sorted(r)
          val n = nodes
          nodes += 1
          axis += a; value += v; below += 0; above += 0
          val (lo, hi) = pts.partition(c(_) < v)
          val loBox = box.clone(); loBox(2 + a) = v
          val hiBox = box.clone(); hiBox(a) = v
          val loBudget = math.max(1, budget / 2)
          below(n) = build(lo, loBox, loBudget)
          above(n) = build(hi, hiBox, budget - loBudget)
          n
      }
    }

    val inf = Double.PositiveInfinity
    val root = build(xs.indices.toArray, Array(-inf, -inf, inf, inf), leaves)
    if (root < 0) // a single leaf: no nodes
      new SpatialLeaves(Array.emptyIntArray, Array.emptyDoubleArray,
        Array.emptyIntArray, Array.emptyIntArray, boxes.result())
    else new SpatialLeaves(axis.result(), value.result(), below.toArray, above.toArray, boxes.result())
  }

  private def spread(c: Array[Double], pts: Array[Int]): Double = {
    var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
    pts.foreach { i => lo = math.min(lo, c(i)); hi = math.max(hi, c(i)) }
    hi - lo
  }
}
