package graft.plans

import java.util.concurrent.atomic.AtomicReferenceArray
import java.util.function.IntFunction

import org.locationtech.jts.geom.{Envelope, Geometry, Location, Point}
import org.locationtech.jts.index.strtree.STRtree

import graft.spatial.{GeoKit, Geodesic, PolygonWkb, SpatialPredicate}

/**
 * A [[FlatSpatialIndex]] over collected rows and their WKB, as the
 * benchmark harness builds it, with the JTS view it times and samples.
 * Harness-only, removed by ROADMAP item 2's benchmark PR.
 */
final class PackedSpatialIndex[T](rows: Array[T], wkbs: Array[Array[Byte]]) {

  val index: FlatSpatialIndex = FlatSpatialIndex(wkbs.length, wkbs(_))

  /** Every row's geometry, null where the row is not indexed.
    * Harness-only, removed by ROADMAP item 2's benchmark PR. */
  lazy val geoms: Array[Geometry] = Array.tabulate(index.rowCount)(i => index.geom(i, wkbs(_)))

  /** A JTS `STRtree` over [[geoms]], built on first use; nothing in the
    * library calls it. Harness-only, removed by ROADMAP item 2's
    * benchmark PR. */
  lazy val tree: STRtree = {
    val t = new STRtree()
    geoms.zipWithIndex.foreach { case (g, i) =>
      if (g != null) t.insert(g.getEnvelopeInternal, Integer.valueOf(i))
    }
    t.build()
    t
  }
}

/**
 * The geometry half of the broadcast index, in primitive arrays: a
 * [[PackedRTree]] over every indexed row's envelope, and per row whether
 * it is a 2-D point (its x/y are its item box, read straight from its
 * 21-byte WKB, so no JTS object is built for an indexed point) or any
 * other geometry. The index keeps no WKB: the rows it indexes do. The
 * build decodes a non-point geometry once for its envelope and drops it;
 * a probe decodes it again from its row's WKB when it first needs it
 * ([[geom]]) and then caches it in this JVM; the cache does not
 * serialize.
 *
 * @param leafOf per row, its item entry in `rtree`; -1 for a row that is
 *               not indexed (null or empty geometry)
 * @param shaped per row, whether it is an indexed non-point geometry;
 *               null when every indexed row is a point
 * @param scale  the largest finite coordinate magnitude in the index
 */
final class FlatSpatialIndex private (
    leafOf: Array[Int],
    shaped: Array[Boolean],
    val rtree: PackedRTree,
    val scale: Double) extends Serializable {

  @transient private lazy val decoded = new AtomicReferenceArray[Geometry](leafOf.length)

  def rowCount: Int = leafOf.length
  /** Indexed rows: those with a non-null, non-empty geometry. */
  def size: Int = rtree.numItems
  def hasShapes: Boolean = shaped != null

  /** Whether indexed row `i` is a point, with coordinates [[x]]/[[y]]. */
  def isPoint(i: Int): Boolean = shaped == null || !shaped(i)
  /** Indexed row `i`'s item entry in [[rtree]], which owns its box. */
  def entry(i: Int): Int = leafOf(i)
  def x(i: Int): Double = rtree.boxes(leafOf(i) << 2)
  def y(i: Int): Double = rtree.boxes((leafOf(i) << 2) + 1)

  /** Whether indexed row `i`'s box, its geometry's envelope, covers
    * (x, y); false for a NaN ordinate. */
  def covers(i: Int, x: Double, y: Double): Boolean = {
    val b = leafOf(i) << 2
    val boxes = rtree.boxes
    x >= boxes(b) && y >= boxes(b + 1) && x <= boxes(b + 2) && y <= boxes(b + 3)
  }

  /** Row `i`'s geometry, null when the row is not indexed. A point is
    * built anew on each call; any other geometry decodes once, from
    * `wkbOf(i)`, the WKB the index was built from. */
  def geom(i: Int, wkbOf: IntFunction[Array[Byte]]): Geometry =
    if (leafOf(i) < 0) null
    else if (isPoint(i)) GeoKit.point(x(i), y(i))
    else {
      var g = decoded.get(i)
      if (g == null) { g = GeoKit.wkbToGeom(wkbOf(i)); decoded.lazySet(i, g) }
      g
    }

  @transient @volatile private var partCache: java.util.HashMap[Any, PackedRTree] = _

  /** Key-partitioned sub-indexes for the equi-condition factoring: one
    * packed tree per distinct right-key value (a null key leaves its row
    * out — SQL `=` never matches it), cut from this index's item boxes,
    * so nothing is decoded. Built once per executor; one plan has one key
    * function, so a single cache slot suffices. */
  def partitioned(keyOf: Int => Any): java.util.HashMap[Any, PackedRTree] = {
    var c = partCache
    if (c == null) synchronized {
      c = partCache
      if (c == null) {
        val byKey = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuilder.ofInt]()
        var e = 0
        while (e < rtree.numItems) {
          val k = keyOf(rtree.ids(e))
          if (k != null) {
            var b = byKey.get(k)
            if (b == null) { b = new scala.collection.mutable.ArrayBuilder.ofInt; byKey.put(k, b) }
            b += e
          }
          e += 1
        }
        c = new java.util.HashMap[Any, PackedRTree](byKey.size() * 2)
        byKey.forEach { (k, entries) => c.put(k, rtree.subset(entries.result())) }
        partCache = c
      }
    }
    c
  }
}

object FlatSpatialIndex {

  /** Indexes `n` rows, row `i` having the WKB `wkbOf(i)` (null for a
    * null geometry). `wkbOf` is an `IntFunction`, whose `apply` takes the
    * row index as an `Int`: a Scala `Int => Array[Byte]` boxes it. */
  def apply(n: Int, wkbOf: IntFunction[Array[Byte]]): FlatSpatialIndex = {
    val b = new Builder(n)
    var i = 0
    while (i < n) {
      val w = wkbOf(i)
      if (GeoKit.isPointWkb(w)) {
        val be = w(0) == 0
        b.point(i, GeoKit.readDouble(w, 5, be), GeoKit.readDouble(w, 13, be))
      } else {
        val g = GeoKit.wkbToGeom(w)
        if (g != null) b.shape(i, g.getEnvelopeInternal)
      }
      i += 1
    }
    b.result()
  }

  private final class Builder(n: Int) {
    private var shaped: Array[Boolean] = _
    private val boxes = new Array[Double](4 * n)
    private val rows = new Array[Int](n)
    private var m = 0

    private def add(i: Int, minX: Double, minY: Double, maxX: Double, maxY: Double): Unit = {
      val b = m << 2
      boxes(b) = minX; boxes(b + 1) = minY; boxes(b + 2) = maxX; boxes(b + 3) = maxY
      rows(m) = i
      m += 1
    }

    /** A point with a NaN ordinate reads as `POINT EMPTY`: not indexed. */
    def point(i: Int, x: Double, y: Double): Unit =
      if (!x.isNaN && !y.isNaN) add(i, x, y, x, y)

    def shape(i: Int, env: Envelope): Unit = {
      if (shaped == null) shaped = new Array[Boolean](n)
      shaped(i) = true
      add(i, env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
    }

    def result(): FlatSpatialIndex = {
      var scale = 0.0
      var k = 0
      while (k < 4 * m) {
        val v = math.abs(boxes(k))
        if (v > scale && !v.isInfinite) scale = v
        k += 1
      }
      val tree = PackedRTree.build(m, boxes, rows)
      val leafOf = new Array[Int](n)
      java.util.Arrays.fill(leafOf, -1)
      var e = 0
      while (e < tree.numItems) { leafOf(tree.ids(e)) = e; e += 1 }
      new FlatSpatialIndex(leafOf, shaped, tree, scale)
    }
  }
}

/**
 * Row-representation-agnostic probe kernel over a [[FlatSpatialIndex]]:
 * nearest, withindist (latitude-aware strictly over-approximating
 * envelope prefilter + exact geodesic refine), and the JTS relation
 * predicates. A point probe `within` a row that is not a point is
 * refined on the row's WKB ([[graft.spatial.PolygonWkb]]), so the row's
 * polygon is never decoded; a row that is not a plain closed 2-D
 * polygon falls back to `SpatialPredicate.relates` on the decoded
 * geometry. Semantics pinned by the reference's 16 golden tests (see
 * graft.transformer.BroadcastSpatialJoinSpec).
 *
 * One probe serves one thread: it owns the nearest search's heap and the
 * `candidates`/`refines` counters. Every query runs against a tree of the
 * index, by default the whole index and otherwise a key partition (see
 * [[FlatSpatialIndex.partitioned]]), which bounds every per-partition
 * operation by the partition, never the whole broadcast side.
 *
 * @param wkbOf the WKB of indexed row `i`, read when its geometry is not
 *              a point and this JVM has not decoded it yet
 */
final class SpatialProbe(index: FlatSpatialIndex, wkbOf: IntFunction[Array[Byte]]) {

  /** The flat index of `wkbs`, reading its geometries back from them. */
  def this(wkbs: Array[Array[Byte]]) = this(FlatSpatialIndex(wkbs.length, wkbs(_)), wkbs(_))

  /** Builds the flat index from `geoms`, re-encoded as WKB; `tree` is
    * not read. Harness-only, removed by ROADMAP item 2's benchmark PR. */
  def this(geoms: Array[Geometry], tree: STRtree) = this(geoms.map(GeoKit.geomToWkb))

  /** Row `i`'s geometry, decoded from its row's WKB when not a point. */
  private def geom(i: Int): Geometry = index.geom(i, wkbOf)

  /** (probe, indexed row) pairs examined: the rows whose box meets the
    * probe's search box, or that nearest took in distance order or
    * scanned. */
  var candidates = 0L
  /** Exact tests run: `SpatialPredicate.relates` calls, or geodesic
    * distances for withindist. Nearest runs none. */
  var refines = 0L

  /** (rightIndex, geodesicMetres) matches of `g` under `predicate` among
    * `tree`'s rows (the whole index by default); `condEval` vetoes
    * candidate indices; distance is 0 when neither the predicate nor
    * `needDist` requires it. Relation and withindist matches come in
    * ascending row order. A withindist search box that crosses ±180 is
    * searched twice, as it is and shifted a turn to the other side
    * ([[SpatialProbe.wrappedBox]]); a row in both searches counts once.
    * Only rows that `owned` keeps are candidates: the partitioned exec
    * counts each row in one leaf only. The nearest branch is harness- and
    * test-only: both execs search nearest through [[nearestK]]. */
  def matches(g: Geometry, predicate: SpatialPredicate, condEval: Int => Boolean,
      needDist: Boolean, tree: PackedRTree = index.rtree,
      owned: Int => Boolean = SpatialProbe.AlwaysTrue): Iterator[(Int, Int)] = {
    if (g == null || tree.isEmpty) return Iterator.empty
    val box = SpatialProbe.searchBox(g.getEnvelopeInternal, predicate)
    val wrap = SpatialProbe.wrappedBox(box, predicate)
    def candidatesIn: Array[Int] = {
      var found = tree.search(box.getMinX, box.getMinY, box.getMaxX, box.getMaxY)
      if (wrap != null)
        found = SpatialProbe.union(found, tree.search(wrap.getMinX, wrap.getMinY, wrap.getMaxX, wrap.getMaxY))
      if (owned eq SpatialProbe.AlwaysTrue) found else found.filter(owned)
    }
    predicate match {
      case SpatialPredicate.Nearest =>
        val cond = if (owned eq SpatialProbe.AlwaysTrue) condEval else (i: Int) => owned(i) && condEval(i)
        nearestMatch(g, cond, tree) match {
          case -1 => Iterator.empty
          case i => Iterator.single((i, if (needDist) metres(g)(i) else 0))
        }
      case wd: SpatialPredicate.WithinDist =>
        val limit = wd.meters.toInt
        val m = metres(g)
        hits(candidatesIn, { i =>
          if (!condEval(i)) -1
          else {
            refines += 1
            val d = m(i) // exact refine
            if (d <= limit) d else -1
          }
        })
      case rel =>
        val m = if (needDist) metres(g) else null
        val related = relation(rel, g)
        hits(candidatesIn, { i =>
          refines += 1
          if (related(i) && condEval(i)) (if (needDist) m(i) else 0)
          else -1
        })
    }
  }

  /** `rel.relates(g, row i)`, by row. A point within a row that is not a
    * point is refined on the row's WKB ([[PolygonWkb.locate]]), so no JTS
    * polygon is built: the row's item box is the envelope test, and a row
    * that is not a plain polygon is decoded and handed to `relates`, as
    * every other pair is. */
  private def relation(rel: SpatialPredicate, g: Geometry): Int => Boolean = (rel, g) match {
    case (SpatialPredicate.Within, p: Point) if !p.isEmpty =>
      val x = p.getX
      val y = p.getY
      i =>
        if (index.isPoint(i)) rel.relates(g, geom(i))
        else index.covers(i, x, y) && (PolygonWkb.locate(x, y, wkbOf(i)) match {
          case PolygonWkb.NotPlain => rel.relates(g, geom(i))
          case loc => loc == Location.INTERIOR
        })
    case _ => i => rel.relates(g, geom(i))
  }

  /** The candidate rows in ascending order, each kept when `refine`
    * gives a distance (>= 0), lazily: an existence test stops at the
    * first match. */
  private def hits(rows: Array[Int], refine: Int => Int): Iterator[(Int, Int)] = {
    java.util.Arrays.sort(rows)
    candidates += rows.length
    new Iterator[(Int, Int)] {
      private var k = 0
      private var next0: (Int, Int) = _
      def hasNext: Boolean = {
        while (next0 == null && k < rows.length) {
          val i = rows(k); k += 1
          val d = refine(i)
          if (d >= 0) next0 = (i, d)
        }
        next0 != null
      }
      def next(): (Int, Int) = {
        if (!hasNext) throw new NoSuchElementException
        val out = next0; next0 = null; out
      }
    }
  }

  /** Whole geodesic metres from the centroid of `g` to an indexed row's,
    * by row index: the distance column of both kernels. */
  def metres(g: Geometry): Int => Int = new Metres(g)

  /** Whole geodesic metres from the probe's centroid to row `i`'s, as
    * `Geodesic.centroidDistance`: an indexed point is its own centroid
    * (JTS sums it onto 0.0, which turns -0.0 into 0.0). */
  private final class Metres(g: Geometry) extends (Int => Int) {
    private lazy val c = g.getCentroid
    def apply(i: Int): Int =
      if (index.isPoint(i))
        math.round(Geodesic.inverseMeters(c.getY, c.getX, 0.0 + index.y(i), 0.0 + index.x(i))).toInt
      else Geodesic.centroidDistance(g, geom(i))
  }

  // best-first search state: a binary min-heap of (key, ref). A ref >= 0
  // is a row at its exact distance; a ref < 0 is -1 - entry, an entry of
  // the tree whose key is a lower bound: a node, or an item whose exact
  // distance is still to be taken
  private var heapKey = new Array[Double](64)
  private var heapRef = new Array[Int](64)
  private var heapSize = 0

  // the k = 1 search's result slot
  private val nearestRow = new Array[Int](1)
  private val nearestDist = new Array[Double](1)

  /** Index of the nearest (JTS `Geometry.distance`) row of `tree` (the
    * whole index by default) passing the condition, or -1; among rows at
    * the same distance the smallest index wins: [[nearestK]] with k = 1.
    * Harness- and test-only: the execs call [[nearestK]]. */
  def nearestMatch(g: Geometry, condEval: Int => Boolean, tree: PackedRTree = index.rtree): Int =
    if (nearestK(g, condEval, 1, Double.PositiveInfinity, nearestRow, nearestDist, tree) == 0) -1
    else nearestRow(0)

  /**
   * The first `k` rows of `tree` that pass the condition, in (distance,
   * row index) order, no farther than `maxDist`. Writes their row
   * indices to `rows` and their distances to `dists` and returns how
   * many there are.
   *
   * One best-first traversal (Hjaltason and Samet, "Distance browsing in
   * spatial databases", TODS 1999) yields the rows in (distance, row
   * index) order, so the first k rows that pass the condition are the
   * answer, ties included. The order is exact because every entry
   * enters the heap at a lower bound of the distances it stands for, a
   * row is re-queued at its exact distance when its entry pops, and at
   * equal keys a bound pops before a row:
   *  - a point row next to a point probe has the exact distance
   *    `Math.hypot(dx, dy)`, which is what JTS 1.20's `Coordinate.distance`
   *    computes; any other pair has JTS's `Geometry.distance`;
   *  - a bound is [[lowerHypot]] of the clamped gaps between the probe's
   *    box and the entry's. Rounding is monotone, so the gaps never exceed
   *    those of any point inside the box. When the index holds any
   *    geometry that is not a point, or the probe is not one, every bound
   *    also drops by a slack far above the rounding error of JTS's
   *    segment distances.
   * A probe whose condition has rejected [[SpatialProbe.ScanAfter]] rows
   * (a rare condition, or one no row satisfies) switches to one
   * condition-first linear scan of the tree, which gives the same rows,
   * so a never-matching probe costs O(n) and not O(n log n) of heap work.
   */
  def nearestK(g: Geometry, condEval: Int => Boolean, k: Int, maxDist: Double,
      rows: Array[Int], dists: Array[Double], tree: PackedRTree): Int = {
    if (g == null || tree.isEmpty) return 0
    val env = g.getEnvelopeInternal
    val slack =
      if (g.isInstanceOf[Point] && !index.hasShapes) 0.0
      else SpatialProbe.Slack * (1.0 + math.max(index.scale, math.max(
        math.max(math.abs(env.getMinX), math.abs(env.getMaxX)),
        math.max(math.abs(env.getMinY), math.abs(env.getMaxY)))))
    val qMinX = env.getMinX; val qMinY = env.getMinY
    val qMaxX = env.getMaxX; val qMaxY = env.getMaxY
    val boxes = tree.boxes
    heapSize = 0
    var n = 0
    var start = tree.ids(tree.root)
    var rejected = 0
    while (start >= 0) {
      val end = tree.childEnd(start)
      var e = start
      while (e < end) {
        val b = e << 2
        val dx = gap(qMinX, qMaxX, boxes(b), boxes(b + 2))
        val dy = gap(qMinY, qMaxY, boxes(b + 1), boxes(b + 3))
        val key = math.max(0.0, lowerHypot(dx, dy) - slack)
        if (key <= maxDist) push(key, -1 - e)
        e += 1
      }
      start = -1
      while (start < 0 && heapSize > 0) {
        val key = heapKey(0)
        val ref = heapRef(0)
        pop()
        if (ref >= 0) {
          candidates += 1
          if (condEval(ref)) {
            rows(n) = ref; dists(n) = key; n += 1
            if (n == k) return n
          } else {
            rejected += 1
            if (rejected >= SpatialProbe.ScanAfter)
              return scanK(tree, g, condEval, k, maxDist, rows, dists)
          }
        } else {
          val entry = -1 - ref
          if (entry >= tree.numItems) start = tree.ids(entry)
          else {
            val d = distanceTo(g, tree.ids(entry))
            if (d <= maxDist) push(d, tree.ids(entry))
          }
        }
      }
    }
    n
  }

  /** [[nearestK]] as a condition-first scan over every row of `tree`. */
  private def scanK(tree: PackedRTree, g: Geometry, condEval: Int => Boolean, k: Int,
      maxDist: Double, rows: Array[Int], dists: Array[Double]): Int = {
    var n = 0
    var e = 0
    while (e < tree.numItems) {
      val i = tree.ids(e)
      candidates += 1
      if (condEval(i)) {
        val d = distanceTo(g, i)
        if (d <= maxDist && (n < k || before(d, i, dists(n - 1), rows(n - 1)))) {
          // insert in (distance, row index) order, dropping the k+1-th
          var p = math.min(n, k - 1)
          while (p > 0 && before(d, i, dists(p - 1), rows(p - 1))) {
            rows(p) = rows(p - 1); dists(p) = dists(p - 1)
            p -= 1
          }
          rows(p) = i; dists(p) = d
          if (n < k) n += 1
        }
      }
      e += 1
    }
    n
  }

  /** A lower bound on `Math.hypot` of any pair at least as far out as
    * (dx, dy), cheaper than hypot: the square root of the sum of squares,
    * shrunk by 1e-15, far more than its few ulps of error. Where a square
    * could underflow or overflow, hypot itself. */
  @inline private def lowerHypot(dx: Double, dy: Double): Double = {
    val s = dx * dx + dy * dy
    if (s < 1e290 && s > 1e-290) Math.sqrt(s) * (1 - 1e-15)
    else if (s == 0.0) 0.0
    else Math.hypot(dx, dy)
  }

  /** Distance between the intervals [qMin, qMax] and [min, max]: a point
    * probe's `x - min`-style difference, or 0 when they overlap. */
  @inline private def gap(qMin: Double, qMax: Double, min: Double, max: Double): Double =
    if (qMax < min) min - qMax else if (qMin > max) qMin - max else 0.0

  /** JTS's distance from `g` to row `i`: for two points `Math.hypot`,
    * as JTS 1.20's `Coordinate.distance`, without building either point. */
  private def distanceTo(g: Geometry, i: Int): Double = g match {
    case p: Point if index.isPoint(i) => Math.hypot(p.getX - index.x(i), p.getY - index.y(i))
    case _ => g.distance(geom(i))
  }

  @inline private def before(k1: Double, r1: Int, k2: Double, r2: Int): Boolean =
    k1 < k2 || (k1 == k2 && r1 < r2)

  private def push(key: Double, ref: Int): Unit = {
    if (heapSize == heapKey.length) {
      heapKey = java.util.Arrays.copyOf(heapKey, heapSize * 2)
      heapRef = java.util.Arrays.copyOf(heapRef, heapSize * 2)
    }
    var pos = heapSize
    heapSize += 1
    while (pos > 0 && before(key, ref, heapKey((pos - 1) >> 1), heapRef((pos - 1) >> 1))) {
      val parent = (pos - 1) >> 1
      heapKey(pos) = heapKey(parent); heapRef(pos) = heapRef(parent)
      pos = parent
    }
    heapKey(pos) = key; heapRef(pos) = ref
  }

  private def pop(): Unit = {
    heapSize -= 1
    if (heapSize == 0) return
    val key = heapKey(heapSize); val ref = heapRef(heapSize)
    var pos = 0
    val half = heapSize >> 1
    while (pos < half) {
      var child = (pos << 1) + 1
      val right = child + 1
      if (right < heapSize && before(heapKey(right), heapRef(right), heapKey(child), heapRef(child)))
        child = right
      if (!before(heapKey(child), heapRef(child), key, ref)) {
        heapKey(pos) = key; heapRef(pos) = ref
        return
      }
      heapKey(pos) = heapKey(child); heapRef(pos) = heapRef(child)
      pos = child
    }
    heapKey(pos) = key; heapRef(pos) = ref
  }
}

object SpatialProbe {
  /** The condition of a join without one: the exec passes this function
    * when nothing is left to check per candidate. */
  val AlwaysTrue: Int => Boolean = _ => true

  /** The box a probe with envelope `env` searches under `predicate`:
    * the envelope itself, or for `withindist` the envelope grown by the
    * radius. The growth is latitude-aware and strictly over-approximating:
    * in latitude by the radius over the minimum meridian arc (~110574 m
    * per degree), in longitude by the radius over a·cos φ, with φ the
    * band's poleward edge plus twice the latitude growth (the whole
    * longitude range where cos φ vanishes). So it never drops a pair the
    * exact geodesic refine would keep, except across ±180: the box is in
    * plain longitude, and [[wrappedBox]] gives its other half there. Both
    * kernels search with it, and the partitioned exec routes a probe to
    * every leaf it meets. */
  def searchBox(env: Envelope, predicate: SpatialPredicate): Envelope = predicate match {
    case SpatialPredicate.WithinDist(meters) if meters > 0 =>
      val latDeg = meters / 110500.0
      val phiMax = math.min(89.9,
        math.max(math.abs(env.getMinY), math.abs(env.getMaxY)) + 2 * latDeg)
      val cosPhi = math.cos(math.toRadians(phiMax))
      val lonDeg =
        if (cosPhi <= 1e-6) 360.0
        else meters / (Geodesic.SemiMajorA * cosPhi * math.Pi / 180.0)
      new Envelope(env.getMinX - lonDeg, env.getMaxX + lonDeg,
        env.getMinY - latDeg, env.getMaxY + latDeg)
    case _ => env
  }

  /** The second box a `withindist` search box crosses into at ±180: the
    * box shifted by 360 degrees to the other side of the antimeridian,
    * where the geodesic refine, which wraps longitude, still finds pairs.
    * Null when the predicate is planar, the box stays inside ±180, or it
    * spans a whole turn already. Both kernels search both boxes, and the
    * partitioned exec routes a probe to every leaf either meets. */
  def wrappedBox(box: Envelope, predicate: SpatialPredicate): Envelope = predicate match {
    case _: SpatialPredicate.WithinDist
        if box.getWidth < 360 && (box.getMaxX >= 180 || box.getMinX <= -180) =>
      val shift = if (box.getMaxX >= 180) -360.0 else 360.0
      new Envelope(box.getMinX + shift, box.getMaxX + shift, box.getMinY, box.getMaxY)
    case _ => null
  }

  /** The distinct values of `a` and `b`, ascending. */
  private def union(a: Array[Int], b: Array[Int]): Array[Int] = {
    val all = java.util.Arrays.copyOf(a, a.length + b.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    java.util.Arrays.sort(all)
    var n = 0
    var k = 0
    while (k < all.length) {
      if (n == 0 || all(k) != all(n - 1)) { all(n) = all(k); n += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** Rows the condition may reject before nearest scans linearly. */
  val ScanAfter = 128

  /** Relative slack under a non-exact distance bound: JTS's segment
    * distances err by a few ulps of the coordinates, some 1e-16 of them. */
  private val Slack = 1e-9
}
