package graft.plans

import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.{ItemBoundable, ItemDistance, STRtree}

import graft.spatial.{GeoKit, Geodesic, SpatialPredicate}

/**
 * Broadcast-side packed spatial index: WKB payload ships once per
 * executor, JTS geometries + STRtree build lazily per executor (JTS
 * objects never serialize). `rows` is the broadcast side's row payload in
 * whatever row representation the caller uses.
 */
final class PackedSpatialIndex[T](val rows: Array[T], val wkbs: Array[Array[Byte]])
    extends Serializable {

  @transient @volatile private var cache: (Array[Geometry], STRtree) = _

  private def ensure(): (Array[Geometry], STRtree) = {
    var c = cache
    if (c == null) synchronized {
      c = cache
      if (c == null) {
        val gs = wkbs.map(GeoKit.wkbToGeom) // null/empty wkb → null geometry
        val t = new STRtree()
        var i = 0
        while (i < gs.length) {
          if (gs(i) != null) t.insert(gs(i).getEnvelopeInternal, Integer.valueOf(i))
          i += 1
        }
        t.build() // STRtree is read-thread-safe only once built
        c = (gs, t)
        cache = c
      }
    }
    c
  }

  def geoms: Array[Geometry] = ensure()._1
  def tree: STRtree = ensure()._2

  @transient @volatile private var partCache: java.util.HashMap[Any, SpatialProbe] = _

  /** Key-partitioned probes for the equi-condition factoring: one
    * STRtree + subset per distinct right-key value (null keys excluded
    * — SQL `=` never matches them). Built once per executor like the
    * flat tree; one plan has one key function, so a single cache slot
    * suffices. Subsets stay in ascending global-index order — the scan
    * fallback's first-wins tie rule must match the flat probe's. */
  def partitioned(keyOf: Int => Any): java.util.HashMap[Any, SpatialProbe] = {
    var c = partCache
    if (c == null) synchronized {
      c = partCache
      if (c == null) {
        val gs = geoms
        val byKey = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Int]]()
        var i = 0
        while (i < gs.length) {
          if (gs(i) != null) {
            val k = keyOf(i)
            if (k != null) {
              var b = byKey.get(k)
              if (b == null) { b = new scala.collection.mutable.ArrayBuffer[Int](); byKey.put(k, b) }
              b += i
            }
          }
          i += 1
        }
        c = new java.util.HashMap[Any, SpatialProbe](byKey.size() * 2)
        byKey.forEach { (k, idxs) =>
          val t = new STRtree()
          idxs.foreach(j => t.insert(gs(j).getEnvelopeInternal, Integer.valueOf(j)))
          t.build()
          c.put(k, new SpatialProbe(gs, t, idxs.toArray))
        }
        partCache = c
      }
    }
    c
  }
}

/**
 * Row-representation-agnostic probe kernel over a packed index: nearest
 * (deterministic min-index tie-break), withindist (latitude-aware strictly
 * over-approximating envelope prefilter + exact geodesic refine), and the
 * JTS relation predicates. Semantics pinned by the reference's 16 golden
 * tests (see graft.transformer.BroadcastSpatialJoinSpec).
 *
 * `subset`: when non-null, the probe serves a KEY PARTITION of the
 * index (BroadcastSpatialJoinExec's hashed equi keys) — `tree` holds
 * only those global indices and the conditional-nearest scan fallback
 * walks only them, so a per-partition operation is bounded by the
 * partition, never the whole broadcast side.
 */
final class SpatialProbe(geoms: Array[Geometry], tree: STRtree,
    subset: Array[Int] = null) {

  private val total =
    if (subset == null) geoms.count(_ != null)
    else subset.count(i => geoms(i) != null)

  def isEmpty: Boolean = total == 0

  /** (rightIndex, geodesicMetres) matches of `g` under `predicate`;
    * `condEval` vetoes candidate indices; distance is 0 when neither the
    * predicate nor `needDist` requires it. */
  def matches(g: Geometry, predicate: SpatialPredicate,
      condEval: Int => Boolean, needDist: Boolean): Iterator[(Int, Int)] = {
    if (g == null || isEmpty) return Iterator.empty
    predicate match {
      case SpatialPredicate.Nearest =>
        nearestMatch(g, condEval) match {
          case -1 => Iterator.empty
          case i => Iterator.single(
            (i, if (needDist) Geodesic.centroidDistance(g, geoms(i)) else 0))
        }
      case wd: SpatialPredicate.WithinDist =>
        val env = g.getEnvelopeInternal.copy()
        // coarse, strictly over-approximating prefilter: latitude by the
        // minimum meridian arc (~110574 m/deg); longitude by a*cos(phi) at
        // the latitude band edge (+2x excursion margin). ~3x tighter than
        // the reference's flat 1 deg = 35 km, never under-selecting.
        val latDeg = wd.meters / 110500.0
        val phiMax = math.min(89.9,
          math.max(math.abs(env.getMinY), math.abs(env.getMaxY)) + 2 * latDeg)
        val cosPhi = math.cos(math.toRadians(phiMax))
        val lonDeg =
          if (cosPhi <= 1e-6) 360.0
          else wd.meters / (Geodesic.SemiMajorA * cosPhi * math.Pi / 180.0)
        env.expandBy(lonDeg, latDeg)
        candidates(env).iterator.flatMap { i =>
          if (!condEval(i)) None
          else {
            val d = Geodesic.centroidDistance(g, geoms(i)) // exact refine
            if (d <= wd.meters.toInt) Some((i, d)) else None
          }
        }
      case rel =>
        candidates(g.getEnvelopeInternal).iterator.flatMap { i =>
          if (rel.relates(g, geoms(i)) && condEval(i))
            Some((i, if (needDist) Geodesic.centroidDistance(g, geoms(i)) else 0))
          else None
        }
    }
  }

  private def candidates(env: Envelope): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    tree.query(env, (item: Any) => out += item.asInstanceOf[Integer].intValue())
    out.result()
  }

  private object GeomDist extends ItemDistance {
    private def geomOf(b: ItemBoundable): Geometry = b.getItem match {
      case i: Integer  => geoms(i)
      case g: Geometry => g
    }
    def distance(a: ItemBoundable, b: ItemBoundable): Double =
      geomOf(a).distance(geomOf(b))
  }

  /**
   * Index of the nearest (JTS coordinate distance) indexed geometry
   * passing the condition, or -1. Deterministic under distance ties: the
   * smallest index among tied nearest candidates wins — k grows until the
   * k-th distance strictly exceeds the best passing distance, so every
   * tie was seen. Starts at k=2: the common unique-nearest case is one
   * probe.
   */
  def nearestMatch(g: Geometry, condEval: Int => Boolean): Int = {
    if (total == 0) return -1
    val env = g.getEnvelopeInternal
    // Unconditioned nearest (the common `nearest` predicate with no
    // extra condition, recognized by the shared sentinel): one k=2 tree
    // walk settles the unique-nearest case exactly like the loop below,
    // and a TIE is settled by a single ranged envelope query collecting
    // every exact tie — not by re-walking the tree with k ×4 per round.
    // The k-growth loop is quadratic-ish under dense ties (duplicate
    // coordinates put 10+ items at the same distance, and every
    // nearestNeighbourK restart re-expands the whole BoundablePair
    // frontier with JTS DistanceOp); the ranged query visits just the
    // disc of radius bestDist once. The envelope expanded by bestDist is
    // a provable superset of the tie set: any geometry at distance d has
    // envelope distance <= d.
    if (condEval eq SpatialProbe.AlwaysTrue) {
      val found = tree.nearestNeighbour(env, g, GeomDist, math.min(2, total))
        .map(_.asInstanceOf[Integer].intValue())
      var bestDist = Double.MaxValue
      var bestIdx = -1
      var secondDist = Double.MaxValue
      found.foreach { i =>
        val d = g.distance(geoms(i))
        if (d < bestDist || (d == bestDist && i < bestIdx)) {
          secondDist = bestDist; bestDist = d; bestIdx = i
        } else if (d < secondDist) secondDist = d
      }
      if (total <= 1 || secondDist > bestDist) return bestIdx
      val tieEnv = new Envelope(env)
      tieEnv.expandBy(bestDist)
      candidates(tieEnv).foreach { i =>
        if (i < bestIdx && g.distance(geoms(i)) == bestDist) bestIdx = i
      }
      return bestIdx
    }
    var k = 2
    while (true) {
      val kk = math.min(k, total)
      // Conditional nearest, scan fallback: once k has grown past a few
      // rounds (rare condition, or a probe that matches NOTHING — e.g.
      // a join condition some probe keys cannot satisfy), stop
      // re-walking the tree: each nearestNeighbourK restart re-expands
      // the whole BoundablePair frontier, so a never-matching probe
      // costs O(total · tree overhead) PER ROUND. One condition-first
      // linear scan is strictly cheaper than the kk == total walk it
      // replaces — condEval is a row predicate (no geometry), and JTS
      // distance only runs on passing candidates.
      if (kk >= 128 || kk == total) {
        var bestDist = Double.MaxValue
        var bestIdx = -1
        val n = if (subset == null) geoms.length else subset.length
        var s = 0
        while (s < n) {
          val i = if (subset == null) s else subset(s)
          if (geoms(i) != null && condEval(i)) {
            val d = g.distance(geoms(i))
            if (d < bestDist) { bestDist = d; bestIdx = i }
          }
          s += 1
        }
        return bestIdx
      }
      val found = tree.nearestNeighbour(env, g, GeomDist, kk)
        .map(_.asInstanceOf[Integer].intValue())
      // JTS does not guarantee order: sort by (distance, index). Each
      // distance is computed ONCE and carried with its index — sortBy's
      // Ordering.by would re-run the JTS DistanceOp on every comparison
      // (O(k log k) geometry walks instead of O(k)), which dominated
      // dense-tie probes where k has grown large
      val sorted = found.map(i => (g.distance(geoms(i)), i)).sortInPlace()
      val kthDist = sorted(sorted.length - 1)._1
      sorted.find { case (_, i) => condEval(i) } match {
        case Some((bestDist, i)) =>
          if (kk == total || kthDist > bestDist) return i
        case None =>
          if (kk == total) return -1
      }
      k = kk * 4
    }
    -1
  }
}

object SpatialProbe {
  /** Shared no-condition sentinel: the exec passes THIS function (by
    * reference) when the join has no extra condition, which lets
    * [[SpatialProbe.nearestMatch]] take the single-walk + ranged-tie
    * fast path instead of the conditional k-growth loop. */
  val AlwaysTrue: Int => Boolean = _ => true
}
