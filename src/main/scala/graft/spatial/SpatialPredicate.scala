package graft.spatial

import org.locationtech.jts.algorithm.locate.SimplePointInAreaLocator
import org.locationtech.jts.geom.{Geometry, Location, Point, Polygon}

/**
 * The six join predicates and their parser.
 *
 * Parsing is substring-based, case-insensitive, with `nearest` as the
 * catch-all fallback, and `withindist` matched before `within` (reference:
 * src/main/scala/me/valik/spatial/SpatialJoin.scala:48-56). The radius of
 * `withindist N` is the number after the first space. Both kernels
 * prefilter `withindist` with one latitude-aware envelope expansion
 * (`SpatialProbe.searchBox`): metres over the minimum meridian arc in
 * latitude, over a·cos φ at the band edge in longitude. It can only
 * over-select, never under-select, before the exact geodesic refine. `WithinDist.degrees` keeps the reference's flat
 * 1° ≈ 35 km conversion (SpatialJoin.scala:63-80); no kernel uses it.
 *
 * `relates` is the one exact refine both kernels call (through
 * `SpatialProbe`), and SQL `st_relates` through
 * `GeoExpressions.computeRelates`. `within`/`contains` of one
 * point and one polygon skip the DE-9IM relate: the point is labelled
 * by one ray-crossing pass over the shell and holes
 * (`SimplePointInAreaLocator`), the same per-ring rule relate's
 * `PointLocator` applies, so the answer is relate's wherever relate
 * answers. Relate throws `TopologyException` on many invalid polygons
 * (self-crossing shells, crossing holes); for a point and one polygon
 * the locator answers instead. Every other pair of geometry types,
 * `MultiPolygon` included, still goes through JTS relate. The kernels
 * reach `within` of a point probe and an indexed polygon row without
 * decoding the row: `SpatialProbe` runs the same locate on the row's WKB
 * bytes ([[PolygonWkb]]) and calls `relates` only for a row that is not
 * a plain closed 2-D polygon (a multipolygon, EWKB with a SRID, Z or M
 * ordinates, an open ring or one of fewer than 4 points, a non-finite
 * ordinate), so both paths give one answer.
 */
sealed trait SpatialPredicate extends Serializable {
  /** Exact relation test, `left op right` where left is the iterated side. */
  def relates(left: Geometry, right: Geometry): Boolean
}

object SpatialPredicate {

  case object Nearest extends SpatialPredicate {
    def relates(l: Geometry, r: Geometry): Boolean = true // selection, not a filter
  }
  final case class WithinDist(meters: Double) extends SpatialPredicate {
    /** Conservative coarse radius in degrees for the envelope prefilter. */
    def degrees: Double = meters / MetersPerDegree
    def relates(l: Geometry, r: Geometry): Boolean =
      Geodesic.centroidDistance(l, r) <= meters.toInt
  }
  case object Within extends SpatialPredicate {
    def relates(l: Geometry, r: Geometry): Boolean = (l, r) match {
      case (p: Point, a: Polygon) => pointInPolygon(p, a)
      case _ => l.within(r)
    }
  }
  case object Contains extends SpatialPredicate {
    def relates(l: Geometry, r: Geometry): Boolean = (l, r) match {
      case (a: Polygon, p: Point) => pointInPolygon(p, a)
      case _ => l.contains(r)
    }
  }
  case object Intersects extends SpatialPredicate {
    def relates(l: Geometry, r: Geometry): Boolean = l.intersects(r)
  }
  case object Overlaps extends SpatialPredicate {
    def relates(l: Geometry, r: Geometry): Boolean = l.overlaps(r)
  }

  /** `p.within(a)` by one ray-crossing locate. The envelope check is
    * relate's own short-circuit; it also rejects NaN ordinates, which the
    * locator's envelope test lets through. */
  private def pointInPolygon(p: Point, a: Polygon): Boolean =
    !p.isEmpty && a.getEnvelopeInternal.covers(p.getCoordinate) &&
      SimplePointInAreaLocator.locate(p.getCoordinate, a) == Location.INTERIOR

  /** 1 degree ≈ 35 km: deliberately smaller than the true ~111 km/deg so the
    * radius-in-degrees over-approximates (reference: SpatialJoin.scala:63-70). */
  val MetersPerDegree: Double = 35000.0

  /** Parse a predicate string; any unrecognized value falls back to Nearest. */
  def parse(predicate: String): SpatialPredicate = {
    val p = predicate.toLowerCase
    if (p.contains("withindist")) WithinDist(extractRadiusMeters(predicate))
    else if (p.contains("within")) Within
    else if (p.contains("contains")) Contains
    else if (p.contains("intersects")) Intersects
    else if (p.contains("overlaps")) Overlaps
    else Nearest
  }

  /** "withindist 10000" → 10000.0; missing/garbage number → 0. */
  def extractRadiusMeters(op: String): Double = {
    import graft.toolbox.StringToolbox._
    implicit val sep: Separators = Separators(" ")
    op.extractNumber(1).getOrElse(0d)
  }

  def isNearest(op: String): Boolean = parse(op) == Nearest
  def isWithinDist(op: String): Boolean = parse(op).isInstanceOf[WithinDist]
}
