package graft.spatial

/**
 * How a DataFrame side encodes its geometry: either a WKT string column or
 * a (lon, lat) point column pair — exactly one per side (reference:
 * src/main/scala/me/valik/spark/geometry/DatasetGeometry.scala:82-120 and
 * the checkParams rule at BroadcastSpatialJoin.scala:190-199).
 *
 * Instances are small serializable specs; the transformer turns each
 * into a WKB column (lon/lat cast to double, WKT parsed null-safe).
 */
sealed trait GeomSpec extends Serializable {
  /** Column names the spec reads. */
  def columnNames: Seq[String]
}

object GeomSpec {

  /** Point from (lon, lat) columns. */
  final case class PointCols(lon: String, lat: String) extends GeomSpec {
    def columnNames: Seq[String] = Seq(lon, lat)
  }

  /** Geometry parsed from a WKT string column; null/empty → null geometry. */
  final case class WktCol(wkt: String) extends GeomSpec {
    def columnNames: Seq[String] = Seq(wkt)
  }
}
