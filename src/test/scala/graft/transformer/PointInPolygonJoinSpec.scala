package graft.transformer

import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.spatial.GeoKit

/** Points on polygon edges, on vertices, inside holes and inside
  * concave notches, joined to their polygons by `within`/`contains`
  * through the broadcast kernel (both orientations) and the grid kernel.
  * Every run must return exactly the pairs a brute-force JTS relate
  * oracle returns: the point/polygon refine labels boundary points as
  * relate does (boundary is not within), and the multipolygon keeps
  * relate's answer. */
class PointInPolygonJoinSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "BroadcastSpatialJoin within/contains refine"

  private val zones = Seq(
    1L -> "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))",
    2L -> "POLYGON ((20 0, 30 0, 30 4, 24 4, 24 10, 20 10, 20 0))",
    3L -> "POLYGON ((40 0, 50 0, 45 8, 40 0))",
    4L -> "POLYGON ((8 8, 14 8, 14 14, 8 14, 8 8))",
    5L -> "MULTIPOLYGON (((60 0, 64 0, 64 4, 60 4, 60 0)), ((64 0, 68 0, 68 4, 64 4, 64 0)))")

  // vertices, edge points, hole interior and hole edge, concave notch,
  // shared multipolygon edge, plain interiors, one far point
  private val points = Seq(
    (0.0, 0.0), (10.0, 10.0), (3.0, 3.0), (5.0, 0.0), (0.0, 5.0), (5.0, 3.0),
    (5.0, 5.0), (1.0, 1.0), (8.0, 2.0), (9.0, 9.0), (10.0, 9.0), (11.0, 11.0),
    (27.0, 7.0), (22.0, 8.0), (24.0, 6.0), (24.0, 4.0), (26.0, 2.0),
    (45.0, 3.0), (42.5, 4.0), (45.0, 8.0), (45.0, 0.0),
    (64.0, 2.0), (62.0, 2.0), (64.0, 4.0), (100.0, 80.0)
  ).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }

  private val oracle: Set[(Long, Long)] = (for {
    (pid, x, y) <- points
    (zid, wkt) <- zones
    if GeoKit.point(x, y).within(GeoKit.wktToGeom(wkt))
  } yield (pid, zid)).toSet

  private def pointsDf: DataFrame = points.toDF("pid", "lon", "lat")
  private def zonesDf: DataFrame = zones.toDF("zid", "wkt")

  private def pairs(out: DataFrame): Set[(Long, Long)] =
    out.select("pid", "zid").as[(Long, Long)].collect().toSet

  it should "return the relate oracle's pairs for within (broadcast kernel and grid)" in {
    // the oracle is neither empty nor everything: interiors match, the
    // hole, a shell edge, a vertex and the concave notch's edge do not
    oracle should contain allOf ((7L, 1L), (9L, 1L), (9L, 4L), (13L, 2L), (17L, 3L))
    Seq(6L -> 1L, 3L -> 1L, 0L -> 1L, 14L -> 2L).foreach(oracle should not contain _)
    zonesDf.createOrReplaceTempView("pip_zones")
    for (mode <- Seq("dataset", "none")) withClue(s"broadcast=$mode: ") {
      pairs(new BroadcastSpatialJoin()
        .setDataset("pip_zones").setDatasetPoint("").setDatasetWKT("wkt")
        .setInputPoint("lon, lat").setDataColumns("zid")
        .setBroadcast(mode).setPredicate("within")
        .transform(pointsDf)) shouldBe oracle
    }
  }

  it should "return the relate oracle's pairs for contains (broadcast=input and grid)" in {
    // broadcast=input: the external polygons are iterated and contain the
    // indexed input points, as in the j4_contains gate
    zonesDf.createOrReplaceTempView("pip_zones_c")
    pairs(new BroadcastSpatialJoin()
      .setDataset("pip_zones_c").setDatasetPoint("").setDatasetWKT("wkt")
      .setInputPoint("lon, lat").setDataColumns("zid")
      .setBroadcast("input").setPredicate("contains")
      .transform(pointsDf)) shouldBe oracle
    // grid: input polygons contain external points
    pointsDf.createOrReplaceTempView("pip_points_c")
    pairs(new BroadcastSpatialJoin()
      .setDataset("pip_points_c").setDatasetPoint("lon, lat")
      .setInputWKT("wkt").setDataColumns("pid")
      .setBroadcast("none").setPredicate("contains")
      .transform(zonesDf)) shouldBe oracle
  }

  it should "return the relate oracle's pairs through SQL st_relates" in {
    pointsDf.createOrReplaceTempView("pip_points_sql")
    zonesDf.createOrReplaceTempView("pip_zones_sql")
    graft.GraftExtensions.register(spark)
    val q = spark.sql(
      """SELECT p.pid, z.zid FROM pip_points_sql p CROSS JOIN pip_zones_sql z
        |WHERE st_relates(wkb_point(p.lon, p.lat), wkb_from_wkt(z.wkt), 'within')
        |  AND st_relates(wkb_from_wkt(z.wkt), wkb_point(p.lon, p.lat), 'contains')
        |""".stripMargin)
    pairs(q) shouldBe oracle
  }
}
