package graft.transformer

import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark

/** A lon/lat row with a NaN ordinate encodes to a WKB that reads back as
  * `POINT EMPTY`. JTS puts an empty geometry at distance 0 from
  * everything, so an empty probe or an empty site must behave as a null
  * geometry: no match, a null-padded row in left mode, no distance. The
  * grid kernel drops empties through its null envelope; the broadcast
  * kernel must agree with it. */
class EmptyGeometrySpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "BroadcastSpatialJoin with NaN-ordinate geometries"

  // probes 0..4 on a line, probe 9 with a NaN lon; sites next to 0..4,
  // site 9 with a NaN lon
  private def input: DataFrame =
    ((0 until 5).map(i => (i.toLong, i * 1.0, 0.0)) :+ ((9L, Double.NaN, 0.0)))
      .toDF("cid", "lon", "lat")

  private def sites(view: String): Unit =
    ((0 until 5).map(i => (i.toLong, i * 1.0 + 0.001, 0.0)) :+ ((9L, Double.NaN, 0.0)))
      .toDF("poi_id", "plon", "plat").createOrReplaceTempView(view)

  private def run(view: String, broadcast: String, joinType: String,
      dist: Boolean): Map[Long, (Any, Any)] = {
    sites(view)
    val t = new BroadcastSpatialJoin()
      .setDataset(view).setDatasetPoint("plon, plat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate("nearest")
      .setBroadcast(broadcast).setJoinType(joinType)
    val out = (if (dist) t.setDistColAlias("dm") else t).transform(input)
    val rows = out.collect()
    rows.map(_.getLong(0)).distinct.length shouldBe rows.length
    rows.map { r =>
      r.getLong(0) -> ((r.get(3), if (dist) r.get(4) else null))
    }.toMap
  }

  it should "match neither an empty probe nor an empty site (inner)" in {
    val kernel = run("eg_inner", "dataset", "inner", dist = false)
    kernel.keySet shouldBe (0L until 5L).toSet
    (0 until 5).foreach(i => kernel(i.toLong)._1 shouldBe i.toLong)
    run("eg_inner_g", "none", "inner", dist = false) shouldBe kernel
  }

  it should "keep the empty probe null-padded in left mode" in {
    val kernel = run("eg_left", "dataset", "left", dist = false)
    kernel.keySet shouldBe ((0L until 5L).toSet + 9L)
    (0 until 5).foreach(i => kernel(i.toLong)._1 shouldBe i.toLong)
    kernel(9L) shouldBe ((null, null))
    run("eg_left_g", "none", "left", dist = false) shouldBe kernel
  }

  it should "compute distances only for real matches (distanceColumnAlias)" in {
    val inner = run("eg_dist", "dataset", "inner", dist = true)
    inner.keySet shouldBe (0L until 5L).toSet
    inner.values.foreach { case (_, d) => d.asInstanceOf[Int] should (be > 100 and be < 120) }
    val left = run("eg_dist_left", "dataset", "left", dist = true)
    left(9L) shouldBe ((null, null))
    left - 9L shouldBe inner
    run("eg_dist_g", "none", "inner", dist = true) shouldBe inner
  }

  // A parquet scan runs `wkb_from_wkt` in generated code (a local
  // relation evaluates it interpreted): an empty geometry's null WKB must
  // be a null value there too, not a null array written into the row.
  it should "drop POLYGON EMPTY, blank and null WKT read from parquet, on both kernels" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-wkt").toString
    Seq(("i1", "POINT (1 1)"), ("i2", "POLYGON EMPTY"), ("i3", ""), ("i4", null))
      .toDF("id", "wkt").write.parquet(s"$dir/input")
    Seq(("z1", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"), ("z2", "POLYGON EMPTY"), ("z3", ""),
      ("z4", null)).toDF("zid", "zwkt").write.parquet(s"$dir/zones")
    spark.read.parquet(s"$dir/zones").createOrReplaceTempView("eg_parquet_zones")
    val input = spark.read.parquet(s"$dir/input")
    for (mode <- Seq("external", "none")) withClue(s"broadcast=$mode: ") {
      new BroadcastSpatialJoin()
        .setDataset("eg_parquet_zones").setDatasetPoint("").setDatasetWKT("zwkt")
        .setInputPoint("").setInputWKT("wkt").setDataColumns("zid")
        .setBroadcast(mode).setPredicate("within")
        .transform(input).select("id", "zid").as[(String, String)].collect()
        .toSeq shouldBe Seq(("i1", "z1"))
    }
  }
}
