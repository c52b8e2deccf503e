package graft.transformer

import graft.SparkTestKit
import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/**
 * Port of the reference's 16 end-to-end golden tests
 * (reference: src/test/scala/me/valik/spark/transformer/
 * BroadcastSpatialJoinTest.scala) — same fixtures, same golden values.
 */
class BroadcastSpatialJoinSpec extends AnyFlatSpec with Matchers {

  import BroadcastSpatialJoinSpec._
  import SparkTestKit.{assertDataFrameEquals, spark}

  behavior of "BroadcastSpatialJoin"

  it should "pass smoke test" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1")
    val expected = joined("i1, 1, 1, d1 | i2, 2, 2, d2")
    val out = makeTransformer(data, "poi_smoke").transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "rename selected data columns (aliases)" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1, a | d2, 2.1, 2.1, b")
    val expected = joined("i1, 1, 1, d1, a | i2, 2, 2, d2, b")

    val out = makeTransformer(data, "poi_alias")
      .setDataColumns("poi_id as poi_number, name as poi_name")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr(
      "id", "lon", "lat", "poi_id as poi_number", "name as poi_name"))

    val out2 = makeTransformer(data, "poi_alias1")
      .setDataColumns("poi_id as poi_number, name")
      .transform(input)
    assertDataFrameEquals(out2, expected.selectExpr(
      "id", "lon", "lat", "poi_id as poi_number", "name"))
  }

  it should "add distance column" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1")
    // golden geodesic metres — reference BroadcastSpatialJoinTest.scala:115-119
    val expected = joined("i1, 1, 1, d1, 15689 | i2, 2, 2, d2, 15685")
    val out = makeTransformer(data, "poi_dist")
      .setDistColAlias("distance")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr(
      "id", "lon", "lat", "poi_id", "int(name) as distance"))
  }

  it should "repartition external dataset" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1 | d3, 3.1, 3.1 | d4, 4.1, 4.1")
    val out = makeTransformer(data, "poi_repart")
      .setNumPartitions("4")
      .transform(input)
    out.rdd.getNumPartitions shouldBe 4
  }

  it should "parse input WKT (within)" in {
    val input = wktRows("i1; POLYGON((1 1,2 1,1 2,1 1)) | i2; POLYGON((2 1,2 2,1 2,2 1))")
    val data = pois("d1, 1.4, 1.4 | d2, 1.6, 1.6")
    val expected = wktJoined(
      "i1; POLYGON((1 1,2 1,1 2,1 1)); d1 | i2; POLYGON((2 1,2 2,1 2,2 1)); d2")
    val out = makeTransformer(data, "poi_inwkt")
      .setInputPoint("").setInputWKT("wkt")
      .setPredicate("within") // data point within input polygon (broadcast input)
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "wkt", "poi_id"))
  }

  it should "parse dataset WKT (contains)" in {
    val input = points("i1, 1.4, 1.4 | i2, 1.6, 1.6")
    val data = wktPois("d1; POLYGON((1 1,2 1,1 2,1 1)) | d2; POLYGON((2 1,2 2,1 2,2 1))")
    val expected = joined("i1, 1.4, 1.4, d1 | i2, 1.6, 1.6, d2")
    val out = makeTransformer(data, "poi_dswkt")
      .setDatasetPoint("").setDatasetWKT("wkt")
      .setPredicate("contains") // data polygon contains input point (broadcast input)
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "join selected data columns" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1, a | d2, 2.1, 2.1, b")
    val expected = joined("i1, 1, 1, d1, a | i2, 2, 2, d2, b")

    val out = makeTransformer(data, "poi_sel")
      .setDataColumns("poi_id, name")
      .transform(input)
    assertDataFrameEquals(out, expected.toDF)

    val out2 = makeTransformer(data, "poi_sel1")
      .setDataColumns("name")
      .transform(input)
    assertDataFrameEquals(out2, expected.selectExpr("id", "lon", "lat", "name"))
  }

  it should "use withindist predicate" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1 | d3, 2.101, 2.101")
    // 15689 and 15685 < 15700; d3 is farther — precise geodesic refine drops it
    val expected = joined("i1, 1, 1, d1 | i2, 2, 2, d2")
    val out = makeTransformer(data, "poi_wd")
      .setPredicate("withindist 15700")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "use intersects predicate" in {
    val input = wktRows("i1; LINESTRING(1 1,2 2) | i2; LINESTRING(2 2,3 3)")
    val data = wktPois("d1; LINESTRING(2 1,1 2) | d2; LINESTRING(3 2,2 3)")
    val expected = wktJoined("i1; LINESTRING(1 1,2 2); d1 | i2; LINESTRING(2 2,3 3); d2")
    val out = makeTransformer(data, "poi_x")
      .setPredicate("intersects")
      .setInputPoint("").setInputWKT("wkt")
      .setDatasetPoint("").setDatasetWKT("wkt")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "wkt", "poi_id"))
  }

  it should "use overlaps predicate" in {
    val input = wktRows("i1; POLYGON((2 4,2 2,4 2,2 4)) | i2; POLYGON((12 4,12 2,14 2,12 4))")
    val data = wktPois("d1; POLYGON((3 1,3 3,1 3,3 1)) | d2; POLYGON((13 1,13 3,11 3,13 1))")
    val expected = wktJoined(
      "i1; POLYGON((2 4,2 2,4 2,2 4)); d1 | i2; POLYGON((12 4,12 2,14 2,12 4)); d2")
    val out = makeTransformer(data, "poi_ov")
      .setPredicate("overlaps")
      .setInputPoint("").setInputWKT("wkt")
      .setDatasetPoint("").setDatasetWKT("wkt")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "wkt", "poi_id"))
  }

  it should "broadcast dataset (nearest per input row)" in {
    val input = points("i1, 1, 1 | i2, 2, 2 | i3, 3, 3")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1")
    val expected = joined("i1, 1, 1, d1 | i2, 2, 2, d2 | i3, 3, 3, d2")
    val out = makeTransformer(data, "poi_bcds")
      .setBroadcast("dataset")
      .setPredicate("nearest")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "broadcast input (nearest per external row)" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1 | d3, 3.1, 3.1")
    val expected = joined("i1, 1, 1, d1 | i2, 2, 2, d2 | i2, 2, 2, d3")
    val out = makeTransformer(data, "poi_bcin")
      .setBroadcast("input")
      .setPredicate("nearest")
      .transform(input)
    assertDataFrameEquals(out, expected.selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "apply filter on data loading" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1, a | d2, 2.1, 2.1, b | d3, 3.1, 3.1, c")

    val out = makeTransformer(data, "poi_flt")
      .setDatasetFilter("name in ('a', 'b')")
      .transform(input)
    assertDataFrameEquals(out,
      joined("i1, 1, 1, d1 | i2, 2, 2, d2").selectExpr("id", "lon", "lat", "poi_id"))

    val noFilter = makeTransformer(data, "poi_noflt").transform(input)
    assertDataFrameEquals(noFilter,
      joined("i1, 1, 1, d1 | i2, 2, 2, d2 | i2, 2, 2, d3")
        .selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "apply extra condition function" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1, a | d2, 2.1, 2.1, b | d3, 3.1, 3.1, i2")

    // right = broadcast side (input), left = iterated side (external):
    // input.id != dataset.name diverts d3's nearest from i2 to i1
    val out = makeTransformer(data, "poi_cond")
      .setJoinCondition("right.id != left.name")
      .transform(input)
    assertDataFrameEquals(out,
      joined("i1, 1, 1, d1 | i2, 2, 2, d2 | i1, 1, 1, d3")
        .selectExpr("id", "lon", "lat", "poi_id"))

    val noCond = makeTransformer(data, "poi_nocond").transform(input)
    assertDataFrameEquals(noCond,
      joined("i1, 1, 1, d1 | i2, 2, 2, d2 | i2, 2, 2, d3")
        .selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "apply the legacy between condition" in {
    import spark.implicits._
    // band-join form pinned by reference BroadcastSpatialJoin.scala:513-521:
    // right.fulldate_ts between left.start_ts and left.end_ts
    val input = Seq(("i1", 1.0, 1.0, 100), ("i2", 2.0, 2.0, 500))
      .toDF("id", "lon", "lat", "fulldate_ts")
    val data = Seq(
      ("d1", 1.1, 1.1, 50L, 150L),  // window around i1
      ("d2", 2.1, 2.1, 400L, 600L), // window around i2
      ("d3", 3.1, 3.1, 0L, 10L))    // window matching nobody
      .toDF("poi_id", "lon", "lat", "start_ts", "end_ts")
    data.createOrReplaceTempView("poi_between")

    val out = new BroadcastSpatialJoin()
      .setDataset("poi_between")
      .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("poi_id")
      .setJoinCondition("right.fulldate_ts between left.start_ts and left.end_ts")
      .transform(input)
    // nearest per external row among inputs passing the band condition
    val expected = Seq(
      ("i1", 1.0, 1.0, 100, "d1"),
      ("i2", 2.0, 2.0, 500, "d2"))
      .toDF("id", "lon", "lat", "fulldate_ts", "poi_id")
    assertDataFrameEquals(out, expected)
  }

  it should "transform schema statically" in {
    import spark.implicits._
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1, a | d2, 2.1, 2.1, b")
    val expected = joined("i1, 1, 1, d1, a | i2, 2, 2, d2, b")

    val transformer = makeTransformer(data, "poi_schema")
      .setDataColumns("poi_id as poi_number, name as poi_name")
    val expectedSchema = expected.selectExpr(
      "id", "lon", "lat", "poi_id as poi_number", "name as poi_name").schema

    val outSchema = transformer.transformSchema(input.schema)
    outSchema.fields.map(f => (f.name, f.dataType)).toSeq shouldBe
      expectedSchema.fields.map(f => (f.name, f.dataType)).toSeq
  }

  it should "transform in pipeline (save/load round-trip)" in {
    import org.apache.spark.ml.Pipeline
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1 | d2, 2.1, 2.1")
    val expected = joined("i1, 1, 1, d1 | i2, 2, 2, d2")
      .selectExpr("id", "lon", "lat", "poi_id")

    val transformer = makeTransformer(data, "poi_pipe")
    val path = "target/test-tmp/spatial-join"
    val p = new Pipeline().setStages(Array(transformer))
    p.write.overwrite().save(path)
    val loaded = Pipeline.load(path)

    assertDataFrameEquals(p.fit(input).transform(input), expected)
    assertDataFrameEquals(loaded.fit(input).transform(input), expected)
  }

  it should "drop null and empty WKT rows (inner join null semantics)" in {
    import spark.implicits._
    val input = Seq(("i1", "POINT(1 1)"), ("i2", ""), ("i3", null))
      .toDF("id", "wkt")
    val data = pois("d1, 1.1, 1.1")
    val out = makeTransformer(data, "poi_null")
      .setInputPoint("").setInputWKT("wkt")
      .setBroadcast("dataset")
      .transform(input)
    out.select("id").collect().map(_.getString(0)).toSeq shouldBe Seq("i1")
  }

  it should "not rewrite side references inside string literals of a condition" in {
    val input = points("i1, 1, 1 | i2, 2, 2")
    val data = pois("d1, 1.1, 1.1, a | d2, 2.1, 2.1, left.name")
    // the literal 'left.name' must stay a literal: it equals d2's name
    // column value, so the condition vetoes d2's nearest match (i2)
    val out = makeTransformer(data, "poi_litcond")
      .setJoinCondition("left.name != 'left.name'")
      .transform(input)
    assertDataFrameEquals(out,
      joined("i1, 1, 1, d1").selectExpr("id", "lon", "lat", "poi_id"))
  }

  it should "drop empty geometries (POLYGON EMPTY) like nulls in all strategies" in {
    import spark.implicits._
    val input = Seq(("i1", "POINT(1 1)"), ("i2", "POLYGON EMPTY")).toDF("id", "wkt")
    val data = pois("d1, 1.1, 1.1")
    def run(mode: String) = makeTransformer(data, s"poi_empty_$mode")
      .setInputPoint("").setInputWKT("wkt")
      .setBroadcast(mode).setPredicate("withindist 100000")
      .transform(input)
      .select("id").collect().map(_.getString(0)).toSeq
    run("dataset") shouldBe Seq("i1")
    run("none") shouldBe Seq("i1")
  }

  it should "keep user columns named like working columns, on both kernels" in {
    import spark.implicits._
    // an input and an external column named as a kernel's working
    // column could be must keep their values and stay in the output
    val input = Seq(("i1", 1.0, 1.0, "keep-l")).toDF("id", "lon", "lat", "__graft_wkb_l")
    Seq(("d1", 1.1, 1.1, "keep-r")).toDF("poi_id", "plon", "plat", "__g_rwkb")
      .createOrReplaceTempView("poi_working_names")
    for (mode <- Seq("dataset", "none")) withClue(s"broadcast=$mode: ") {
      val t = new BroadcastSpatialJoin().setDataset("poi_working_names")
        .setDatasetPoint("plon, plat").setInputPoint("lon, lat")
        .setDataColumns("poi_id, __g_rwkb").setBroadcast(mode)
        .setPredicate("withindist 50000").setDistColAlias("dm")
      val out = t.transform(input)
      out.schema.fields.map(f => (f.name, f.dataType)).toSeq shouldBe
        t.transformSchema(input.schema).fields.map(f => (f.name, f.dataType)).toSeq
      out.collect().map(_.toSeq).toSeq shouldBe
        Seq(Seq("i1", 1.0, 1.0, "keep-l", "d1", "keep-r", 15689))
    }
  }

  it should "expose the reference's 12 params plus the grid and join-type extensions" in {
    new BroadcastSpatialJoin().params.map(_.name).toSet shouldBe Set(
      // the reference transformer's surface
      "condition", "filter", "broadcast", "predicate", "dataset", "dataColumns",
      "distanceColumnAlias", "datasetWKT", "datasetPoint", "inputWKT", "inputPoint",
      "numPartitions",
      // extensions
      "gridKnn", "joinType")
  }

  it should "reject invalid parameter combinations" in {
    val data = pois("d1, 1.1, 1.1")
    data.createOrReplaceTempView("poi_badparams")
    val input = points("i1, 1, 1")

    an[IllegalArgumentException] should be thrownBy {
      new BroadcastSpatialJoin().setDataset("poi_badparams")
        .setDataColumns("poi_id")
        .setInputPoint("lon, lat") // dataset geometry missing
        .transform(input)
    }
    an[IllegalArgumentException] should be thrownBy {
      new BroadcastSpatialJoin().setDataset("poi_badparams")
        .setDataColumns("poi_id")
        .setInputPoint("lon, lat")
        .setDatasetPoint("lon, lat").setDatasetWKT("wkt") // both set
        .transform(input)
    }
    an[IllegalArgumentException] should be thrownBy {
      new BroadcastSpatialJoin().setDataset("poi_badparams")
        .setInputPoint("lon, lat").setDatasetPoint("lon, lat")
        .setDataColumns("") // no data columns
        .transform(input)
    }
    an[IllegalArgumentException] should be thrownBy {
      makeTransformer(data, "poi_badcond")
        .setJoinCondition("left.nonsense ?!? right.garbage")
        .transform(input)
    }
  }
}

object BroadcastSpatialJoinSpec {
  import SparkTestKit.spark
  import spark.implicits._

  case class PointRow(id: String, lon: Double, lat: Double)
  case class PoiRow(poi_id: String, lon: Double, lat: Double, name: Option[String])
  case class JoinedRow5(id: String, lon: Double, lat: Double, poi_id: String, name: Option[String])
  case class WktRow(id: String, wkt: String)
  case class WktPoiRow(poi_id: String, wkt: String, name: Option[String])
  case class WktJoinedRow(id: String, wkt: String, poi_id: String, name: Option[String])

  private def rows(s: String, sep: Char = ','): Seq[Array[String]] =
    s.split('|').toSeq.map(_.split(sep).map(_.trim).filter(_.nonEmpty))

  def points(s: String): DataFrame =
    rows(s).map { case Array(id, lon, lat) => PointRow(id, lon.toDouble, lat.toDouble) }.toDF

  def pois(s: String): DataFrame =
    rows(s).map { case Array(id, lon, lat, rest @ _*) =>
      PoiRow(id, lon.toDouble, lat.toDouble, rest.headOption)
    }.toDF

  def joined(s: String): DataFrame =
    rows(s).map { case Array(id, lon, lat, poi, rest @ _*) =>
      JoinedRow5(id, lon.toDouble, lat.toDouble, poi, rest.headOption)
    }.toDF

  def wktRows(s: String): DataFrame =
    rows(s, ';').map { case Array(id, wkt) => WktRow(id, wkt) }.toDF

  def wktPois(s: String): DataFrame =
    rows(s, ';').map { case Array(id, wkt, rest @ _*) => WktPoiRow(id, wkt, rest.headOption) }.toDF

  def wktJoined(s: String): DataFrame =
    rows(s, ';').map { case Array(id, wkt, poi, rest @ _*) =>
      WktJoinedRow(id, wkt, poi, rest.headOption)
    }.toDF

  /** Same defaults as the reference's makeTransformer test helper
    * (reference: BroadcastSpatialJoinTest.scala:615-622). */
  def makeTransformer(data: DataFrame, view: String): BroadcastSpatialJoin = {
    data.createOrReplaceTempView(view)
    new BroadcastSpatialJoin()
      .setDataset(view)
      .setDatasetPoint("lon, lat")
      .setInputPoint("lon, lat")
      .setDataColumns("poi_id")
  }
}
