package graft.transformer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions
import graft.plans.{BroadcastSpatialJoinExec, PartitionedSpatialJoinExec}

/** The SQL metrics of both spatial execs, pinned on fixed fixtures whose
  * counts are worked out by hand below. */
class SpatialJoinMetricsSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "BroadcastSpatialJoinExec metrics"

  /** Runs `df` once and returns its exec. */
  private def execOf(df: DataFrame): BroadcastSpatialJoinExec = {
    df.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectFirst(df.queryExecution.executedPlan) { case e: BroadcastSpatialJoinExec => e }.get
  }

  /** Runs `df` once and returns its exec's metric values. */
  private def metricsOf(df: DataFrame): Map[String, Long] =
    execOf(df).metrics.map { case (k, m) => k -> m.value }

  it should "count indexed rows, candidates, refines and output rows of a within join" in {
    Seq(
      1L -> "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      2L -> "POLYGON ((0.5 0, 2 0, 2 1, 0.5 1, 0.5 0))",
      3L -> "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))",
      4L -> "POLYGON ((10 10, 12 10, 10 12, 10 10))",
      5L -> null
    ).toDF("zid", "wkt").createOrReplaceTempView("metrics_zones")
    // candidates per point: zones 1+2, zone 2, none, zone 3, zone 1, and
    // zone 4's box but not the triangle: 6 candidates, 6 refines, 5 rows
    val points = Seq((1L, 0.75, 0.5), (2L, 1.5, 0.5), (3L, 3.0, 3.0), (4L, 5.5, 5.5),
      (5L, 0.25, 0.25), (6L, 11.8, 11.8)).toDF("pid", "lon", "lat")
    val exec = execOf(new BroadcastSpatialJoin()
      .setDataset("metrics_zones").setDatasetPoint("").setDatasetWKT("wkt")
      .setInputPoint("lon, lat").setDataColumns("zid")
      .setBroadcast("dataset").setPredicate("within")
      .transform(points))
    val m = exec.metrics.map { case (k, v) => k -> v.value }
    m("indexedRows") shouldBe 4
    m("candidates") shouldBe 6
    m("refines") shouldBe 6
    m("numOutputRows") shouldBe 5
    m("indexBuildTime") should be > 0L
    // the driver-side steps, as Spark's BroadcastExchangeExec keeps them:
    // milliseconds (set, even when they round to 0), and the bytes of the
    // five packed right rows
    exec.metrics("collectTime").isZero shouldBe false
    exec.metrics("broadcastTime").isZero shouldBe false
    m("dataSize") shouldBe exec.right.executeCollect()
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    // the node reads the WKB, not the WKT it was built from: Catalyst
    // prunes `wkt` below the exec, and the packed rows are smaller than
    // rows that keep it
    exec.right.output.map(_.name) should not contain "wkt"
    val unpruned = spark.table("metrics_zones")
      .select(col("zid"), col("wkt"), GeoExpressions.wkbFromWkt(col("wkt")))
      .queryExecution.executedPlan.executeCollect()
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    m("dataSize") should be < unpruned
    Seq("collectTime", "broadcastTime", "dataSize").map(exec.metrics(_).metricType) shouldBe
      Seq("timing", "timing", "size")
  }

  it should "count the rows nearest took in distance order, with and without a condition" in {
    // sites 1..5 at lon 0..4; a NaN-lon site is not indexed
    ((1 to 5).map(i => (i.toLong, i - 1.0, 0.0)) :+ ((6L, Double.NaN, 0.0)))
      .toDF("sid", "slon", "slat").createOrReplaceTempView("metrics_sites")
    val probes = Seq((1L, 0.1, 0.0), (2L, 2.2, 0.0), (3L, 3.9, 0.0)).toDF("pid", "lon", "lat")
    def nearestExec(cond: String) = execOf(new BroadcastSpatialJoin()
      .setDataset("metrics_sites").setDatasetPoint("slon, slat")
      .setInputPoint("lon, lat").setDataColumns("sid")
      .setBroadcast("dataset").setPredicate("nearest").setJoinCondition(cond)
      .transform(probes))
    def nearest(cond: String) = nearestExec(cond).metrics.map { case (k, m) => k -> m.value }
    // the coordinates are read once, into the WKB: pruned below the exec
    nearestExec("").right.output.map(_.name) should contain noneOf ("slon", "slat")
    val plain = nearest("")
    plain("indexedRows") shouldBe 5
    plain("candidates") shouldBe 3 // each probe's first row passes
    plain("refines") shouldBe 0
    plain("numOutputRows") shouldBe 3
    // probe 1 rejects site 1 before site 2; probes 2 and 3 take their
    // nearest sites 3 and 5
    val cond = nearest("right.sid > left.pid")
    cond("candidates") shouldBe 4
    cond("refines") shouldBe 0
    cond("numOutputRows") shouldBe 3
  }

  behavior of "PartitionedSpatialJoinExec metrics"

  it should "count leaves, replicated rows, candidates, forwarded probes and output rows" in {
    import graft.join.GridNearestJoin
    // two leaves (shuffle width 2): the sites' x centres 0, 1, 10, 11 cut
    // at x = 10, so site 3 sits on the split line and goes to both
    // leaves (1 replicated row) but counts only in x >= 10
    val sites = Seq((1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 10.0, 0.0), (4L, 11.0, 0.0))
      .toDF("sid", "slon", "slat")
    // probe 1 resolves at home (site 1 at 0.2 < 9.8 to the split); probe
    // 2's home best is site 2 at 8 >= its clearance 1, so it is forwarded
    // and takes site 3 at 1; probe 3 sits where no site is: its home best
    // (site 4, 44.3) reaches the other leaf, which has nothing that close
    val probes = Seq((1L, 0.2, 0.0), (2L, 9.0, 0.0), (3L, 30.0, 40.0)).toDF("pid", "lon", "lat")
    val df = GridNearestJoin.nearest(probes, sites,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("slon"), col("slat")), tieBreak = Some(col("sid")))
    val key = "spark.sql.shuffle.partitions" // read when the exec runs
    val prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    val rows = try df.collect() finally spark.conf.set(key, prev)
    rows.map(r => (r.getAs[Long]("pid"), r.getAs[Long]("sid"))).toSet shouldBe
      Set((1L, 1L), (2L, 3L), (3L, 4L))
    val helper = new AdaptiveSparkPlanHelper {}
    val m = helper.collectFirst(df.queryExecution.executedPlan) {
      case e: PartitionedSpatialJoinExec => e.metrics.map { case (k, v) => k -> v.value }
    }.get
    m("leaves") shouldBe 2
    m("replicatedRows") shouldBe 1
    // home searches: probe 1 takes site 1 (1); probe 2 passes over
    // site 3's uncounted copy to site 2 (2); probe 3 takes site 4 (1).
    // Forwarded: probe 2 takes site 3 (1); probe 3 finds no row within
    // its bound (0)
    m("candidates") shouldBe 5
    m("forwardedProbes") shouldBe 2
    m("numOutputRows") shouldBe 3
  }

  it should "count leaves, replicated rows, candidates, refines and output rows of a within join" in {
    import graft.join.GridSpatialJoin
    import graft.spatial.SpatialPredicate
    // two leaves (shuffle width 2): the zones' x centres 1, 5, 11, 19
    // cut at x = 11. Zone 3 spans x 9..13, so it goes to both leaves (1
    // replicated row); zone 4 is a triangle
    val zones = Seq(
      1L -> "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
      2L -> "POLYGON ((4 0, 6 0, 6 2, 4 2, 4 0))",
      3L -> "POLYGON ((9 0, 13 0, 13 2, 9 2, 9 0))",
      4L -> "POLYGON ((18 0, 20 0, 18 2, 18 0))").toDF("zid", "wkt")
    // probe 1 is in zone 1 and probe 2 in zone 3, both in leaf x < 11;
    // probe 3 is in zone 3 in leaf x >= 11; probe 4 sits on the split
    // line inside zone 3, so it is searched in both leaves, and zone 3
    // counts in x >= 11 only (1 forwarded probe); probe 5 meets no box;
    // probe 6 is in zone 4's box but not in the triangle
    val points = Seq((1L, 1.0, 1.0), (2L, 10.0, 1.0), (3L, 12.0, 1.0), (4L, 11.0, 1.5),
      (5L, 30.0, 30.0), (6L, 19.8, 1.8)).toDF("pid", "lon", "lat")
    val df = GridSpatialJoin.join(points, zones,
      GeoExpressions.wkbPoint(col("lon"), col("lat")), GeoExpressions.wkbFromWkt(col("wkt")),
      SpatialPredicate.Within)
    val key = "spark.sql.shuffle.partitions" // read when the exec runs
    val prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    val rows = try df.collect() finally spark.conf.set(key, prev)
    rows.map(r => (r.getAs[Long]("pid"), r.getAs[Long]("zid"))).toSet shouldBe
      Set((1L, 1L), (2L, 3L), (3L, 3L), (4L, 3L))
    val helper = new AdaptiveSparkPlanHelper {}
    val m = helper.collectFirst(df.queryExecution.executedPlan) {
      case e: PartitionedSpatialJoinExec => e.metrics.map { case (k, v) => k -> v.value }
    }.get
    m("leaves") shouldBe 2
    m("replicatedRows") shouldBe 1
    m("forwardedProbes") shouldBe 1
    // one candidate each for probes 1, 2, 3, 6 and for probe 4 in
    // x >= 11 (its x < 11 copy of zone 3 is not counted there); every
    // candidate is refined
    m("candidates") shouldBe 5
    m("refines") shouldBe 5
    m("numOutputRows") shouldBe 4
    // the broadcast kernel examines the same pairs
    zones.createOrReplaceTempView("metrics_leaf_zones")
    val b = metricsOf(new BroadcastSpatialJoin()
      .setDataset("metrics_leaf_zones").setDatasetPoint("").setDatasetWKT("wkt")
      .setInputPoint("lon, lat").setDataColumns("zid")
      .setBroadcast("dataset").setPredicate("within")
      .transform(points))
    (b("candidates"), b("refines"), b("numOutputRows")) shouldBe (5L, 5L, 4L)
  }
}
