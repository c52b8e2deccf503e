package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions
import graft.join.GridNearestJoin
import graft.transformer.BroadcastSpatialJoin

/** The partitioned exec behind `broadcast = none`: when it starts jobs
  * and how they are described, and nearest results on inputs that stress
  * the leaves (one coordinate for every site, geometries across leaf
  * boxes, an empty right side, a right-only conjunct). */
class PartitionedSpatialJoinSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "PartitionedSpatialJoinExec"

  private val lw = GeoExpressions.wkbPoint(col("lon"), col("lat"))
  private val rw = GeoExpressions.wkbPoint(col("plon"), col("plat"))

  /** Descriptions of the jobs `body` starts, in start order. */
  private def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, seen.synchronized(seen.toList))
    } finally sc.removeSparkListener(listener)
  }

  /** (id, right id, rank) rows of `df`, sorted, duplicates kept. */
  private def ranked(df: DataFrame, id: String, rid: String, rank: String): Seq[String] =
    df.select(col(id), col(rid), col(rank)).collect().map(_.mkString("|")).toSeq.sorted

  /** Brute-force top-k by (st_distance, tie-break, right columns). */
  private def brute(left: DataFrame, right: DataFrame, lwkb: Column, rwkb: Column, k: Int,
      order: Seq[Column], id: String, rid: String): Seq[String] =
    ranked(left.crossJoin(right)
      .withColumn("__d", GeoExpressions.stDistance(lwkb, rwkb))
      .where(col("__d").isNotNull)
      .withColumn("rn", row_number().over(Window.partitionBy(id)
        .orderBy((col("__d") +: order): _*)).cast("long"))
      .where(col("rn") <= k), id, rid, "rn")

  it should "start no job until an action, then describe its sample job and restore the caller's" in {
    val sc = spark.sparkContext
    val probes = (0 until 80).map(i =>
      (s"p$i", (i * 37 % 300) / 100.0, (i * 53 % 300) / 100.0)).toDF("id", "lon", "lat")
    val sites = (0 until 40).map(i =>
      (s"s$i", (i * 41 % 300) / 100.0, (i * 29 % 300) / 100.0)).toDF("sid", "plon", "plat")
    for (caller <- Seq("caller job", null)) withClue(s"caller=$caller: ") {
      sc.setLocalProperty("spark.job.description", caller)
      try {
        val (out, building) = jobDescriptions(
          GridNearestJoin.nearest(probes, sites, lw, rw, tieBreak = Some(col("sid"))))
        building shouldBe empty
        val (rows, running) = jobDescriptions(out.collect())
        rows should have size 80
        sc.getLocalProperty("spark.job.description") shouldBe caller
        running.head shouldBe "PartitionedSpatialJoinExec: sample right envelopes"
        running.tail should not be empty
        running.tail.distinct shouldBe Seq(caller)
      } finally sc.setLocalProperty("spark.job.description", null)
    }
  }

  it should "describe the harness-only autoCellDeg job and restore the caller's description" in {
    // no library code sizes grid cells any more; the benchmark harness
    // still times GridNearestJoin.autoCellDeg, an eager job of its own
    val sc = spark.sparkContext
    val sites = (0 until 40).map(i =>
      (s"s$i", (i * 41 % 300) / 100.0, (i * 29 % 300) / 100.0)).toDF("sid", "plon", "plat")
    for (caller <- Seq("caller job", null)) withClue(s"caller=$caller: ") {
      sc.setLocalProperty("spark.job.description", caller)
      try {
        val (cell, sized) = jobDescriptions(GridNearestJoin.autoCellDeg(sites, rw))
        cell should be > 0.0
        sized.distinct shouldBe Seq("grid.autoCellDeg")
        sc.getLocalProperty("spark.job.description") shouldBe caller
      } finally sc.setLocalProperty("spark.job.description", null)
    }
  }

  it should "start no job inside transform() for broadcast = none nearest, k = 1 and k = 3" in {
    val input = (0 until 30).map(i => (s"i$i", i * 0.1, i * 0.07)).toDF("id", "lon", "lat")
    (0 until 12).map(i => (s"d$i", i * 0.3, i * 0.2)).toDF("poi_id", "lon", "lat")
      .createOrReplaceTempView("partitioned_no_job_poi")
    for (knn <- Seq("", "3")) withClue(s"gridKnn=$knn: ") {
      val t = new BroadcastSpatialJoin().setDataset("partitioned_no_job_poi")
        .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("poi_id").setPredicate("nearest").setBroadcast("none")
        .setGridKnn(knn)
      val (out, jobs) = jobDescriptions(t.transform(input))
      jobs shouldBe empty
      out.count() shouldBe (if (knn.isEmpty) 30 else 90)
    }
  }

  it should "start no job inside transform() for broadcast = none relation predicates, every join type" in {
    val input = (0 until 30).map(i => (s"i$i", i * 0.1, i * 0.07)).toDF("id", "lon", "lat")
    val sites = (0 until 12).map(i => (s"d$i", i * 0.3, i * 0.2)).toDF("poi_id", "lon", "lat")
    sites.createOrReplaceTempView("partitioned_no_job_sites")
    sites.selectExpr("poi_id",
      "concat('POLYGON((', lon-0.4, ' ', lat-0.3, ',', lon+0.4, ' ', lat-0.3, ',', lon, ' ', lat+0.4, ',', lon-0.4, ' ', lat-0.3, '))') as wkt")
      .createOrReplaceTempView("partitioned_no_job_zones")
    for (pred <- Seq("within", "intersects", "withindist 80000");
         jt <- Seq("inner", "left", "semi", "anti")) withClue(s"$pred joinType=$jt: ") {
      val t = new BroadcastSpatialJoin().setInputPoint("lon, lat")
        .setDataColumns("poi_id").setPredicate(pred).setBroadcast("none").setJoinType(jt)
      val onSites =
        if (pred.startsWith("withindist")) t.setDataset("partitioned_no_job_sites").setDatasetPoint("lon, lat")
        else t.setDataset("partitioned_no_job_zones").setDatasetWKT("wkt")
      val (out, jobs) = jobDescriptions(onSites.transform(input))
      jobs shouldBe empty
      val rows = out.count()
      if (jt == "left") rows should be >= 30L
      else if (jt != "inner") rows should be <= 30L
    }
  }

  it should "equal brute force with a right-only conjunct that keeps 10 of 10k sites" in {
    // the conjunct drops rows at each leaf's index build, so a probe whose
    // home leaf keeps none of them is forwarded to every other leaf
    val probes = (0 until 500).map(i =>
      (s"p$i", (i % 25) * 0.4, (i / 25) * 0.5)).toDF("id", "lon", "lat")
    val sites = spark.range(10000).select(col("id").as("pk"),
      (col("id") % 5 * 2.0 + 1.0 + col("id") / 20000.0).as("plon"),
      (col("id") % 10 + 0.5).as("plat"))
    val got = GridNearestJoin.nearest(probes, sites, lw, rw,
      tieBreak = Some(col("pk")), condition = Some(col("pk") < 10))
      .withColumn("rn", lit(1L))
    ranked(got, "id", "pk", "rn") shouldBe
      brute(probes, sites.where(col("pk") < 10), lw, rw, 1, Seq(col("pk")), "id", "pk")
  }

  it should "equal brute force when every site sits at one coordinate, or polygons cross leaf boxes (k = 3)" in {
    val rnd = new scala.util.Random(17)
    val points = (0 until 120).map(i =>
      (s"p$i", s"POINT (${rnd.nextDouble() * 10} ${rnd.nextDouble() * 10})"))
    val boxes = (0 until 6).map { i => // probes that are not points
      val x = rnd.nextDouble() * 9; val y = rnd.nextDouble() * 9
      (s"b$i", s"POLYGON (($x $y, ${x + 1} $y, ${x + 1} ${y + 0.5}, $x $y))")
    }
    val probes = (points ++ boxes).toDF("id", "wkt")
    val stacked = (0 until 60).map(i => (i.toLong, "POINT (5 5)")).toDF("rid", "rwkt")
    val crossing = ((0 until 50).map(i =>
      (i.toLong, s"POINT (${rnd.nextDouble() * 10} ${rnd.nextDouble() * 10})")) ++
      (0 until 8).map { i => // long strips across the leaves' split lines
        val c = 1.0 + i
        (100L + i, if (i % 2 == 0) s"LINESTRING (0 $c, 10 ${c + 0.3})"
          else s"POLYGON (($c 0, ${c + 0.2} 0, ${c + 0.2} 10, $c 10, $c 0))")
      } :+ ((200L, "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))"))).toDF("rid", "rwkt")
    val lwkt = GeoExpressions.wkbFromWkt(col("wkt"))
    val rwkt = GeoExpressions.wkbFromWkt(col("rwkt"))
    for ((name, right) <- Seq("one coordinate" -> stacked, "crossing" -> crossing);
         leaves <- Seq(1, 7)) withClue(s"$name leaves=$leaves: ") {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, leaves.toString)
      val join = GridNearestJoin.knearest(probes, right, lwkt, rwkt, k = 3,
        tieBreak = Some(col("rid")))
      // coalesce(1) runs every leaf's final pass in one task
      val (got, coalesced) =
        try (ranked(join, "id", "rid", "knn_rank"), ranked(join.coalesce(1), "id", "rid", "knn_rank"))
        finally spark.conf.set(key, prev)
      got shouldBe brute(probes, right, lwkt, rwkt, 3, Seq(col("rid"), col("rwkt")), "id", "rid")
      coalesced shouldBe got
      got.distinct should have size got.size
      got should have size 3 * probes.count()
    }
  }

  it should "join an empty right side: no rows inner, one null row per left row outer" in {
    val input = Seq(("a", 1.0, 1.0), ("b", 2.0, 2.0), ("c", Double.NaN, 0.0)).toDF("id", "lon", "lat")
    val empty = Seq.empty[(String, Double, Double)].toDF("poi_id", "plon", "plat")
    GridNearestJoin.nearest(input, empty, lw, rw).count() shouldBe 0
    GridNearestJoin.knearest(input, empty, lw, rw, k = 3).count() shouldBe 0
    val outer = GridNearestJoin.nearest(input, empty, lw, rw, joinType = "left")
      .select("id", "poi_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    outer shouldBe Set(("a", null), ("b", null), ("c", null))
    val outerK = GridNearestJoin.knearest(input, empty, lw, rw, k = 3, joinType = "left")
      .select("id", "poi_id", "knn_rank").collect()
    outerK.map(_.getString(0)).sorted shouldBe Seq("a", "b", "c")
    outerK.foreach { r => r.isNullAt(1) shouldBe true; r.isNullAt(2) shouldBe true }
  }
}
