package graft.join

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions

/** The driver-side loop of the grid nearest join: what the pair budget
  * counts, and the job descriptions its eager jobs carry. */
class GridNearestDriverSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "GridNearestJoin driver loop"

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

  it should "size the pair budget by the right rows the exhaustive pass joins" in {
    // 10k sites, of which the right-only conjunct keeps 10: the pass would
    // join 500 x 10 pairs, inside the 6000-pair budget, so the budget must
    // pick it over the ring rounds. Counted on the raw side, even one
    // probe x 10k sites is over the budget: the rings run until every
    // probe resolves, and no exhaustive pass runs at all.
    val probes = (0 until 500).map(i =>
      (s"p$i", (i % 25) * 0.4, (i / 25) * 0.5)).toDF("id", "lon", "lat")
    val sites = spark.range(10000).select(col("id").as("pk"),
      (col("id") % 5 * 2.0 + 1.0 + col("id") / 20000.0).as("plon"),
      (col("id") % 10 + 0.5).as("plat"))
    val (out, descs) = jobDescriptions {
      val o = GridNearestJoin.nearest(probes, sites, lw, rw,
        cellDeg = 1.0, tieBreak = Some(col("pk")), condition = Some(col("pk") < 10),
        fallbackBelow = 0L, fallbackPairs = 6000L)
      (o.collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("pk"))).toSet, o)
    }
    val plan = out._2.queryExecution.executedPlan.toString
    withClue(plan.linesIterator.filter(_.contains("Join")).mkString("\n")) {
      plan should include("BroadcastNestedLoopJoin")
    }
    descs.filter(d => d != null && d.startsWith("grid.nearest round=")) shouldBe empty
    val expected = probes.crossJoin(sites.where(col("pk") < 10))
      .withColumn("rn", row_number().over(Window.partitionBy("id")
        .orderBy(GeoExpressions.stDistance(lw, rw), col("pk"))))
      .where(col("rn") === 1)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Long]("pk"))).toSet
    out._1 should have size 500
    out._1 shouldBe expected
  }

  it should "describe its eager jobs and restore the caller's description" in {
    val sc = spark.sparkContext
    val probes = (0 until 80).map(i =>
      (s"p$i", (i * 37 % 300) / 100.0, (i * 53 % 300) / 100.0)).toDF("id", "lon", "lat")
    val sites = (0 until 40).map(i =>
      (s"s$i", (i * 41 % 300) / 100.0, (i * 29 % 300) / 100.0)).toDF("sid", "plon", "plat")
    for (caller <- Seq("caller job", null)) withClue(s"caller=$caller: ") {
      sc.setLocalProperty("spark.job.description", caller)
      try {
        val ((cell, out), during) = jobDescriptions {
          val cd = GridNearestJoin.autoCellDeg(sites, rw)
          sc.getLocalProperty("spark.job.description") shouldBe caller
          // 80 probes > 40 budget pairs / 40 sites: the budget is counted
          // and the rings run
          val o = GridNearestJoin.nearest(probes, sites, lw, rw, cellDeg = 0.5,
            tieBreak = Some(col("sid")), initialHorizon = 1,
            fallbackBelow = 0L, fallbackPairs = 40L)
          (cd, o)
        }
        cell should be > 0.0
        sc.getLocalProperty("spark.job.description") shouldBe caller
        during should contain("grid.autoCellDeg")
        during should contain("grid.nearest counts")
        during should contain("grid.nearest budget")
        during should contain("grid.nearest round=1 hi=1")
        during.filterNot(d => d == "grid.autoCellDeg" ||
          Option(d).exists(_.startsWith("grid.nearest "))) shouldBe empty
        // the result's own jobs run under the caller's description
        val (rows, after) = jobDescriptions(out.collect())
        rows should have size 80
        after should not be empty
        after.distinct shouldBe Seq(caller)
      } finally sc.setLocalProperty("spark.job.description", null)
    }
  }
}
