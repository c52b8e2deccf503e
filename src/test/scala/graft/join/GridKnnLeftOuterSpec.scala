package graft.join

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions

/**
 * Left-outer kNN (k > 1) through the partitioned grid operator (r14 —
 * was a documented refusal): match-less left rows (condition-vetoed, or
 * null geometry) keep ONE row with the right columns and the rank
 * nulled — the `left LEFT JOIN (ranked rows WHERE rank <= k)` SQL shape.
 */
class GridKnnLeftOuterSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "GridNearestJoin.knearest joinType=left"

  private def row(r: org.apache.spark.sql.Row): (String, String, Any) =
    (r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
      if (r.isNullAt(2)) null else r.getLong(2))

  it should "equal the brute-force LEFT JOIN of ranked rows in both regimes" in {
    val rnd = new scala.util.Random(23)
    // grp 0/1 inputs match pgrp 0/1 candidates; grp 2 inputs match
    // NOTHING (no pgrp 2 exists) — plus one null-geometry straggler
    val input = (0 until 60).map(i =>
      (s"i$i", rnd.nextDouble() * 30 - 15, rnd.nextDouble() * 16 - 8, i % 3))
      .toDF("id", "lon", "lat", "grp")
      .union(Seq(("inull", Double.NaN, Double.NaN, 0)).toDF())
      .withColumn("lon", when(col("id") === "inull", lit(null)).otherwise(col("lon")))
      .withColumn("lat", when(col("id") === "inull", lit(null)).otherwise(col("lat")))
    val data = (0 until 30).map(i =>
      (s"d$i", rnd.nextDouble() * 30 - 15, rnd.nextDouble() * 16 - 8, i % 2))
      .toDF("poi_id", "plon", "plat", "pgrp")

    val ranked = input.where(col("lon").isNotNull).crossJoin(data)
      .where(col("grp") === col("pgrp"))
      .withColumn("d2", (col("lon") - col("plon")) * (col("lon") - col("plon"))
        + (col("lat") - col("plat")) * (col("lat") - col("plat")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("d2"), col("poi_id"))))
      .where(col("rn") <= 3)
      .select(col("id").as("mid"), col("poi_id"), col("rn").cast("long").as("rn"))
    val brute = input.select("id").join(ranked, col("id") === col("mid"), "left")
      .select("id", "poi_id", "rn")
      .collect().map(row).toSet

    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    for (leaves <- Seq(1, 7)) { // one leaf, seven leaves
      spark.conf.set(key, leaves.toString)
      val got =
        try GridNearestJoin.knearest(
          input, data,
          GeoExpressions.wkbPoint(col("lon"), col("lat")),
          GeoExpressions.wkbPoint(col("plon"), col("plat")),
          k = 3, tieBreak = Some(col("poi_id")),
          condition = Some(col("grp") === col("pgrp")),
          joinType = "left")
          .select("id", "poi_id", "knn_rank")
          .collect().map(row).toSet
        finally spark.conf.set(key, prev)
      withClue(s"leaves=$leaves: ") { got shouldBe brute }
    }
  }

  it should "emit exactly one null-rank row per left row when NOTHING matches" in {
    // the all-unmatched edge: a condition no pair satisfies — every left
    // row must surface exactly once, right columns and rank all null
    val input = (0 until 25).map(i => (s"i$i", i * 1.0, 0.0, 1)).toDF("id", "lon", "lat", "grp")
    val data = (0 until 10).map(i => (s"d$i", i * 1.0, 0.5, 2)).toDF("poi_id", "plon", "plat", "pgrp")
    val got = GridNearestJoin.knearest(
      input, data,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      k = 3, tieBreak = Some(col("poi_id")),
      condition = Some(col("grp") === col("pgrp")),
      joinType = "left")
      .select("id", "poi_id", "knn_rank")
      .collect()
    got.length shouldBe 25
    got.foreach { r =>
      r.isNullAt(1) shouldBe true
      r.isNullAt(2) shouldBe true
    }
    got.map(_.getString(0)).toSet shouldBe (0 until 25).map(i => s"i$i").toSet
  }

  it should "null-pad every left row against an EMPTY right side" in {
    val input = Seq(("a", 1.0, 1.0), ("b", 2.0, 2.0)).toDF("id", "lon", "lat")
    val data = Seq.empty[(String, Double, Double)].toDF("poi_id", "plon", "plat")
    val got = GridNearestJoin.knearest(
      input, data,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      k = 2, joinType = "left")
      .select("id", "poi_id", "knn_rank")
      .collect().map(row).toSet
    got shouldBe Set(("a", null, null), ("b", null, null))
    // a nearest join is inner or left: semi and anti are rejected
    for (jt <- Seq("semi", "anti")) withClue(s"joinType=$jt: ") {
      intercept[IllegalArgumentException] {
        GridNearestJoin.nearest(input, data,
          GeoExpressions.wkbPoint(col("lon"), col("lat")),
          GeoExpressions.wkbPoint(col("plon"), col("plat")), joinType = jt)
      }.getMessage should include ("inner or left")
    }
  }

  it should "pass __g_-prefixed user columns through untouched" in {
    // the working columns are bound by exprId, so no name is reserved
    val l = Seq(("a", 1.0, 1.0, 7)).toDF("id", "lon", "lat", "__g_cell")
    val r = Seq(("d", 1.0, 1.0)).toDF("poi_id", "plon", "plat")
    val out = GridNearestJoin.nearest(l, r,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")))
    out.columns.toSeq shouldBe Seq("id", "lon", "lat", "__g_cell", "poi_id", "plon", "plat")
    out.collect().map(_.toSeq).toSeq shouldBe Seq(Seq("a", 1.0, 1.0, 7, "d", 1.0, 1.0))
  }
}
