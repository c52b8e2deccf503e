package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions

/**
 * Tie semantics of the grid nearest join: the winner among candidates at
 * equal distance is the smallest (tieBreak, right columns), whatever the
 * leaf count, the right side's partitioning or AQE. The fixture stacks
 * sites on one coordinate with different tie-break keys, repeats whole
 * rows, has a null tie-break and ±0.0 coordinates, and a probe cluster
 * far from every site; the oracle is a brute-force `row_number() over
 * (partition by id order by distance, tieBreak, right columns)`.
 */
class GridNearestTiesSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "GridNearestJoin ties"

  private val rnd = new scala.util.Random(31)

  // right columns (tb, payload, plon, plat); tb is the explicit tie-break
  private val sites: DataFrame = {
    val scatter = (0 until 30).map(i =>
      (Option(i % 4), s"s$i", rnd.nextDouble() * 6 - 3, rnd.nextDouble() * 6 - 3))
    val stacked = Seq( // one coordinate, three tie-break keys
      (Option(3), "st3", 1.0, 1.0), (Option(1), "st1", 1.0, 1.0), (Option(2), "st2", 1.0, 1.0))
    val duplicates = Seq.fill(3)((Option(5), "dup", 0.5, -0.5))
    val nullTb = Seq( // the null tie-break sorts first
      (Option(0), "n0", -1.5, 2.0), (None, "nnull", -1.5, 2.0), (Option(0), "n1", -1.5, 2.0))
    val zeros = Seq( // ±0.0: equal distances, different WKB bytes
      (Option(7), "z1", 0.0, 0.0), (Option(7), "z2", -0.0, 0.0),
      (Option(7), "z3", 0.0, -0.0), (Option(7), "z4", -0.0, -0.0))
    (scatter ++ stacked ++ duplicates ++ nullTb ++ zeros)
      .toDF("tb", "payload", "plon", "plat")
  }

  private val probes: DataFrame = {
    val scatter = (0 until 40).map(i =>
      (s"p$i", rnd.nextDouble() * 8 - 4, rnd.nextDouble() * 8 - 4))
    val onSites = Seq(("at_stack", 1.0, 1.0), ("near_stack", 1.2, 1.0),
      ("at_dup", 0.5, -0.5), ("at_null", -1.5, 2.0), ("near_null", -1.5, 2.3),
      ("z_pp", 0.0, 0.0), ("z_np", -0.0, 0.0), ("z_nn", -0.0, -0.0), ("z_off", 0.1, -0.0))
    val siteless = (0 until 8).map(i => // far outside every leaf's sites
      (s"far$i", 14.0 + rnd.nextDouble(), -12.0 + rnd.nextDouble()))
    (scatter ++ onSites ++ siteless).toDF("id", "lon", "lat")
  }

  private val lw = GeoExpressions.wkbPoint(col("lon"), col("lat"))
  private val rw = GeoExpressions.wkbPoint(col("plon"), col("plat"))
  private val rightCols = Seq("tb", "payload", "plon", "plat")

  private def show(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  private def brute(k: Int, tieBreak: Column): Seq[String] = {
    val w = Window.partitionBy("id").orderBy(
      (col("__d") +: tieBreak +: rightCols.map(col)).map(_.asc): _*)
    show(probes.crossJoin(sites)
      .withColumn("__d", GeoExpressions.stDistance(lw, rw))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k), "id" +: rightCols :+ "rn")
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, prev)
  }

  // the leaf count follows the shuffle width: one leaf, or seven
  private val regimes = Seq("one leaf" -> 1, "seven leaves" -> 7)

  private def grid(k: Int, right: DataFrame, tieBreak: Option[Column], leaves: Int): Seq[String] =
    withConf("spark.sql.shuffle.partitions", leaves.toString) {
      if (k == 1)
        show(GridNearestJoin.nearest(probes, right, lw, rw, tieBreak = tieBreak)
          .withColumn("rn", lit(1L)), "id" +: rightCols :+ "rn")
      else
        show(GridNearestJoin.knearest(probes, right, lw, rw, k = k, tieBreak = tieBreak),
          "id" +: rightCols :+ "knn_rank")
    }

  for (k <- Seq(1, 3)) {
    it should s"equal brute force on ties (k = $k) in every regime, layout and AQE mode" in {
      val expected = brute(k, col("tb"))
      expected.count(_.contains("|dup|")) should be > 0
      for ((name, regime) <- regimes; parts <- Seq(1, 7); aqe <- Seq(true, false)) {
        val right = if (parts == 1) sites.coalesce(1) else sites.repartition(parts)
        withClue(s"k=$k $name parts=$parts aqe=$aqe: ") {
          withConf("spark.sql.adaptive.enabled", aqe.toString)(
            grid(k, right, Some(col("tb")), regime)) shouldBe expected
        }
      }
    }

    it should s"break ties by WKB bytes by default (k = $k) in every regime" in {
      val expected = brute(k, GeoExpressions.wkbPoint(col("plon"), col("plat")).cast("string"))
      for ((name, regime) <- regimes) withClue(s"k=$k $name: ") {
        grid(k, sites.repartition(7), None, regime) shouldBe expected
      }
    }
  }
}
