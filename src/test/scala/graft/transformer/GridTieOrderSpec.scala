package graft.transformer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.plans.PartitionedSpatialJoinExec

/**
 * The transformer's partitioned nearest join orders sites at equal
 * distance by its data columns, then the right WKB: the only right
 * columns its exec reads are those, so the coordinates and every other
 * site column are pruned below it, and the winners do not depend on how
 * the sites are partitioned.
 */
class GridTieOrderSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "the transformer's partitioned nearest tie order"

  // three sites stacked on (1, 1); two at distance 1 from (3, 3); two
  // with one site_id at (0, 0) and (-0.0, 0), equal distances but
  // different WKB bytes
  private val sites = Seq(
    (3L, 1.0, 1.0, "c"), (1L, 1.0, 1.0, "a"), (2L, 1.0, 1.0, "b"),
    (9L, 4.0, 3.0, "i"), (8L, 3.0, 4.0, "h"),
    (7L, 0.0, 0.0, "z"), (7L, -0.0, 0.0, "y"),
    (5L, 20.0, 20.0, "far")).toDF("site_id", "lon", "lat", "note")

  private val probes = Seq((1L, 1.0, 1.0), (2L, 3.0, 3.0), (3L, 0.0, 0.0), (4L, 1.2, 1.0))
    .toDF("pid", "x", "y")

  private def join(view: String, knn: Int): DataFrame =
    new BroadcastSpatialJoin()
      .setDataset(view).setDatasetPoint("lon, lat").setDatasetWKT("")
      .setInputPoint("x, y").setDataColumns("site_id")
      .setBroadcast("none").setPredicate("nearest").setGridKnn(knn.toString)
      .transform(probes)

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  it should "read the data columns and the right WKB, not the coordinates" in {
    sites.createOrReplaceTempView("tie_sites")
    val df = join("tie_sites", 1)
    df.collect()
    val exec = new AdaptiveSparkPlanHelper {}
      .collectFirst(df.queryExecution.executedPlan) { case e: PartitionedSpatialJoinExec => e }.get
    val names = exec.right.output.map(_.name)
    names should contain ("site_id")
    names should contain noneOf ("lon", "lat", "note")
    names should have length 2
  }

  it should "choose one winner among sites at equal distance, over 1 and 7 right partitions" in {
    for (parts <- Seq(1, 7)) withClue(s"$parts partitions: ") {
      sites.repartition(parts).createOrReplaceTempView(s"tie_sites_$parts")
      withShufflePartitions(parts) {
        join(s"tie_sites_$parts", 1).as[(Long, Double, Double, Long)].collect().sorted shouldBe
          Array((1L, 1.0, 1.0, 1L), (2L, 3.0, 3.0, 8L), (3L, 0.0, 0.0, 7L), (4L, 1.2, 1.0, 1L))
        join(s"tie_sites_$parts", 2).as[(Long, Double, Double, Long, Long)].collect().sorted shouldBe
          Array((1L, 1.0, 1.0, 1L, 1L), (1L, 1.0, 1.0, 2L, 2L),
            (2L, 3.0, 3.0, 8L, 1L), (2L, 3.0, 3.0, 9L, 2L),
            (3L, 0.0, 0.0, 7L, 1L), (3L, 0.0, 0.0, 7L, 2L),
            (4L, 1.2, 1.0, 1L, 1L), (4L, 1.2, 1.0, 2L, 2L))
      }
    }
  }
}
