package graft.transformer

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestKit.spark

/** Self-join: the external view built from the SAME DataFrame as the
  * input — attribute exprIds collide between the two plan sides. */
class SelfJoinSpec extends AnyFlatSpec with Matchers {
  import spark.implicits._

  it should "self-join a table with itself (nearest, excluding self via condition)" in {
    val pts = Seq(("a", 1.0, 1.0), ("b", 1.2, 1.2), ("c", 5.0, 5.0))
      .toDF("id", "lon", "lat")
    pts.createOrReplaceTempView("selfjoin_pts")
    // both kernels: the partitioned one re-aliases the right side as the
    // broadcast one does
    for (mode <- Seq("dataset", "none")) withClue(s"broadcast=$mode: ") {
      val out = new BroadcastSpatialJoin()
        .setDataset("selfjoin_pts")
        .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("id as nn_id")
        .setBroadcast(mode).setPredicate("nearest")
        .setJoinCondition("right.id != left.id")
        .transform(pts)
      out.select("id", "nn_id").collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe
        Set(("a", "b"), ("b", "a"), ("c", "b"))
    }
  }
}
