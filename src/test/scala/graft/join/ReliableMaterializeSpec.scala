package graft.join

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit
import graft.SparkTestKit.assertDataFrameEquals
import graft.functions.GeoExpressions

/**
 * Executor-loss-survival story, integration-tested: the iterative
 * operators default to `localCheckpoint` snapshots (fast, but blocks die
 * with their executor); on a real cluster callers pass a reliable
 * `checkpoint` into a checkpoint dir (`_.checkpoint(false)`). This spec runs the clustering loop through the
 * reliable path end-to-end and pins result equality with the local path.
 */
class ReliableMaterializeSpec extends AnyFlatSpec with Matchers {

  lazy val spark = SparkTestKit.spark
  import spark.implicits._

  private def withCheckpointDir[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try body
    finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  behavior of "Dedup.clusterPairs with ReliableMaterialize"

  it should "produce exactly the local-checkpoint clustering on a chain graph" in withCheckpointDir {
    // a path graph exercises several propagation+jump rounds
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    def run(mat: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      graft.dedup.Dedup.clusterPairs(pairs, materialize = mat)
    val reliable = run(_.checkpoint(false))
    val local = run(_.localCheckpoint(false))
    reliable.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      (0L to 30L).map(i => (i, 0L)).toSet
    assertDataFrameEquals(reliable, local)
  }
}
