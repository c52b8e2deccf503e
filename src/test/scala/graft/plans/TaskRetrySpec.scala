package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

import graft.SparkTestKit.spark

/**
 * Determinism under TASK RETRIES — the claim every no-RNG operator
 * makes ("same result on any cluster, any failure pattern") turned
 * into a pinned behavior: a fault-injecting stage throws on the FIRST
 * attempt of one input partition (Spark relaunches it — the test
 * session runs `local[4, 3]`), and the operator's output must be
 * bit-identical to the unfaulted run. One representative per family:
 * hashSample (map-only curation), minhashPairs (shuffle-heavy dedup),
 * Walks.walks (iterative graph loop with checkpointed state).
 */
class TaskRetrySpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  /** Re-emit `df` through a stage whose partition-0 task FAILS on its
    * first attempt (and only then) — downstream stages consume retried
    * task output. The failure counter is per-JVM-singleton, not
    * per-task-closure, so speculative re-serialization cannot reset it. */
  private def faulted(df: DataFrame, tag: String): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(df.schema)
    df.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          TaskRetrySpec.fired.add(tag + "#" + tc.stageId()))
        throw new RuntimeException(s"injected first-attempt failure [$tag]")
      it
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private val docs = (1L to 400L).map { i =>
    (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} w${i % 7} " +
      s"w${(i * 7) % 17} w${(i * 11) % 19} w${(i * 13) % 23}",
      s"s${i % 3}")
  }.toDF("doc_id", "text", "stratum").repartition(4)

  behavior of "no-RNG operators under task retries"

  it should "hashSample: identical rows with and without an injected retry" in {
    val thresholds = Map("s0" -> "8000", "s1" -> "4000", "s2" -> "c000")
    val clean = canon(graft.curation.Sampling.hashSample(
      docs, "text", "stratum", thresholds))
    val retried = canon(graft.curation.Sampling.hashSample(
      faulted(docs, "hashSample"), "text", "stratum", thresholds))
    TaskRetrySpec.fired.asScala.exists(_.startsWith("hashSample#")) shouldBe true
    retried shouldBe clean
    clean should not be empty
  }

  it should "minhashPairs: identical near-dup pairs under a retried shuffle input" in {
    // clone every 5th doc so real near-dup pairs exist
    val withDups = docs.unionByName(
      docs.where($"doc_id" % 5 === 0)
        .select(($"doc_id" + 10000L).as("doc_id"), $"text", $"stratum"))
    val clean = canon(graft.dedup.Dedup.minhashPairs(
      withDups, "doc_id", "text", tau = 0.8))
    val retried = canon(graft.dedup.Dedup.minhashPairs(
      faulted(withDups, "minhash"), "doc_id", "text", tau = 0.8))
    TaskRetrySpec.fired.asScala.exists(_.startsWith("minhash#")) shouldBe true
    retried shouldBe clean
    clean should not be empty
  }

  it should "walks: identical walk paths under a retried edge input" in {
    val edges = (1L to 300L).map(i => (i % 40, (i * 7) % 40))
      .toDF("src", "dst").repartition(4)
    val clean = canon(graft.graph.Walks.walks(
      edges, "src", "dst", steps = 4, walksPerNode = 2))
    val retried = canon(graft.graph.Walks.walks(
      faulted(edges, "walks"), "src", "dst", steps = 4, walksPerNode = 2))
    TaskRetrySpec.fired.asScala.exists(_.startsWith("walks#")) shouldBe true
    retried shouldBe clean
    clean should not be empty
  }

  it should "grid nearest: identical rows when every exec stage retries its first attempt" in {
    // the condition fails the first attempt of partition 0 in every stage
    // that evaluates it: the home search, the forwarded search and the
    // final merge; the left input's stage fails once as well
    val fail = udf { (sid: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          TaskRetrySpec.fired.add("gridNearest#" + tc.stageId()))
        throw new RuntimeException("injected first-attempt failure [gridNearest]")
      sid >= 0L
    }
    val probes = (0 until 300).map { i => // one cluster far from every site
      val far = i % 10 == 0
      (i.toLong, (i * 37 % 300) / 100.0 + (if (far) 20.0 else 0.0), (i * 53 % 300) / 100.0)
    }.toDF("pid", "lon", "lat").repartition(4)
    val sites = (0 until 60).map(i =>
      (i.toLong, (i * 41 % 300) / 100.0, (i * 29 % 300) / 100.0)).toDF("sid", "plon", "plat")
    def run(left: DataFrame, k: Int, withFault: Boolean): Seq[String] = canon(
      graft.join.GridNearestJoin.knearest(left, sites,
        graft.functions.GeoExpressions.wkbPoint(col("lon"), col("lat")),
        graft.functions.GeoExpressions.wkbPoint(col("plon"), col("plat")),
        k = k, tieBreak = Some(col("sid")),
        condition = if (withFault) Some(fail(col("sid"))) else None))
    for (k <- Seq(1, 3)) withClue(s"k=$k: ") {
      val clean = run(probes, k, withFault = false)
      TaskRetrySpec.fired.clear()
      val retried = run(faulted(probes, "gridNearestInput"), k, withFault = true)
      // the input's stage and the exec's three condition stages
      TaskRetrySpec.fired.asScala.count(_.startsWith("gridNearest#")) shouldBe 3
      TaskRetrySpec.fired.asScala.exists(_.startsWith("gridNearestInput#")) shouldBe true
      retried shouldBe clean
      clean should have size 300 * k
    }
  }
}

object TaskRetrySpec {
  /** Stage-scoped once-only fault registry (executor side = same JVM in
    * local mode). */
  val fired: java.util.concurrent.ConcurrentHashMap.KeySetView[String, java.lang.Boolean] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
