package perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: the oracles catch broken results,
  * and the generator's rows depend on the seed only. Run from this
  * directory with `SPARK_DRIVER_MEM=1g sbt test` (the library build, whose
  * JVM flags the forked tests take, pins an 8 GB heap otherwise). */
class HarnessSpec extends AnyFunSuite {

  private val zones = Gen.Shape(probes = 3000, sites = 0, zones = 300, clusters = 4,
    sitelessClusters = 0, sigmaMin = 0.05, sigmaMax = 0.3, zoneCover = 2.5)
  private val sites = Gen.Shape(probes = 400, sites = 500, zones = 0, clusters = 5,
    sitelessClusters = 2, sigmaMin = 0.05, sigmaMax = 0.3)

  test("within oracle accepts the exact result and rejects a dropped row or a swapped match") {
    val seed = 7L
    val sample = Oracle.sampleIds(zones.probes, 100)
    val good = Oracle.withinAll(seed, zones).map { case (p, z) => Oracle.Row(p, z, -1) }
    assert(good.length > zones.probes / 2, "fixture should match most probes")
    assert(Oracle.checkWithin(seed, zones, sample, good).isEmpty)

    val dropped = good.patch(good.length / 2, Nil, 1)
    assert(Oracle.checkWithin(seed, zones, sample, dropped).nonEmpty)

    // move one match to a zone that does not contain its probe
    val i = good.length / 3
    val wrongZone = (0L until zones.zones).find(z => !good.contains(good(i).copy(ext = z))).get
    val swapped = good.updated(i, good(i).copy(ext = wrongZone))
    assert(Oracle.checkWithin(seed, zones, sample, swapped).nonEmpty)
  }

  test("nearest oracle accepts the exact result and rejects a dropped row or a swapped match") {
    val seed = 7L
    val ids = (0L until sites.probes).toArray
    val good = ids.zip(Oracle.nearestBrute(seed, sites, ids)).map {
      case (p, (s, metres)) => Oracle.Row(p, s, math.round(metres).toInt)
    }
    val sample = Oracle.sampleIds(sites.probes, 50)
    assert(Oracle.checkNearest(seed, sites, sample, good, withDist = true).isEmpty)

    val dropped = good.filterNot(_.id == sites.probes - 1) // not in the sample
    assert(!sample.contains(sites.probes - 1))
    assert(Oracle.checkNearest(seed, sites, sample, dropped, withDist = true).nonEmpty)

    val i = sample(10).toInt
    val swapped = good.updated(i, good(i).copy(ext = (good(i).ext + 1) % sites.sites))
    assert(Oracle.checkNearest(seed, sites, sample, swapped, withDist = true).nonEmpty)

    val farOff = good.updated(i, good(i).copy(dist = good(i).dist * 2 + 100))
    assert(Oracle.checkNearest(seed, sites, sample, farOff, withDist = true).nonEmpty)
  }

  /** SHA-256 over the id-ordered rows of every generated table. */
  private def digest(spark: SparkSession, seed: Long, parts: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(df: DataFrame, key: String): Unit =
      df.orderBy(key).collect().foreach { r =>
        r.toSeq.foreach {
          case l: Long => md.update(ByteBuffer.allocate(8).putLong(l).array())
          case d: Double => md.update(ByteBuffer.allocate(8).putDouble(d).array())
          case s: String => md.update(s.getBytes("UTF-8"))
        }
      }
    feed(Gen.probeTable(spark, seed, zones, parts), "id")
    feed(Gen.zoneTable(spark, seed, zones, parts), "zone_id")
    feed(Gen.siteTable(spark, seed, sites, parts), "site_id")
    md.digest().map("%02x".format(_)).mkString
  }

  private def withSession[T](cores: Int)(body: SparkSession => T): T = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try body(spark)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("generator rows are identical under local[1] and local[4] and change with the seed") {
    val (one, oneOther) = withSession(1)(s => (digest(s, 11L, 1), digest(s, 12L, 1)))
    val four = withSession(4)(s => digest(s, 11L, 4))
    assert(one == four)
    assert(one != oneOther)
  }
}
