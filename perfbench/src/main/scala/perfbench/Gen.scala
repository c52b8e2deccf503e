package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/**
 * Seeded input generator. Every value is a pure function of
 * (seed, stream, row id), so a table's rows do not depend on how many
 * partitions or cores produced them, and the oracles can regenerate any
 * row without reading the written files.
 *
 * Geometry lives in a lon/lat box over Europe (lon 5..45, lat 35..60);
 * rows fall into Gaussian clusters (see [[Clusters]]).
 */
object Gen {

  // one stream per generated quantity, so changing one table's shape
  // never shifts another's values
  private val SClusterCentre = 1L
  private val SProbe = 10L
  private val SSite = 11L
  private val SZone = 12L

  /** splitmix64 finaliser. */
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1), the k-th draw of row `id` in `stream`. */
  def uniform(seed: Long, stream: Long, id: Long, k: Int): Double = {
    val h = mix(mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + id) + k)
    (h >>> 11) * (1.0 / (1L << 53))
  }

  /** Standard normal draw truncated to [-2.5, 2.5] (Box-Muller over
    * draws k and k + 1, redrawn further along the row's stream until it
    * falls inside). Bounded clusters give the sides a bounding box that
    * does not hinge on a few tail rows, so the grid cell derived from it
    * is the same on every seed. */
  def normal(seed: Long, stream: Long, id: Long, k: Int): Double = {
    var j = k
    while (true) {
      val u1 = uniform(seed, stream, id, j)
      val u2 = uniform(seed, stream, id, j + 1)
      val z = math.sqrt(-2.0 * math.log(1.0 - u1)) * math.cos(2.0 * math.Pi * u2)
      if (math.abs(z) <= 2.5) return z
      j += 32
    }
    0.0
  }

  /**
   * `count` Gaussian clusters. Clusters with index >= `siteClusters`
   * receive probe rows but no site or zone rows.
   *
   * The layout is fixed by the cluster index and only jittered by the
   * seed: centres sit on a lattice over the box, spreads and weights are
   * spaced evenly over their ranges. A seed changes where the rows fall,
   * not how much work the workload holds, so runs on different seeds
   * measure the same workload.
   */
  final case class Clusters(seed: Long, count: Int, siteClusters: Int,
      sigmaMin: Double, sigmaMax: Double) {
    private val cols = math.ceil(math.sqrt(count.toDouble)).toInt
    private val rows = (count + cols - 1) / cols
    private def jitter(c: Int, k: Int): Double = 0.02 * (uniform(seed, SClusterCentre, c, k) - 0.5)
    val lon: Array[Double] = Array.tabulate(count)(c => 5.0 + 40.0 * (c % cols + 0.5 + jitter(c, 0)) / cols)
    val lat: Array[Double] = Array.tabulate(count)(c => 35.0 + 25.0 * (c / cols + 0.5 + jitter(c, 1)) / rows)
    // golden-ratio strides spread the index over [0, 1) without runs
    private def spread(c: Int, offset: Double): Double = (c * 0.6180339887498949 + offset) % 1.0
    val sigma: Array[Double] = Array.tabulate(count)(c => sigmaMin + (sigmaMax - sigmaMin) * spread(c, 0.0))
    val weight: Array[Double] = {
      val w = Array.tabulate(count)(c => 1.0 + 3.0 * spread(c, 0.5))
      w.map(_ / w.sum)
    }
    /** Share of the probe rows that fall in clusters without sites. */
    val sitelessShare: Double = weight.drop(siteClusters).sum

    private def cumulative(n: Int): Array[Double] = {
      val w = weight.take(n)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    private val probeCdf = cumulative(count)
    private val siteCdf = cumulative(siteClusters)

    private def pick(cdf: Array[Double], u: Double): Int = {
      var c = 0
      while (c < cdf.length - 1 && u >= cdf(c)) c += 1
      c
    }
    def probeCluster(u: Double): Int = pick(probeCdf, u)
    def siteCluster(u: Double): Int = pick(siteCdf, u)
    /** Weight of cluster c among the clusters that hold sites. */
    def siteWeight(c: Int): Double = weight(c) / weight.take(siteClusters).sum
  }

  /** Sizes and distribution of one workload's inputs. */
  final case class Shape(probes: Long, sites: Long, zones: Long,
      clusters: Int, sitelessClusters: Int, sigmaMin: Double, sigmaMax: Double,
      zoneCover: Double = 0.0) {
    def clustersOf(seed: Long): Clusters =
      Clusters(seed, clusters, clusters - sitelessClusters, sigmaMin, sigmaMax)
  }

  def probe(seed: Long, cl: Clusters, id: Long): (Double, Double) = {
    val c = cl.probeCluster(uniform(seed, SProbe, id, 0))
    (cl.lon(c) + cl.sigma(c) * normal(seed, SProbe, id, 1),
      cl.lat(c) + cl.sigma(c) * normal(seed, SProbe, id, 3))
  }

  def site(seed: Long, cl: Clusters, id: Long): (Double, Double) = {
    val c = cl.siteCluster(uniform(seed, SSite, id, 0))
    (cl.lon(c) + cl.sigma(c) * normal(seed, SSite, id, 1),
      cl.lat(c) + cl.sigma(c) * normal(seed, SSite, id, 3))
  }

  /**
   * Convex 8-gon, counter-clockwise, first vertex not repeated: vertex j
   * sits on a circle at a jittered angle inside sector j, so the ring is
   * convex by construction. Zone centres follow the site clusters; the
   * radius makes a cluster's zones cover each of its points about
   * `zoneCover` times by envelope (zones per cluster times envelope area
   * over the cluster's 4·pi·sigma² effective area).
   */
  def zone(seed: Long, cl: Clusters, zones: Long, zoneCover: Double, id: Long): Array[Double] = {
    val c = cl.siteCluster(uniform(seed, SZone, id, 0))
    val cx = cl.lon(c) + cl.sigma(c) * normal(seed, SZone, id, 1)
    val cy = cl.lat(c) + cl.sigma(c) * normal(seed, SZone, id, 3)
    val perCluster = math.max(1.0, zones * cl.siteWeight(c))
    val r = cl.sigma(c) * math.sqrt(zoneCover * math.Pi / perCluster) *
      (0.8 + 0.4 * uniform(seed, SZone, id, 5))
    val xy = new Array[Double](16)
    var j = 0
    while (j < 8) {
      val a = 2.0 * math.Pi * (j + 0.1 + 0.8 * uniform(seed, SZone, id, 6 + j)) / 8.0
      xy(2 * j) = cx + r * math.cos(a)
      xy(2 * j + 1) = cy + r * math.sin(a)
      j += 1
    }
    xy
  }

  /** Shortest round-tripping decimal, never in exponent notation. */
  private def plain(d: Double): String =
    new java.math.BigDecimal(java.lang.Double.toString(d)).toPlainString

  def wkt(xy: Array[Double]): String = {
    val sb = new StringBuilder("POLYGON ((")
    var j = 0
    while (j <= 8) {
      val k = (j % 8) * 2
      if (j > 0) sb.append(", ")
      sb.append(plain(xy(k))).append(' ').append(plain(xy(k + 1)))
      j += 1
    }
    sb.append("))").toString
  }

  /** Probe points: (id, lon, lat). */
  def probeTable(spark: SparkSession, seed: Long, shape: Shape, parts: Int): DataFrame = {
    val cl = shape.clustersOf(seed)
    val f = F.udf((id: Long) => probe(seed, cl, id))
    spark.range(0, shape.probes, 1, parts)
      .select(F.col("id"), f(F.col("id")).as("p"))
      .select(F.col("id"), F.col("p._1").as("lon"), F.col("p._2").as("lat"))
  }

  /** Site points: (site_id, lon, lat). */
  def siteTable(spark: SparkSession, seed: Long, shape: Shape, parts: Int): DataFrame = {
    val cl = shape.clustersOf(seed)
    val f = F.udf((id: Long) => site(seed, cl, id))
    spark.range(0, shape.sites, 1, parts)
      .select(F.col("id").as("site_id"), f(F.col("id")).as("p"))
      .select(F.col("site_id"), F.col("p._1").as("lon"), F.col("p._2").as("lat"))
  }

  /** Zone polygons: (zone_id, wkt). */
  def zoneTable(spark: SparkSession, seed: Long, shape: Shape, parts: Int): DataFrame = {
    val cl = shape.clustersOf(seed)
    val (n, cover) = (shape.zones, shape.zoneCover)
    val f = F.udf((id: Long) => wkt(zone(seed, cl, n, cover, id)))
    spark.range(0, shape.zones, 1, parts)
      .select(F.col("id").as("zone_id"), f(F.col("id")).as("wkt"))
  }
}
