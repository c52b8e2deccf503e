package perfbench

/**
 * Result checks that share no code with the library under test: the
 * expected answers come from the generator's own arithmetic (the inputs
 * are regenerated, not read back) and plain brute force. Each check
 * returns its findings; an empty list means the result is correct.
 */
object Oracle {

  /** Rows a check compares: probe id, matched external id, distance in
    * metres (or -1 when the workload asks for none). */
  final case class Row(id: Long, ext: Long, dist: Int)

  /** Ids of the fixed probe sample: `n` ids evenly strided over the input. */
  def sampleIds(probes: Long, n: Int): Array[Long] = {
    val k = math.min(n.toLong, probes).toInt
    Array.tabulate(k)(i => i.toLong * probes / k)
  }

  /** Strict point-in-polygon for a convex counter-clockwise ring given as
    * x0, y0, x1, y1, ...: the point lies left of every edge. A point on
    * the boundary is not within, as in the OGC `within` predicate. */
  def inside(xy: Array[Double], x: Double, y: Double): Boolean = {
    val n = xy.length / 2
    var j = 0
    while (j < n) {
      val ax = xy(2 * j); val ay = xy(2 * j + 1)
      val k = (j + 1) % n
      val bx = xy(2 * k); val by = xy(2 * k + 1)
      if ((bx - ax) * (y - ay) - (by - ay) * (x - ax) <= 0.0) return false
      j += 1
    }
    true
  }

  private def zonesOf(seed: Long, shape: Gen.Shape): Array[Array[Double]] = {
    val cl = shape.clustersOf(seed)
    Array.tabulate(shape.zones.toInt)(z => Gen.zone(seed, cl, shape.zones, shape.zoneCover, z))
  }

  /** Expected `within` pairs for the given probe ids, testing every zone. */
  def withinBrute(seed: Long, shape: Gen.Shape, ids: Array[Long]): Array[(Long, Long)] = {
    val cl = shape.clustersOf(seed)
    val zones = zonesOf(seed, shape)
    for {
      id <- ids
      (x, y) = Gen.probe(seed, cl, id)
      z <- zones.indices if inside(zones(z), x, y)
    } yield (id, z.toLong)
  }

  /** Expected `within` pairs for every probe, through a uniform bucket
    * grid over the zones' envelopes (exact: a zone that contains a point
    * has an envelope overlapping the point's bucket). */
  def withinAll(seed: Long, shape: Gen.Shape): Array[(Long, Long)] = {
    val cl = shape.clustersOf(seed)
    val zones = zonesOf(seed, shape)
    val cell = 0.02
    def key(ix: Long, iy: Long): Long = (ix << 32) ^ (iy & 0xffffffffL)
    val buckets = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    zones.indices.foreach { z =>
      val xs = zones(z).indices.filter(_ % 2 == 0).map(zones(z))
      val ys = zones(z).indices.filter(_ % 2 == 1).map(zones(z))
      for {
        ix <- math.floor(xs.min / cell).toLong to math.floor(xs.max / cell).toLong
        iy <- math.floor(ys.min / cell).toLong to math.floor(ys.max / cell).toLong
      } buckets.computeIfAbsent(key(ix, iy), _ => scala.collection.mutable.ArrayBuffer[Int]()) += z
    }
    val out = Array.newBuilder[(Long, Long)]
    var id = 0L
    while (id < shape.probes) {
      val (x, y) = Gen.probe(seed, cl, id)
      val b = buckets.get(key(math.floor(x / cell).toLong, math.floor(y / cell).toLong))
      if (b != null) b.foreach(z => if (inside(zones(z), x, y)) out += ((id, z.toLong)))
      id += 1
    }
    out.result()
  }

  /** Check a `within` result: the brute-forced sample must agree with
    * the bucketed expectation, and the result must equal it as a set of
    * (probe, zone) pairs, total row count included. */
  def checkWithin(seed: Long, shape: Gen.Shape, sample: Array[Long],
      rows: Array[Row]): Seq[String] = {
    val all = withinAll(seed, shape)
    val sampleSet = sample.toSet
    val brute = withinBrute(seed, shape, sample).sorted
    val fromAll = all.filter(p => sampleSet.contains(p._1)).sorted
    val selfCheck =
      if (brute.sameElements(fromAll)) Nil
      else Seq(s"oracle disagrees with itself on the sample (${brute.length} vs ${fromAll.length} pairs)")
    // pairs packed into one sortable long: zone ids stay below 2^24
    def pack(p: Long, z: Long): Long = (p << 24) | z
    def unpack(k: Long): String = s"(probe ${k >>> 24}, zone ${k & 0xffffffL})"
    val got = rows.map(r => pack(r.id, r.ext)).sorted
    val want = all.map { case (p, z) => pack(p, z) }.sorted
    val count =
      if (got.length == want.length) Nil
      else Seq(s"row count ${got.length}, expected ${want.length}")
    val diff =
      if (java.util.Arrays.equals(got, want)) Nil
      else {
        val (g, w) = (got.toSet, want.toSet)
        want.iterator.filterNot(g).take(3).map(k => s"missing pair ${unpack(k)}").toSeq ++
          got.iterator.filterNot(w).take(3).map(k => s"unexpected pair ${unpack(k)}") ++
          (if (g.size != got.length) Seq("duplicate pairs") else Nil)
      }
    selfCheck ++ count ++ diff
  }

  /** Mean-radius haversine distance in metres. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val r = 6371008.8
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * r * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** The spherical haversine and the ellipsoidal distance the library
    * reports differ by at most about 0.5 %; whole-metre rounding adds 1 m. */
  val HaversineRelTol = 0.006

  /**
   * Check a `nearest` result: exactly one row per probe, and for each
   * sampled probe the site with the smallest planar (degree) distance,
   * ties to the smallest site id, found by scanning every site. When
   * `withDist`, the reported metres must match the haversine within
   * [[HaversineRelTol]].
   */
  def checkNearest(seed: Long, shape: Gen.Shape, sample: Array[Long],
      rows: Array[Row], withDist: Boolean): Seq[String] = {
    val byId = rows.groupBy(_.id)
    val count =
      if (rows.length == shape.probes && byId.size == rows.length) Nil
      else Seq(s"${rows.length} rows for ${byId.size} distinct probes, expected ${shape.probes}")
    val wrong = sample.iterator.zip(nearestBrute(seed, shape, sample).iterator).flatMap {
      case (id, (best, metres)) =>
        byId.get(id) match {
          case None => Some(s"probe $id: no row, expected site $best")
          case Some(rs) if rs.length != 1 || rs.head.ext != best =>
            Some(s"probe $id: sites ${rs.map(_.ext).mkString(",")}, expected $best")
          case Some(rs) if withDist && math.abs(rs.head.dist - metres) > HaversineRelTol * metres + 1.0 =>
            Some(s"probe $id: distance ${rs.head.dist} m, haversine $metres m")
          case _ => None
        }
    }.take(3).toSeq
    count ++ wrong
  }

  /** For each probe id: the nearest site by planar (degree) distance,
    * ties to the smallest site id, found by scanning every site, and the
    * haversine metres to it. */
  def nearestBrute(seed: Long, shape: Gen.Shape, ids: Array[Long]): Array[(Long, Double)] = {
    val cl = shape.clustersOf(seed)
    val n = shape.sites.toInt
    val sx = new Array[Double](n); val sy = new Array[Double](n)
    (0 until n).foreach { s => val (x, y) = Gen.site(seed, cl, s); sx(s) = x; sy(s) = y }
    ids.map { id =>
      val (x, y) = Gen.probe(seed, cl, id)
      var best = -1; var bestD = Double.MaxValue
      var s = 0
      while (s < n) {
        val dx = sx(s) - x; val dy = sy(s) - y
        val d = dx * dx + dy * dy
        if (d < bestD) { bestD = d; best = s }
        s += 1
      }
      (best.toLong, haversine(x, y, sx(best), sy(best)))
    }
  }
}
