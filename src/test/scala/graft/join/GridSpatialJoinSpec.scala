package graft.join

import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.transformer.BroadcastSpatialJoin

/** The grid (partitioned) join must produce exactly the broadcast
  * kernel's results for every non-nearest predicate — two physical
  * strategies, one semantics. */
class GridSpatialJoinSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "GridSpatialJoin via transformer broadcast=none"

  private def pts(n: Int, idPrefix: String): DataFrame = {
    // deterministic scatter over ~3 grid cells incl. cell-boundary crossers
    (0 until n).map { i =>
      (s"$idPrefix$i", (i * 37 % 300) / 100.0, (i * 53 % 300) / 100.0)
    }.toDF("id", "lon", "lat")
  }

  /** `body` with the grid nearest join cutting at most `leaves` leaves
    * (its leaf count follows the shuffle width). */
  private def withLeaves[T](leaves: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, leaves.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def run(predicate: String, mode: String, dist: Boolean = false,
      joinType: String = "inner"): Set[String] = {
    val input = pts(40, "i")
    val data = pts(25, "d").toDF("poi_id", "lon", "lat")
    data.createOrReplaceTempView(s"grid_poi_${predicate.takeWhile(_.isLetter)}_$mode")
    val t = new BroadcastSpatialJoin()
      .setDataset(s"grid_poi_${predicate.takeWhile(_.isLetter)}_$mode")
      .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate(predicate).setBroadcast(mode)
      .setJoinType(joinType)
    val out = if (dist) t.setDistColAlias("dm") else t
    out.transform(input)
      .collect().map(r => r.mkString("|")).toSet
  }

  /** Each join type and a grid join cut into one and into seven leaves
    * (the leaf count follows the shuffle width, read at execution):
    * `check(joinType, leaves)` compares the two kernels. */
  private def joinTypesAndLeaves(check: (String, Int) => Unit): Unit =
    for (jt <- Seq("inner", "left", "semi", "anti"); leaves <- Seq(1, 7))
      withClue(s"joinType=$jt leaves=$leaves: ") { check(jt, leaves) }

  private def existence(joinType: String) = joinType == "semi" || joinType == "anti"

  it should "match the broadcast kernel on withindist (+ distance column)" in {
    run("withindist 80000", "none", dist = true) shouldBe
      run("withindist 80000", "dataset", dist = true)
    joinTypesAndLeaves { (jt, leaves) =>
      val dist = !existence(jt)
      withLeaves(leaves)(run("withindist 80000", "none", dist, jt)) shouldBe
        run("withindist 80000", "dataset", dist, jt)
    }
  }

  it should "match the broadcast kernel on withindist near the pole and the antimeridian" in {
    // latitude 89: the search box spans every longitude; longitude
    // +-179.9: probes and sites on both sides of the antimeridian, so
    // both kernels must search the box's copy across +-180 too
    val rnd = new scala.util.Random(23)
    def near(n: Int, p: String) = (0 until n).map { i =>
      val (lon, lat) =
        if (i % 2 == 0) (rnd.nextDouble() * 360 - 180, 88.5 + rnd.nextDouble() * 1.2)
        else (if (i % 4 == 1) 179.9 else -179.9) + rnd.nextDouble() * 0.08 - 0.04 ->
          (rnd.nextDouble() * 2 - 1)
      (s"$p$i", lon, lat)
    }
    val probes = near(60, "i")
    val sites = near(40, "d")
    val input = probes.toDF("id", "lon", "lat")
    sites.toDF("poi_id", "lon", "lat").createOrReplaceTempView("grid_poi_edges")
    def go(mode: String, jt: String) = {
      val t = new BroadcastSpatialJoin().setDataset("grid_poi_edges")
        .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("poi_id").setPredicate("withindist 80000").setBroadcast(mode)
        .setJoinType(jt)
      (if (existence(jt)) t else t.setDistColAlias("dm")).transform(input)
    }
    // every pair within 80 km by the kernels' own geodesic refine, with
    // whether it lies across +-180, and what each join type makes of
    // them, as "id|poi_id|dm" or "id"
    val pairs = for ((id, lon, lat) <- probes; (sid, slon, slat) <- sites;
      d = math.round(graft.spatial.Geodesic.inverseMeters(lat, lon, slat, slon)).toInt
      if d <= 80000) yield (id, sid, d, lon * slon < -100.0 * 100.0)
    pairs.count(_._4) should be > 0
    val matched = pairs.map(_._1).toSet
    val unmatched = probes.map(_._1).toSet -- matched
    def oracle(jt: String): Set[String] = jt match {
      case "inner" => pairs.map { case (id, sid, d, _) => s"$id|$sid|$d" }.toSet
      case "left" => oracle("inner") ++ unmatched.map(id => s"$id|null|null")
      case "semi" => matched
      case "anti" => unmatched
    }
    def got(df: DataFrame, jt: String): Set[String] =
      (if (existence(jt)) df.select("id") else df.select("id", "poi_id", "dm"))
        .collect().map(_.mkString("|")).toSet
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).toSet
    for (jt <- Seq("inner", "left", "semi", "anti")) withClue(s"joinType=$jt broadcast: ") {
      got(go("dataset", jt), jt) shouldBe oracle(jt)
    }
    joinTypesAndLeaves { (jt, leaves) =>
      val grid = withLeaves(leaves)(go("none", jt))
      withLeaves(leaves)(got(grid, jt)) shouldBe oracle(jt)
      withLeaves(leaves)(rows(grid)) shouldBe rows(go("dataset", jt))
    }
  }

  it should "match the broadcast kernel on every predicate with shared column names" in {
    // both sides carry lon, lat and wkt, the condition names both lat
    // columns and the external lat is appended too: both kernels bind
    // every column by attribute
    def squares(n: Int, p: String, bigEvery: Int) = (0 until n).map { i =>
      val lon = (i * 37 % 300) / 100.0; val lat = (i * 53 % 300) / 100.0
      val h = if (i % bigEvery == 0) 0.35 else 0.08
      val ring = Seq((lon - h, lat - h), (lon + h, lat - h), (lon + h, lat + h),
        (lon - h, lat + h), (lon - h, lat - h))
      (s"$p$i", lon, lat, ring.map { case (x, y) => s"$x $y" }.mkString("POLYGON((", ", ", "))"))
    }
    val input = squares(40, "i", 3).toDF("id", "lon", "lat", "wkt")
    squares(25, "d", 2).toDF("poi_id", "lon", "lat", "wkt").createOrReplaceTempView("grid_poi_shared")
    def go(mode: String, pred: String, jt: String) = {
      val t = new BroadcastSpatialJoin().setDataset("grid_poi_shared")
        .setDataColumns("poi_id, lat as poi_lat").setPredicate(pred).setBroadcast(mode)
        .setJoinType(jt).setJoinCondition("right.lat <= left.lat + 1.0")
      // nearest on the points: squares tie at distance 0, and the two
      // kernels break ties differently
      val geoms =
        if (pred == "nearest") t.setInputPoint("lon, lat").setDatasetPoint("lon, lat")
        else t.setInputWKT("wkt").setDatasetWKT("wkt")
      (if (existence(jt)) geoms else geoms.setDistColAlias("dm"))
        .transform(input).collect().map(_.mkString("|")).toSet
    }
    for (pred <- Seq("within", "contains", "intersects", "overlaps", "withindist 60000", "nearest"))
      withClue(s"$pred: ") {
        go("dataset", pred, "inner") should not be empty
        joinTypesAndLeaves { (jt, leaves) =>
          // nearest decorates rows: no semi or anti
          if (pred != "nearest" || !existence(jt))
            withLeaves(leaves)(go("none", pred, jt)) shouldBe go("dataset", pred, jt)
        }
      }
  }

  it should "spread a single-partition side when the other side broadcasts" in {
    // the degenerate mid-scale layout: a 1-partition (single small file)
    // left against a small right side. Kept on one task, the whole
    // probe -> refine pipeline would run on one core; the partitioned
    // exec shuffles the left rows to the right side's leaves, so the
    // join runs as wide as the leaves. Constructed with a 1-slice range,
    // a genuine scan layout.
    import org.apache.spark.sql.functions._
    import graft.functions.GeoExpressions
    import graft.spatial.SpatialPredicate
    val left = spark.range(0, 2000, 1, 1) // ONE input partition
      .select(col("id").as("lid"),
        (col("id") % 50 / 20.0).as("llon"), (col("id") % 40 / 16.0).as("llat"))
    val right = (0 until 30).map(i => (s"R$i", (i % 6) * 0.5, (i / 6) * 0.5))
      .toDF("rid", "rlon", "rlat")
    val out = GridSpatialJoin.join(
      left, right,
      GeoExpressions.wkbPoint(col("llon"), col("llat")),
      GeoExpressions.wkbPoint(col("rlon"), col("rlat")),
      SpatialPredicate.WithinDist(40000))
    out.count() should be > 0L
    // the executed probe side must run wider than the 1-partition scan
    out.rdd.getNumPartitions should be > 1
  }

  it should "match the broadcast kernel on withindist with a condition" in {
    val input = pts(40, "i")
    val data = pts(25, "d").toDF("poi_id", "lon", "lat")
    data.createOrReplaceTempView("grid_poi_cond")
    def go(mode: String, jt: String = "inner") = new BroadcastSpatialJoin()
      .setDataset("grid_poi_cond")
      .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate("withindist 120000")
      .setJoinCondition("right.poi_id != left.id").setBroadcast(mode)
      .setJoinType(jt)
      .transform(input).collect().map(_.mkString("|")).toSet
    go("none") shouldBe go("dataset")
    joinTypesAndLeaves { (jt, leaves) =>
      withLeaves(leaves)(go("none", jt)) shouldBe go("dataset", jt)
    }
  }

  it should "match the broadcast kernel on polygon predicates" in {
    val input = pts(40, "i")
    // WKT triangles around each point
    val data = pts(25, "d").toDF("poi_id", "lon", "lat").selectExpr("poi_id",
      "concat('POLYGON((', lon-0.4, ' ', lat-0.3, ',', lon+0.4, ' ', lat-0.3, ',', lon, ' ', lat+0.4, ',', lon-0.4, ' ', lat-0.3, '))') as wkt")
    data.createOrReplaceTempView("grid_poi_poly")
    def go(mode: String, pred: String, jt: String = "inner") = new BroadcastSpatialJoin()
      .setDataset("grid_poi_poly")
      .setDatasetWKT("wkt").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate(pred).setBroadcast(mode)
      .setJoinType(jt)
      .transform(input).collect().map(_.mkString("|")).toSet
    // point within polygon (iterated = input under broadcast=dataset)
    go("none", "within") shouldBe go("dataset", "within")
    go("none", "within").nonEmpty shouldBe true
    go("none", "intersects") shouldBe go("dataset", "intersects")
    for (pred <- Seq("within", "intersects")) withClue(s"$pred: ") {
      joinTypesAndLeaves { (jt, leaves) =>
        withLeaves(leaves)(go("none", pred, jt)) shouldBe go("dataset", pred, jt)
      }
    }
  }

  it should "match the broadcast kernel on nearest (expanding-ring grid search)" in {
    val input = pts(60, "i")
    val data = pts(30, "d").toDF("poi_id", "lon", "lat")
    data.createOrReplaceTempView("grid_poi_nearest")
    def go(mode: String) = new BroadcastSpatialJoin().setDataset("grid_poi_nearest")
      .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate("nearest").setBroadcast(mode)
      .transform(input).collect().map(_.mkString("|")).toSet
    val grid = go("none")
    grid should have size 60
    grid shouldBe go("dataset")
  }

  it should "equal the brute-force argmin on scattered points with seven leaves" in {
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    val input = pts(80, "i")
    val data = pts(40, "d").toDF("poi_id", "plon", "plat")
    val grid = withLeaves(7)(GridNearestJoin.nearest(
      input, data,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      tieBreak = Some(col("poi_id")))
      .select("id", "poi_id").collect().map(r => (r.getString(0), r.getString(1))).toSet)
    // brute-force argmin as oracle
    val brute = input.crossJoin(data)
      .withColumn("d2", (col("lon") - col("plon")) * (col("lon") - col("plon"))
        + (col("lat") - col("plat")) * (col("lat") - col("plat")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("d2"), col("poi_id"))))
      .where(col("rn") === 1)
      .select("id", "poi_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
    grid shouldBe brute
  }

  it should "equal brute force under randomized data and kernel configs" in {
    // seeded-random scatter (clusters + uniform noise + empty regions) x
    // leaf counts: every combination must equal the brute-force argmin
    // exactly
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    for (seed <- Seq(1, 2)) {
      val rnd = new scala.util.Random(seed)
      def scatter(n: Int, p: String) = (0 until n).map { i =>
        val clustered = i % 3 != 0
        val (cx, cy) = if (clustered) (10.0 * (i % 4), 5.0 * (i % 3)) else (0.0, 0.0)
        (s"$p$i",
          cx + rnd.nextDouble() * (if (clustered) 0.8 else 60.0) - 10.0,
          cy + rnd.nextDouble() * (if (clustered) 0.8 else 30.0) - 5.0)
      }.toDF(if (p == "d") "poi_id" else "id",
        if (p == "d") "plon" else "lon", if (p == "d") "plat" else "lat")
      val input = scatter(150, "i")
      val data = scatter(60, "d")
      val brute = input.crossJoin(data)
        .withColumn("d2", (col("lon") - col("plon")) * (col("lon") - col("plon"))
          + (col("lat") - col("plat")) * (col("lat") - col("plat")))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")
            .orderBy(col("d2"), col("poi_id"))))
        .where(col("rn") === 1)
        .select("id", "poi_id").collect().map(r => (r.getString(0), r.getString(1))).toSet
      for (leaves <- Seq(1, 2, 4, 7)) {
        val got = withLeaves(leaves)(GridNearestJoin.nearest(
          input, data,
          GeoExpressions.wkbPoint(col("lon"), col("lat")),
          GeoExpressions.wkbPoint(col("plon"), col("plat")),
          tieBreak = Some(col("poi_id")))
          .select("id", "poi_id").collect().map(r => (r.getString(0), r.getString(1))).toSet)
        withClue(s"seed=$seed leaves=$leaves: ") {
          got shouldBe brute
        }
      }
    }
  }

  it should "equal brute-force top-k under all three kernel regimes (knearest)" in {
    // k = 3 with one, four and seven leaves — ranked rows must equal the
    // brute-force row_number() <= 3 exactly, including ranks
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    val rnd = new scala.util.Random(5)
    def scatter(n: Int, p: String) = (0 until n).map { i =>
      val clustered = i % 3 != 0
      val (cx, cy) = if (clustered) (10.0 * (i % 4), 5.0 * (i % 3)) else (0.0, 0.0)
      (s"$p$i",
        cx + rnd.nextDouble() * (if (clustered) 0.8 else 60.0) - 10.0,
        cy + rnd.nextDouble() * (if (clustered) 0.8 else 30.0) - 5.0)
    }.toDF(if (p == "d") "poi_id" else "id",
      if (p == "d") "plon" else "lon", if (p == "d") "plat" else "lat")
    val input = scatter(120, "i")
    val data = scatter(50, "d")
    val brute = input.crossJoin(data)
      .withColumn("d2", (col("lon") - col("plon")) * (col("lon") - col("plon"))
        + (col("lat") - col("plat")) * (col("lat") - col("plat")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("d2"), col("poi_id"))))
      .where(col("rn") <= 3)
      .select("id", "poi_id", "rn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2).toLong)).toSet
    for (leaves <- Seq(1, 4, 7)) {
      val got = withLeaves(leaves)(GridNearestJoin.knearest(
        input, data,
        GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbPoint(col("plon"), col("plat")),
        k = 3, tieBreak = Some(col("poi_id")))
        .select("id", "poi_id", "knn_rank")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
      withClue(s"leaves=$leaves: ") {
        got shouldBe brute
      }
    }
  }

  it should "apply the extra condition inside kNN ranking (nearest-satisfying, k > 1)" in {
    // kNN + condition: the k ranked rows per input must be the k nearest
    // rows SATISFYING the condition (candidates failing it never consume
    // a rank). One leaf and seven leaves must agree with the filtered
    // brute force exactly, rank for rank.
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    val rnd = new scala.util.Random(11)
    val input = (0 until 80).map(i =>
      (s"i$i", rnd.nextDouble() * 40 - 20, rnd.nextDouble() * 20 - 10, i % 3))
      .toDF("id", "lon", "lat", "grp")
    val data = (0 until 40).map(i =>
      (s"d$i", rnd.nextDouble() * 40 - 20, rnd.nextDouble() * 20 - 10, i % 3))
      .toDF("poi_id", "plon", "plat", "pgrp")
    val brute = input.crossJoin(data)
      .where(col("grp") =!= col("pgrp"))
      .withColumn("d2", (col("lon") - col("plon")) * (col("lon") - col("plon"))
        + (col("lat") - col("plat")) * (col("lat") - col("plat")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("d2"), col("poi_id"))))
      .where(col("rn") <= 2)
      .select("id", "poi_id", "rn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2).toLong)).toSet
    for (leaves <- Seq(1, 7)) {
      val got = withLeaves(leaves)(GridNearestJoin.knearest(
        input, data,
        GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbPoint(col("plon"), col("plat")),
        k = 2, tieBreak = Some(col("poi_id")),
        condition = Some(col("grp") =!= col("pgrp")))
        .select("id", "poi_id", "knn_rank")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
      withClue(s"leaves=$leaves: ") { got shouldBe brute }
    }
  }

  it should "expose kNN through the transformer (gridKnn param)" in {
    import org.apache.spark.sql.functions.col
    val input = pts(30, "i")
    val data = pts(12, "d").toDF("poi_id", "plon", "plat")
      .withColumnsRenamed(Map("plon" -> "lon", "plat" -> "lat"))
    data.createOrReplaceTempView("grid_knn_poi")
    val t = new BroadcastSpatialJoin()
      .setDataset("grid_knn_poi").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate("nearest").setBroadcast("none")
      .setGridKnn("3")
    // static schema carries the trailing knn_rank long
    t.transformSchema(input.schema).fieldNames.last shouldBe "knn_rank"
    val got = t.transform(input)
      .select("id", "poi_id", "knn_rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // order by sqrt(d2), not d2: the engine compares JTS distances
    // (= sqrt doubles), and two d2 values differing in the last ulp can
    // collapse to the SAME sqrt — a tie the engine then breaks by key
    val brute = input.crossJoin(data.toDF("poi_id", "plon", "plat"))
      .withColumn("d2", (col("lon") - col("plon")) * (col("lon") - col("plon"))
        + (col("lat") - col("plat")) * (col("lat") - col("plat")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(org.apache.spark.sql.functions.sqrt(col("d2")), col("poi_id"))))
      .where(col("rn") <= 3)
      .collect().map(r => (r.getAs[String]("id"), r.getAs[String]("poi_id"),
        r.getAs[Int]("rn").toLong)).toSet
    got shouldBe brute
    // invalid combos fail fast
    intercept[IllegalArgumentException] {
      new BroadcastSpatialJoin().setDataset("grid_knn_poi")
        .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("poi_id").setPredicate("nearest")
        .setBroadcast("input").setGridKnn("3").transform(input)
    }
    intercept[IllegalArgumentException] {
      new BroadcastSpatialJoin().setDataset("grid_knn_poi")
        .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("poi_id").setPredicate("intersects")
        .setBroadcast("none").setGridKnn("3").transform(input)
    }
  }

  it should "plan one partitioned exec and never a cartesian or nested-loop pass" in {
    // neither side is broadcast and no pair set is enumerated: the whole
    // join is one PartitionedSpatialJoinExec over the two scans
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    val input = pts(200, "i")
    val data = pts(40, "d").toDF("poi_id", "plon", "plat")
    val out = GridNearestJoin.nearest(
      input, data,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      tieBreak = Some(col("poi_id")))
    out.count() shouldBe 200
    val plan = out.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("PartitionedSpatialJoin")
      plan should not include "BroadcastNestedLoopJoin"
      plan should not include "CartesianProduct"
      plan should not include "Aggregate"
    }
  }

  it should "emit all available ranked rows when the right side has fewer than k" in {
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    val input = pts(5, "i")
    val data = pts(2, "d").toDF("poi_id", "plon", "plat")
    val got = GridNearestJoin.knearest(
      input, data,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      k = 3, tieBreak = Some(col("poi_id")))
      .select("id", "poi_id", "knn_rank").collect()
    got.length shouldBe 10 // 5 left rows x only 2 candidates each
    got.map(_.getLong(2)).toSet shouldBe Set(1L, 2L)
  }

  it should "floor the derived cell size at the mean geometry extent" in {
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    // 100 polygons ~0.5 deg wide whose centers cluster within ~0.1 deg:
    // center density alone would derive a ~0.01-deg cell and explode
    // every polygon into ~2500 bin rows; the mean-extent floor keeps the
    // per-geometry fan-out O(1)
    val polys = (0 until 100).map { i =>
      val x = (i % 10) * 0.01; val y = (i / 10) * 0.01
      (s"p$i", s"POLYGON(($x $y,${x + 0.5} $y,${x + 0.5} ${y + 0.5},$x ${y + 0.5},$x $y))")
    }.toDF("id", "wkt")
    val cell = GridNearestJoin.autoCellDeg(polys, GeoExpressions.wkbFromWkt(col("wkt")))
    cell should be >= 0.5
    // point data is unaffected: density continues to drive the size
    val pointsDf = pts(100, "q")
    val pcell = GridNearestJoin.autoCellDeg(pointsDf,
      GeoExpressions.wkbPoint(col("lon"), col("lat")))
    pcell should be < 0.5
    // degenerate sides: empty and single-geometry both get 1 degree
    GridNearestJoin.autoCellDeg(polys.limit(0),
      GeoExpressions.wkbFromWkt(col("wkt"))) shouldBe 1.0
    GridNearestJoin.autoCellDeg(polys.limit(1),
      GeoExpressions.wkbFromWkt(col("wkt"))) shouldBe 1.0
  }

  it should "match the broadcast kernel on nearest with an extra condition" in {
    val input = pts(60, "i")
    val data = pts(30, "d").toDF("poi_id", "lon", "lat")
    data.createOrReplaceTempView("grid_poi_nearest_cond")
    // the condition diverts some rows from their unconditioned nearest:
    // the nearest SATISFYING candidate must win in both strategies
    def go(mode: String) = new BroadcastSpatialJoin().setDataset("grid_poi_nearest_cond")
      .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate("nearest").setBroadcast(mode)
      .setJoinCondition("substring(right.poi_id, 2) != substring(left.id, 2)")
      .transform(input).collect().map(_.mkString("|")).toSet
    val grid = go("none")
    grid should have size 60
    grid shouldBe go("dataset")
  }

  it should "match the broadcast kernel on nearest with polygon (WKT) input" in {
    // non-point left rows: envelope-center binning + per-row margin
    val input = pts(40, "i").selectExpr("id",
      "concat('POLYGON((', lon-0.3, ' ', lat-0.2, ',', lon+0.3, ' ', lat-0.2, ',', lon, ' ', lat+0.3, ',', lon-0.3, ' ', lat-0.2, '))') as wkt")
    val data = pts(25, "d").toDF("poi_id", "lon", "lat")
    data.createOrReplaceTempView("grid_poi_nearest_wkt")
    def go(mode: String) = new BroadcastSpatialJoin().setDataset("grid_poi_nearest_wkt")
      .setDatasetPoint("lon, lat").setInputWKT("wkt")
      .setDataColumns("poi_id").setPredicate("nearest").setBroadcast(mode)
      .transform(input).collect().map(_.mkString("|")).toSet
    val grid = go("none")
    grid should have size 40
    grid shouldBe go("dataset")
  }

  it should "run nearest as two Spark jobs: the leaf sample and the action" in {
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoExpressions
    val sc = spark.sparkContext
    // AQE splits one action into a job per shuffle stage — disable it so
    // jobs == actions and the count is meaningful; auto-broadcast off so
    // no planner-version-dependent broadcast-exchange collect jobs ride
    // along (the count then covers only the operator's own jobs)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val input = pts(50, "i")
      val data = pts(30, "d").toDF("poi_id", "plon", "plat")
      sc.setJobGroup("gnj-jobs", "grid nearest job count", interruptOnCancel = false)
      val out = GridNearestJoin.nearest(
        input, data,
        GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbPoint(col("plon"), col("plat")),
        tieBreak = Some(col("poi_id")))
      sc.statusTracker.getJobIdsForGroup("gnj-jobs") shouldBe empty // lazy
      out.count() shouldBe 50
      sc.clearJobGroup()
      // the right side's envelope sample, then the count: both shuffles,
      // the forwarded second pass and the merge are stages of one job
      sc.statusTracker.getJobIdsForGroup("gnj-jobs").length shouldBe 2
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  it should "spread a hot spot over more than one leaf and equal brute force" in {
    // EVERY right row inside one 1-degree square (a mega-city candidate
    // table) joined by many left rows in the same square. The leaves are
    // cut from the right rows' own sample, so the hot spot splits: the
    // work spreads over more than one leaf and task, and the results
    // stay exact
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.functions.GeoExpressions
    import graft.plans.PartitionedSpatialJoinExec
    import graft.spatial.SpatialPredicate
    val left = (0 until 3000).map { i =>
      (s"L$i", 0.1 + (i % 50) * 0.015, 0.1 + (i / 50) * 0.012, "x" * 200)
    }.toDF("lid", "llon", "llat", "pad")
    val right = (0 until 120).map { i =>
      (s"R$i", 0.15 + (i % 12) * 0.06, 0.15 + (i / 12) * 0.07)
    }.toDF("rid", "rlon", "rlat")
    val out = GridSpatialJoin.join(
      left, right,
      GeoExpressions.wkbPoint(col("llon"), col("llat")),
      GeoExpressions.wkbPoint(col("rlon"), col("rlat")),
      SpatialPredicate.WithinDist(30000))
      .select("lid", "rid")
    val rows = out.collect()
    // exactness first: equals the brute-force refine
    val brute = left.crossJoin(right)
      .where(GeoExpressions.geodesicMeters(
        GeoExpressions.wkbPoint(col("llon"), col("llat")),
        GeoExpressions.wkbPoint(col("rlon"), col("rlat"))) <= 30000)
      .select("lid", "rid").collect()
    rows.map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      brute.map(r => (r.getString(0), r.getString(1))).toSet
    rows.length shouldBe brute.length
    rows.length should be > 0
    // and the work spread: more than one leaf, output from more than one task
    val leaves = new AdaptiveSparkPlanHelper {}.collectFirst(out.queryExecution.executedPlan) {
      case e: PartitionedSpatialJoinExec => e.metrics("leaves").value
    }.get
    leaves should be > 1L
    out.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0) should be > 1
  }

  it should "fall back to an exhaustive pass for isolated points" in {
    import spark.implicits._
    // one candidate very far away: every ring misses, fallback must find it
    val input = Seq(("i0", 0.5, 0.5), ("i1", 1.5, 1.5)).toDF("id", "lon", "lat")
    val data = Seq(("far", 55.0, 40.0)).toDF("poi_id", "plon", "plat")
    data.createOrReplaceTempView("grid_poi_far")
    val out = new BroadcastSpatialJoin().setDataset("grid_poi_far")
      .setDatasetPoint("plon, plat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setPredicate("nearest").setBroadcast("none")
      .transform(input)
    out.select("id", "poi_id").collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("i0", "far"), ("i1", "far"))
  }

  /** A row of the brute-force table: id, lon, lat, WKT, weight, group. */
  private type Rec = (String, Option[Double], Option[Double], String, Int, Int)

  it should "equal a brute-force nested loop on every predicate, join type, distance and condition" in {
    // both kernels share one leaf join, so each is checked against a
    // nested loop over JTS and Geodesic, not against the other. Every
    // side holds a null row, a POLYGON EMPTY row and a NaN lon/lat row;
    // seeded coordinates give no two sites the same distance from a probe
    import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
    import org.locationtech.jts.io.WKTReader
    import graft.spatial.Geodesic
    val rnd = new scala.util.Random(15)
    def side(n: Int, p: String, h: Double): Seq[Rec] = (0 until n).map { i =>
      // a few rows near +-180, on both sides of it, for withindist
      val (x, y) =
        if (i % 7 == 3) ((if (i % 2 == 0) 179.7 else -179.7) + rnd.nextDouble() * 0.2 - 0.1, rnd.nextDouble())
        else (rnd.nextDouble() * 3, rnd.nextDouble() * 3)
      val r = h * (0.5 + rnd.nextDouble())
      val wkt = if (i % 3 == 0) s"POINT ($x $y)" else Seq((x - r, y - r), (x + r, y - r), (x + r, y + r),
        (x - r, y + r), (x - r, y - r)).map { case (a, b) => s"$a $b" }.mkString("POLYGON ((", ", ", "))")
      (s"$p$i", Some(x), Some(y), wkt, i * 7 % 23, i % 3): Rec
    } ++ Seq[Rec]((s"${p}null", None, None, null, 1, 1),
      (s"${p}empty", Some(Double.NaN), Some(Double.NaN), "POLYGON EMPTY", 2, 2),
      (s"${p}nan", Some(Double.NaN), Some(0.5), "POINT (1 1)", 3, 0))
    val probes = side(30, "i", 0.3)
    val sites = side(24, "d", 0.5)
    val input = probes.toDF("id", "lon", "lat", "wkt", "w", "g")
    sites.toDF("poi_id", "lon", "lat", "wkt", "w", "g").createOrReplaceTempView("grid_poi_brute")
    val condition = "right.g = left.g AND right.w < left.w + 12"
    def passes(l: Rec, r: Rec) = r._6 == l._6 && r._5 < l._5 + 12

    val gf = new GeometryFactory()
    def geom(r: Rec, wkt: Boolean): Geometry =
      if (wkt) Option(r._4).map(new WKTReader(gf).read).filterNot(_.isEmpty).orNull
      else if (r._2.forall(_.isNaN) || r._3.forall(_.isNaN)) null
      else gf.createPoint(new Coordinate(r._2.get, r._3.get))
    // per predicate: (input WKT?, dataset WKT?, left op right)
    val preds: Seq[(String, Boolean, Boolean, (Geometry, Geometry) => Boolean)] = Seq(
      ("within", false, true, (l, r) => l.within(r)),
      ("contains", true, false, (l, r) => l.contains(r)),
      ("intersects", true, true, (l, r) => l.intersects(r)),
      ("withindist 80000", false, false, (l, r) => Geodesic.centroidDistance(l, r) <= 80000),
      ("nearest", false, false, null))
    var crossing = 0
    for ((pred, inWkt, dsWkt, op) <- preds; cond <- Seq(false, true)) {
      // the oracle: each probe's (site, metres) pairs
      val pairs: Map[String, Seq[(String, Int)]] = probes.map { l =>
        val gl = geom(l, inWkt)
        val ok = sites.filter(r => geom(r, dsWkt) != null && gl != null && (!cond || passes(l, r)))
        val hit =
          if (op != null) ok.filter(r => op(gl, geom(r, dsWkt)))
          else ok.sortBy(r => gl.distance(geom(r, dsWkt))).take(1)
        if (pred.startsWith("withindist")) crossing += hit.count(r => l._2.get * r._2.get < -100.0 * 100.0)
        l._1 -> hit.map(r => (r._1, Geodesic.centroidDistance(gl, geom(r, dsWkt))))
      }.toMap
      val joinTypes = if (op == null) Seq("inner", "left") else Seq("inner", "left", "semi", "anti")
      for (jt <- joinTypes; dist <- if (existence(jt)) Seq(false) else Seq(false, true)) {
        val want: Set[String] = jt match {
          case "semi" => pairs.filter(_._2.nonEmpty).keySet
          case "anti" => pairs.filter(_._2.isEmpty).keySet
          case _ => pairs.toSeq.flatMap { case (id, hs) =>
            val rows = hs.map { case (sid, d) => s"$id|$sid" + (if (dist) s"|$d" else "") }
            if (rows.isEmpty && jt == "left") Seq(s"$id|null" + (if (dist) "|null" else "")) else rows
          }.toSet
        }
        withClue(s"$pred joinType=$jt cond=$cond oracle: ")(want should not be empty)
        def go(mode: String): Set[String] = {
          val t = new BroadcastSpatialJoin().setDataset("grid_poi_brute")
            .setDataColumns("poi_id").setPredicate(pred).setBroadcast(mode).setJoinType(jt)
          val geoms = (if (inWkt) t.setInputWKT("wkt") else t.setInputPoint("lon, lat"))
          val all = if (dsWkt) geoms.setDatasetWKT("wkt") else geoms.setDatasetPoint("lon, lat")
          val withCond = if (cond) all.setJoinCondition(condition) else all
          val cols = if (existence(jt)) Seq("id") else Seq("id", "poi_id") ++ (if (dist) Seq("dm") else Nil)
          (if (dist) withCond.setDistColAlias("dm") else withCond).transform(input)
            .select(cols.head, cols.tail: _*).collect().map(_.mkString("|")).toSet
        }
        withClue(s"$pred joinType=$jt dist=$dist cond=$cond broadcast=external: ") {
          go("external") shouldBe want
        }
        for (leaves <- Seq(1, 7))
          withClue(s"$pred joinType=$jt dist=$dist cond=$cond broadcast=none leaves=$leaves: ") {
            withLeaves(leaves)(go("none")) shouldBe want
          }
      }
    }
    crossing should be > 0 // withindist pairs across +-180
  }
}
