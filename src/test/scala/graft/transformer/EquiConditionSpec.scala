package graft.transformer

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark

/**
 * Equi-conjunct factoring of the extra condition (graft.join.PairCondition,
 * shared by both kernels): on the broadcast kernel a `leftExpr = rightExpr`
 * conjunct hash-partitions the index, making never-matching probes O(1)
 * instead of O(|right|) — the round-12 sf10 find. These specs pin that
 * the FACTORED path is row-identical to the same condition expressed in
 * shapes the factoring cannot touch (one straddling `x - y = 0`, reversed
 * operand order, residual conjuncts, nulls, ties), across
 * inner/left/semi/anti, and that the executed plan really hashes the keys
 * it should and leaves those twins unhashed.
 */
class EquiConditionSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  private def bsj(view: String) = new BroadcastSpatialJoin()
    .setDataset(view).setDatasetPoint("plon, plat").setInputPoint("lon, lat")
    .setDataColumns("poi_id, cat")

  // pois: 12 points in 3 categories (0, 1, null); two EXACT coordinate
  // ties inside category 0 (ids 0 and 6 both at (0, 0))
  private lazy val pois = Seq(
    (0L, java.lang.Long.valueOf(0L), 0.0, 0.0),
    (6L, java.lang.Long.valueOf(0L), 0.0, 0.0),  // tie with id 0
    (1L, java.lang.Long.valueOf(0L), 10.0, 0.0),
    (2L, java.lang.Long.valueOf(1L), 0.5, 0.0),
    (3L, java.lang.Long.valueOf(1L), 11.0, 0.0),
    (4L, null.asInstanceOf[java.lang.Long], 0.1, 0.0), // null cat: `=` never matches
    (5L, java.lang.Long.valueOf(2L), 20.0, 0.0)
  ).toDF("poi_id", "cat", "plon", "plat")

  // inputs: categories 0, 1, 2 and 3 (3 matches NOTHING), plus a null
  private lazy val input = Seq(
    (10L, java.lang.Long.valueOf(0L), 0.2, 0.0),
    (11L, java.lang.Long.valueOf(1L), 0.2, 0.0),
    (12L, java.lang.Long.valueOf(2L), 0.2, 0.0),
    (13L, java.lang.Long.valueOf(3L), 0.2, 0.0), // key with no broadcast rows
    (14L, null.asInstanceOf[java.lang.Long], 0.2, 0.0)
  ).toDF("cid", "ccat", "lon", "lat")

  behavior of "equi-conjunct condition factoring"

  it should "agree with the unfactorable formulation on nearest (inner + ties)" in {
    pois.createOrReplaceTempView("eq_poi_a")
    def run(cond: String): Seq[String] =
      bsj("eq_poi_a").setBroadcast("dataset").setPredicate("nearest")
        .setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    // `=` factors; `x - y = 0` + null guard is the same predicate but
    // cannot factor (one straddling side) — the flat kernel's answer
    val factored = run("right.cat = left.ccat")
    val flat = run(
      "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0")
    factored shouldBe flat
    // tie inside category 0 resolves to the smaller poi_id (min-index
    // rule survives partitioning)
    val catZero = factored.filter(_.startsWith("10|"))
    catZero.size shouldBe 1
    catZero.head.split("\\|")(4) shouldBe "0"
  }

  it should "agree across join types, with unmatched keys O(1)-missing" in {
    pois.createOrReplaceTempView("eq_poi_b")
    def run(jt: String, cond: String, pred: String = "nearest"): Seq[String] =
      bsj("eq_poi_b").setBroadcast("dataset").setPredicate(pred)
        .setJoinType(jt).setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    // nearest decorates 1:1 → inner/left; existence tests use withindist
    for ((jt, pred) <- Seq("inner" -> "nearest", "left" -> "nearest",
        "semi" -> "withindist 2000000", "anti" -> "withindist 2000000")) {
      run(jt, "right.cat = left.ccat", pred) shouldBe run(jt,
        "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0",
        pred)
    }
    // left outer: cid 13 (key 3: no pois) and cid 14 (null key) miss
    val left = run("left", "right.cat = left.ccat")
    left.size shouldBe 5
    left.count(_.split("\\|")(4) == "null") shouldBe 2
  }

  it should "keep non-equi residual conjuncts on the per-candidate path" in {
    pois.createOrReplaceTempView("eq_poi_c")
    def run(cond: String): Seq[String] =
      bsj("eq_poi_c").setBroadcast("dataset").setPredicate("nearest")
        .setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    // equi conjunct + residual range: factored result == flat result
    val factored = run("right.cat = left.ccat and right.poi_id < 5")
    val flat = run(
      "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0 and right.poi_id < 5")
    factored shouldBe flat
    // id 6 (tie, but >= 5) must lose to id 0 via the residual
    factored.filter(_.startsWith("10|")).head.split("\\|")(4) shouldBe "0"
    // reversed operand order factors identically
    run("left.ccat = right.cat and right.poi_id < 5") shouldBe factored
  }

  it should "factor computed keys (the modular gate shape) on withindist too" in {
    pois.createOrReplaceTempView("eq_poi_d")
    def run(cond: String): Seq[String] =
      bsj("eq_poi_d").setBroadcast("dataset")
        .setPredicate("withindist 2000000").setDistColAlias("dm")
        .setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    val factored = run("right.poi_id % 4 = left.cid % 5")
    val flat = run("right.poi_id % 4 - left.cid % 5 = 0")
    factored shouldBe flat
    factored.nonEmpty shouldBe true
  }

  it should "fold multiple equi conjuncts into one composite key" in {
    pois.createOrReplaceTempView("eq_poi_e")
    def run(cond: String): Seq[String] =
      bsj("eq_poi_e").setBroadcast("dataset")
        .setPredicate("withindist 2000000").setDistColAlias("dm")
        .setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    // both equalities factor (composite key); the two unfactorable
    // rewrites below must agree: one with both as `x - y = 0`, one mixed
    // (first factors, second stays residual)
    val both = run("right.cat = left.ccat and right.poi_id % 2 = left.cid % 2")
    val none = run(
      "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0 " +
        "and right.poi_id % 2 - left.cid % 2 = 0")
    val mixed = run(
      "right.cat = left.ccat and right.poi_id % 2 - left.cid % 2 = 0")
    both shouldBe none
    both shouldBe mixed
    both.nonEmpty shouldBe true
  }

  it should "factor identically on the partitioned GRID strategy (nearest + knn + withindist)" in {
    // each grid leaf hashes the keys into per-key sub-trees, as the
    // broadcast index does (graft.plans.IndexedCondition); the
    // flat-formulation twin cannot factor — row sets must match across
    // both strategies and every predicate
    pois.createOrReplaceTempView("eq_poi_g")
    def run(mode: String, pred: String, cond: String, jt: String = "inner",
        knn: Int = 0): Seq[String] = {
      val t = bsj("eq_poi_g").setBroadcast(mode).setPredicate(pred)
        .setJoinType(jt).setJoinCondition(cond)
      (if (knn > 0) t.setGridKnn(knn.toString) else t)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    }
    val factorable = "right.cat = left.ccat and right.poi_id < 5"
    val flat =
      "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0 and right.poi_id < 5"
    for ((pred, jt) <- Seq(("nearest", "inner"), ("nearest", "left"),
        ("withindist 2000000", "inner"))) {
      val g = run("none", pred, factorable, jt)
      g shouldBe run("none", pred, flat, jt)          // grid == unfactorable grid
      g shouldBe run("dataset", pred, factorable, jt) // grid == broadcast kernel
    }
    // kNN through the same operator
    run("none", "nearest", factorable, knn = 2) shouldBe
      run("none", "nearest", flat, knn = 2)
    // a nondeterministic residual plans and runs on both kernels
    for (mode <- Seq("dataset", "none"))
      run(mode, "nearest", factorable + " and rand() < 2.0") shouldBe run(mode, "nearest", factorable)
    // a condition on an external column that dataColumns leaves out: the
    // join reads `cat`, the output does not carry it, whichever kernel runs
    def poiOnly(mode: String): Seq[String] = new BroadcastSpatialJoin()
      .setDataset("eq_poi_g").setDatasetPoint("plon, plat").setInputPoint("lon, lat")
      .setDataColumns("poi_id").setBroadcast(mode).setPredicate("nearest")
      .setJoinCondition(factorable)
      .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    val external = poiOnly("dataset")
    external should not be empty
    external shouldBe poiOnly("none")
    external shouldBe poiOnly("auto")
  }

  it should "factor null-safe equality (<=>) with null keys MATCHING null rows" in {
    pois.createOrReplaceTempView("eq_poi_ns")
    def run(cond: String, jt: String = "inner"): Seq[String] =
      bsj("eq_poi_ns").setBroadcast("dataset").setPredicate("nearest")
        .setJoinType(jt).setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    // the OR formulation is semantically identical but cannot factor
    // (top-level disjunction, no equality conjunct)
    val orTwin = "(right.cat = left.ccat) or (right.cat is null and left.ccat is null)"
    for (jt <- Seq("inner", "left")) {
      val factored = run("right.cat <=> left.ccat", jt)
      factored shouldBe run(orTwin, jt)
      // cid 14 (null ccat) must MATCH poi 4 (null cat) — `<=>` treats
      // null as a real key value, unlike `=`
      factored.filter(_.startsWith("14|")).head.split("\\|")(4) shouldBe "4"
    }
    // and on the GRID strategy: identical rows to the broadcast kernel
    run("right.cat <=> left.ccat") shouldBe
      bsj("eq_poi_ns").setBroadcast("none").setPredicate("nearest")
        .setJoinCondition("right.cat <=> left.ccat")
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
  }

  it should "factor single-sided conjuncts (IN-lists, guards) on both kernels" in {
    pois.createOrReplaceTempView("eq_poi_in")
    def run(mode: String, cond: String, jt: String = "inner"): Seq[String] =
      bsj("eq_poi_in").setBroadcast(mode).setPredicate("nearest")
        .setJoinType(jt).setJoinCondition(cond)
        .transform(input).collect().map(_.mkString("|")).sorted.toSeq
    // right-only IN-list (+ an equi key): the twin ORs in an
    // always-false left-referencing disjunct so nothing can factor
    val inCond = "right.cat in (0, 1) and right.cat = left.ccat"
    val inTwin = "(right.cat in (0, 1) or left.cid < -100) and " +
      "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0"
    // right-only WITHOUT any equi key (single-bucket filtered index)
    val onlyCond = "right.cat in (0, 1)"
    val onlyTwin = "right.cat in (0, 1) or left.cid < -100"
    // left-only guard: probes with ccat >= 2 short-circuit to no-match
    val leftCond = "left.ccat < 2 and right.cat = left.ccat"
    val leftTwin = "(left.ccat < 2 or right.poi_id < -100) and " +
      "right.cat is not null and left.ccat is not null and right.cat - left.ccat = 0"
    for ((c, t) <- Seq(inCond -> inTwin, onlyCond -> onlyTwin, leftCond -> leftTwin);
        jt <- Seq("inner", "left")) {
      run("dataset", c, jt) shouldBe run("dataset", t, jt)
      run("none", c, jt) shouldBe run("none", t, jt)
      run("none", c, jt) shouldBe run("dataset", c, jt)
    }
    // sanity: the IN-restricted join finds matches for cats 0 and 1 only
    val rows = run("dataset", inCond)
    rows.size shouldBe 2
  }

  it should "fall back to the flat path when a factored key THROWS under ANSI" in {
    // Factoring evaluates keys EAGERLY (every broadcast row at index
    // build; every probe row), while the flat kernel only evaluates the
    // condition on tree-candidate pairs. A key expression that can throw
    // under ANSI (a down-cast here) is therefore never factored: the
    // condition stays on the flat path, and a row the flat path never
    // pairs cannot fail the query.
    val prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // poi 2's big value overflows cast-to-int, but it sits 13,000 km
      // from every probe — never a spatial candidate at this radius
      Seq((0L, 0L, 0.0, 0.0), (1L, 1L, 0.5, 0.0),
          (2L, Long.MaxValue, 120.0, 0.0))
        .toDF("poi_id", "big", "plon", "plat")
        .createOrReplaceTempView("eq_poi_ansi")
      // cid 12's ccat overflows the left-side key cast; it is also
      // 11,000 km from every poi — zero candidates, so the flat path
      // never evaluates its condition either
      val in = Seq((10L, 0L, 0.2, 0.0), (11L, 1L, 0.2, 0.0),
        (12L, Long.MaxValue, 100.0, 0.0)).toDF("cid", "ccat", "lon", "lat")
      def run(cond: String): Seq[String] = new BroadcastSpatialJoin()
        .setDataset("eq_poi_ansi").setDatasetPoint("plon, plat")
        .setInputPoint("lon, lat").setDataColumns("poi_id")
        .setBroadcast("dataset").setPredicate("withindist 200000")
        .setJoinCondition(cond)
        .transform(in).collect().map(_.mkString("|")).sorted.toSeq
      // the right-side key would throw on poi 2, the left-side one on
      // cid 12: neither is factored, so neither is ever evaluated there
      val factoredR = run("cast(right.big as int) = left.ccat")
      val flatR = run(
        "right.big is not null and cast(right.big as int) - left.ccat = 0")
      factoredR shouldBe flatR
      factoredR.size shouldBe 2
      val factoredL = run("right.poi_id = cast(left.ccat as int)")
      // cid 10/11's casts are fine and DO match poi 0/1; cid 12's cast
      // would throw but that probe row has no spatial candidate
      val flatL = run(
        "left.ccat is not null and right.poi_id - cast(left.ccat as int) = 0")
      factoredL shouldBe flatL
      factoredL.size shouldBe 2
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  it should "EXTRACT keys from Spark 4 lazy column trees (engagement, not just agreement)" in {
    // the Column API carries column-node trees whose catalyst shape
    // only exists post-analysis — a pattern match on the raw expression
    // silently extracts NOTHING and every agreement test above still
    // passes (round-12 found exactly that); pin extraction directly
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
    import graft.join.PairCondition
    val ls = toAttributes(StructType(Seq(StructField("a", LongType), StructField("x", DoubleType))))
    val rs = toAttributes(StructType(Seq(StructField("b", LongType), StructField("y", DoubleType))))
    def factored(c: org.apache.spark.sql.Column) =
      PairCondition.split(PairCondition.resolve(spark, c, ls, rs), ls, rs)
    // only deterministic, throw-free conjuncts move, whatever the ANSI
    // setting (graft.join.AnsiFactoringSpec)
    def keys(c: org.apache.spark.sql.Column) = factored(c).equiKeys
    keys(col("b") % 4 === col("a") % 5).size shouldBe 1
    keys(col("a") === col("b") && col("b") % 2 === col("a") % 2).size shouldBe 2
    // residual-only / straddling / non-equi conjuncts extract nothing
    keys(col("a") =!= col("b")).size shouldBe 0
    keys(col("a") + col("b") === lit(3)).size shouldBe 0
    // mixed: one factorable + one not
    keys(col("a") === col("b") && col("b") > col("a")).size shouldBe 1
    // nondeterministic keys never factor
    keys(org.apache.spark.sql.functions.rand() * col("a") === col("b")).size shouldBe 0
    // null-safe equality factors too (struct-join semantics match <=>)
    keys(col("a") <=> col("b")).size shouldBe 1
    keys(col("a") <=> col("b") && col("x") === col("y")).size shouldBe 2

    // single-sided extraction: left-only and right-only conjuncts split
    // out; straddling/constant/nondeterministic ones never move
    def sideOnly(c: org.apache.spark.sql.Column) = {
      val f = factored(c)
      (f.leftOnly, f.rightOnly)
    }
    val (lo1, ro1) = sideOnly(col("a").isin(1, 2) && col("b") > 3 && col("a") === col("b"))
    lo1.isDefined shouldBe true
    ro1.isDefined shouldBe true
    val (lo2, ro2) = sideOnly(col("a") === col("b"))
    lo2 shouldBe None
    ro2 shouldBe None
    val (lo3, ro3) = sideOnly(org.apache.spark.sql.functions.rand() < 0.5 && lit(1) === lit(1))
    lo3 shouldBe None
    ro3 shouldBe None
  }

  it should "hash the keys on the executed broadcast exec (engagement, not just agreement)" in {
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true" // Spark 4 default
    Seq((0L, 0L, 0.0, 0.0), (1L, 1L, 0.5, 0.0), (2L, Long.MaxValue, 120.0, 0.0))
      .toDF("poi_id", "big", "plon", "plat")
      .createOrReplaceTempView("eq_poi_keys")
    def hashKeys(cond: String) = {
      val df = new BroadcastSpatialJoin()
        .setDataset("eq_poi_keys").setDatasetPoint("plon, plat")
        .setInputPoint("lon, lat").setDataColumns("poi_id")
        // withindist: poi 2, whose big overflows an int, is never a
        // candidate, so the unfactored condition never throws either
        .setBroadcast("dataset").setPredicate("withindist 200000")
        .setJoinCondition(cond)
        .transform(input)
      df.collect() // an adaptive plan is final once executed
      val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      helper.collectFirst(df.queryExecution.executedPlan) {
        case e: graft.plans.BroadcastSpatialJoinExec => e.hashKeys
      }.get
    }
    // the j1_nearest_left shape on bigint columns: the analyzer writes
    // `% 4` as `% cast(4 as bigint)`, which must still hash
    hashKeys("right.poi_id % 4 = left.cid % 5").size shouldBe 1
    // a down-cast can throw under ANSI: never hashed
    hashKeys("cast(right.big as int) = left.ccat") shouldBe empty
    // the unfactorable twins above: the condition is optimized with the
    // plan, and the optimizer rewrites `not (x != y)` into `x = y`, which
    // hashes; a straddling `x - y = 0` reaches the exec as it was written
    hashKeys("not (right.poi_id % 4 != left.cid % 5)").size shouldBe 1
    hashKeys("right.poi_id % 4 - left.cid % 5 = 0") shouldBe empty
    hashKeys("right.poi_id is not null and left.ccat is not null and " +
      "right.poi_id - left.ccat = 0") shouldBe empty
  }
}
