package graft.join

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions
import graft.spatial.SpatialPredicate

/**
 * Eager-key safety of the condition factoring (r14, ADVICE r13): the
 * factored equi keys / side-only prefilters evaluate EAGERLY over every
 * frame row, while the unfactored path only evaluates the condition on
 * spatial candidate pairs — so only statically throw-free conjuncts may
 * factor ([[PairCondition.neverThrows]]), whatever the ANSI setting. A
 * key that throws (cast overflow, string parse, a UDF) on a row that
 * never pairs must not fail the query; it stays in the full condition
 * instead, restoring the unfactored path byte for byte, on both kernels.
 */
class AnsiFactoringSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "PairCondition.neverThrows"

  it should "whitelist throw-free shapes and reject throwing ones" in {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val i = AttributeReference("i", IntegerType)()
    val l = AttributeReference("l", LongType)()
    val s = AttributeReference("s", StringType)()
    val d = AttributeReference("d", DoubleType)()
    PairCondition.neverThrows(i) shouldBe true
    PairCondition.neverThrows(Literal(42)) shouldBe true
    // % / pmod by a NON-ZERO literal: the one integral arithmetic with
    // no ANSI failure case (Long.MinValue % -1 is 0, unlike division)
    PairCondition.neverThrows(Remainder(l, Literal(4L), EvalMode.ANSI)) shouldBe true
    PairCondition.neverThrows(Pmod(l, Literal(5L), EvalMode.ANSI)) shouldBe true
    PairCondition.neverThrows(Remainder(l, Literal(0L), EvalMode.ANSI)) shouldBe false
    PairCondition.neverThrows(Remainder(l, l, EvalMode.ANSI)) shouldBe false
    // ... or by a foldable, throw-free constant: the analyzer writes
    // `% 4` on a bigint as `% cast(4 as bigint)`
    PairCondition.neverThrows(
      Remainder(l, Cast(Literal(4), LongType), EvalMode.ANSI)) shouldBe true
    PairCondition.neverThrows(
      Remainder(l, Cast(Literal(0), LongType), EvalMode.ANSI)) shouldBe false
    // up-cast widens losslessly (never throws); down-cast / string
    // parse can throw under ANSI
    PairCondition.neverThrows(Cast(i, LongType)) shouldBe true
    PairCondition.neverThrows(Cast(l, IntegerType)) shouldBe false
    PairCondition.neverThrows(Cast(s, IntegerType)) shouldBe false
    // integral add can overflow-throw; double arithmetic is IEEE-total
    PairCondition.neverThrows(Add(i, Literal(1), EvalMode.ANSI)) shouldBe false
    PairCondition.neverThrows(Add(d, Literal(1.0), EvalMode.ANSI)) shouldBe true
    PairCondition.neverThrows(Divide(d, Literal(0.0), EvalMode.ANSI)) shouldBe true
    PairCondition.neverThrows(CreateNamedStruct(Seq(Literal("k"), i))) shouldBe true
    PairCondition.neverThrows(In(i, Seq(Literal(1), Literal(2)))) shouldBe true
  }

  // Binding a condition to a pair of sides is PairCondition.resolve followed by split.
  behavior of "PairCondition.bind"

  it should "factor `%` keys on bigint columns under ANSI" in {
    import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
    import org.apache.spark.sql.types._
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true" // Spark 4 default
    val ls = toAttributes(StructType(Seq(StructField("c_custkey", LongType))))
    val rs = toAttributes(StructType(Seq(StructField("s_suppkey", LongType))))
    val cond = PairCondition.resolve(spark, expr("s_suppkey % 4 = c_custkey % 5"), ls, rs)
    PairCondition.split(cond, ls, rs).equiKeys.size shouldBe 1
  }

  behavior of "grid kernels under ANSI with a throwing key on a never-paired row"

  // Both grid joins run the partitioned exec, which evaluates the
  // condition per candidate pair, as the broadcast kernel does: the
  // unfactored path evaluates it on reachable candidates only, so the
  // factored path must not reach further.

  it should "complete on GridNearestJoin (expanding-ring kernel)" in {
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true" // Spark 4 default
    // a left-side bad row would legitimately throw on both paths. The
    // regression class here is a bad RIGHT row no probe reaches: every
    // probe finds its match near the origin, far closer than the bad
    // candidate, which is indexed but never examined — the unfactored
    // path never evaluates the condition on it, so the factored path
    // must not either (pre-fix, an eager key stamp on the right side
    // threw frame-wide).
    val l = Seq(("a", 0.1, 0.1, 1), ("b", 0.2, 0.3, 2)).toDF("id", "lon", "lat", "code")
    val r = Seq(
      ("p1", 0.15, 0.12, "1"),
      ("p2", 0.22, 0.28, "2"),
      ("badp", 50.0, 50.0, "xx")).toDF("poi_id", "plon", "plat", "pcode")
    val got = GridNearestJoin.nearest(
      l, r,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      condition = Some(expr("CAST(pcode AS INT) = code")))
      .select("id", "poi_id")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    got shouldBe Set(("a", "p1"), ("b", "p2"))
  }

  it should "complete on GridSpatialJoin (withindist)" in {
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true" // Spark 4 default
    // the same bad right row, 7000 km from every probe: never a candidate
    // within 100 km, so the condition never casts its code
    val l = Seq(("a", 0.1, 0.1, 1), ("b", 0.2, 0.3, 2)).toDF("id", "lon", "lat", "code")
    val r = Seq(
      ("p1", 0.15, 0.12, "1"),
      ("p2", 0.22, 0.28, "2"),
      ("badp", 50.0, 50.0, "xx")).toDF("poi_id", "plon", "plat", "pcode")
    val got = GridSpatialJoin.join(
      l, r,
      GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbPoint(col("plon"), col("plat")),
      SpatialPredicate.WithinDist(100000),
      extraCondition = Some(expr("CAST(pcode AS INT) = code")))
      .select("id", "poi_id")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    got shouldBe Set(("a", "p1"), ("b", "p2"))
  }

  behavior of "both kernels with a throwing UDF key on a never-paired row"

  it should "never move the key, with ANSI off" in {
    val prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      // deterministic, but throws on the one far-away right row (badp):
      // no ANSI setting makes a UDF throw-free
      spark.udf.register("graft_throwing_key", (c: Int) =>
        if (c == 99) throw new IllegalStateException("bad key") else c)
      val l = Seq(("a", 0.1, 0.1, 1), ("b", 0.2, 0.3, 2)).toDF("id", "lon", "lat", "code")
      val r = Seq(
        ("p1", 0.15, 0.12, 1),
        ("p2", 0.22, 0.28, 2),
        ("badp", 50.0, 50.0, 99)).toDF("poi_id", "plon", "plat", "pcode")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "poi_id").collect().map(x => (x.getString(0), x.getString(1))).toSet

      // broadcast kernel: withindist 100 km never makes badp a candidate
      r.createOrReplaceTempView("throwing_key_poi")
      def broadcast(cond: String) = pairs(new graft.transformer.BroadcastSpatialJoin()
        .setDataset("throwing_key_poi").setDatasetPoint("plon, plat")
        .setInputPoint("lon, lat").setDataColumns("poi_id")
        .setBroadcast("dataset").setPredicate("withindist 100000")
        .setJoinCondition(cond)
        .transform(l))
      val b = broadcast("graft_throwing_key(right.pcode) = left.code")
      b shouldBe broadcast("graft_throwing_key(right.pcode) - left.code = 0")
      b shouldBe Set(("a", "p1"), ("b", "p2"))

      // grid nearest kernel (as above): badp is never examined
      def ring(cond: String) = pairs(GridNearestJoin.nearest(
        l, r,
        GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbPoint(col("plon"), col("plat")),
        condition = Some(expr(cond))))
      val g = ring("graft_throwing_key(pcode) = code")
      g shouldBe ring("graft_throwing_key(pcode) - code = 0")
      g shouldBe Set(("a", "p1"), ("b", "p2"))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }
}
