package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark

/**
 * [[GatedAnd]] — the order-pinned conjunction behind the grid join's
 * round-14 residual fusion: filter semantics identical to `gate AND
 * pred`, evaluation order guaranteed (gate first, pred skipped unless
 * gate is TRUE), null-in → false-out.
 */
class GatedAndSpec extends AnyFlatSpec with Matchers {

  import spark.implicits._

  behavior of "GatedAnd filter semantics"

  it should "keep exactly the gate=true AND pred=true rows, nulls dropping" in {
    // all 9 (gate, pred) null/false/true combinations
    val df = spark.range(0, 9).select(col("id"),
      when(col("id") % 3 === 1, lit(false))
        .when(col("id") % 3 === 2, lit(true)).as("g"),
      when(col("id") < 3, lit(false))
        .when(col("id") < 6, lit(true)).as("p"))
    // id 5: g = true (5%3==2), p = true (3<=5<6) — the only survivor
    val fused = df.where(GatedAndExpr.gatedAnd(col("g"), col("p")))
      .select("id").as[Long].collect().toSet
    val plain = df.where(col("g") && col("p"))
      .select("id").as[Long].collect().toSet
    fused shouldBe Set(5L)
    fused shouldBe plain
  }

  it should "never evaluate pred when the gate is false (ANSI throw shield)" in {
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true" // Spark 4 default
    // malformed strings sit ONLY on gate-false rows: a fused filter must
    // complete, proving pred is skipped — `g AND pred` gives Catalyst
    // license to reorder, gatedAnd does not
    val df = spark.range(0, 4).select(col("id"),
      (col("id") >= 2).as("g"),
      when(col("id") < 2, lit("not-a-number"))
        .otherwise(col("id").cast("string")).as("s"))
    val got = df.where(GatedAndExpr.gatedAnd(col("g"), expr("CAST(s AS INT) >= 0")))
      .select("id").as[Long].collect().toSet
    got shouldBe Set(2L, 3L)
  }

  it should "agree between interpreted eval and the DataFrame path" in {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BooleanType
    val T = Literal(true); val F = Literal(false)
    val N = Literal(null, BooleanType)
    GatedAnd(T, T).eval(null) shouldBe true
    GatedAnd(T, F).eval(null) shouldBe false
    GatedAnd(T, N).eval(null) shouldBe false
    GatedAnd(F, T).eval(null) shouldBe false
    GatedAnd(N, T).eval(null) shouldBe false
    GatedAnd(T, T).nullable shouldBe false
  }

  behavior of "GridSpatialJoin residual fusion"

  // small band-conditioned intersects grid join: points left, rects right
  private def sides = {
    val l = Seq((1, 0.5, 0.5, 10.0), (2, 1.5, 0.5, 90.0), (3, 5.0, 5.0, 10.0))
      .toDF("cid", "lon", "lat", "c_bal")
    val r = Seq((100, 0.0, 0.0, 2.0, 2.0, 15.0), (200, 4.0, 4.0, 6.0, 6.0, 80.0))
      .toDF("sid", "xmin", "ymin", "xmax", "ymax", "s_bal")
      .withColumn("wkt", concat(lit("POLYGON(("),
        col("xmin"), lit(" "), col("ymin"), lit(","),
        col("xmax"), lit(" "), col("ymin"), lit(","),
        col("xmax"), lit(" "), col("ymax"), lit(","),
        col("xmin"), lit(" "), col("ymax"), lit(","),
        col("xmin"), lit(" "), col("ymin"), lit("))")))
    (l, r)
  }

  private def gridJoin(cond: Option[org.apache.spark.sql.Column]) = {
    val (l, r) = sides
    graft.join.GridSpatialJoin.join(
      l, r, GeoExpressions.wkbPoint(col("lon"), col("lat")),
      GeoExpressions.wkbFromWkt(col("wkt")),
      graft.spatial.SpatialPredicate.Intersects,
      cellDeg = 2.0, extraCondition = cond)
      .select("cid", "sid")
  }

  it should "produce identical rows fused and late-filtered" in {
    val band = col("s_bal").between(col("c_bal") - 10.0, col("c_bal") + 10.0)
    val fused = gridJoin(Some(band))
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSet
    val late = {
      val (l, r) = sides
      graft.join.GridSpatialJoin.join(
        l, r, GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbFromWkt(col("wkt")),
        graft.spatial.SpatialPredicate.Intersects,
        cellDeg = 2.0, extraCondition = None)
        .where(band).select("cid", "sid")
        .collect().map(x => (x.getInt(0), x.getInt(1))).toSet
    }
    // point 1 in rect 100 with |10-15|<=10; point 2 also in rect 100
    // but band-excluded (|90-15|>10); point 3 in rect 200 band-excluded
    // (|10-80|>10)
    fused shouldBe Set((1, 100))
    late shouldBe fused
  }

  it should "disengage fusion for nondeterministic or ANSI-throwing conditions, staying correct" in {
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true" // Spark 4 default
    val (l, r) = sides
    def fusable(c: org.apache.spark.sql.Column) =
      graft.join.PairCondition.factor(spark, c, l.schema, r.schema).fusable
    // nondeterministic: a second per-pair evaluation could flip — must not fuse
    fusable(rand() < 2.0) shouldBe false
    // string→int cast can throw under ANSI — must not fuse when ANSI is on
    fusable(expr("CAST(wkt AS INT) IS NULL")) shouldBe false
    fusable(col("s_bal") >= col("c_bal")) shouldBe true
    // and the join with a non-fusable condition still answers correctly:
    // the always-true condition keeps all three containments (points 1
    // and 2 in rect 100, point 3 in rect 200)
    val got = gridJoin(Some(rand() < 2.0)) // always-true, nondeterministic
      .collect().map(x => (x.getInt(0), x.getInt(1))).toSet
    got shouldBe Set((1, 100), (2, 100), (3, 200))
  }
}
