package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark

/** The custom expressions must be callable as plain SQL functions. */
class GraftExtensionsSpec extends AnyFlatSpec with Matchers {

  behavior of "GraftExtensions SQL surface"

  GraftExtensions.register(spark)

  it should "expose word_shingles and minhash_signature in SQL" in {
    val r = spark.sql(
      "SELECT word_shingles('a b c d', 3) sh, size(minhash_signature(word_shingles('a b c d', 3), 16)) n")
      .head
    r.getSeq[String](0) shouldBe Seq("a b c", "b c d")
    r.getInt(1) shouldBe 16
  }

  it should "expose word_grams (duplicates kept) and run_digests in SQL" in {
    val r = spark.sql(
      """SELECT word_grams('a b a b', 2) g,
        |       run_digests('a b c', 2) d,
        |       unhex(md5(cast('a b' as binary))) d0""".stripMargin).head
    r.getSeq[String](0) shouldBe Seq("a b", "b a", "a b") // set variant would drop the repeat
    val digests = r.getSeq[Array[Byte]](1)
    digests should have size 2
    digests.head shouldBe r.getAs[Array[Byte]](2) // md5 contract matches the built-in
  }

  it should "expose geometry functions in SQL" in {
    val r = spark.sql(
      """SELECT geodesic_meters(wkb_point(1D, 1D), wkb_point(1.1D, 1.1D)) m,
        |       st_distance(wkb_point(0D, 0D), wkb_point(3D, 4D)) d,
        |       st_relates(wkb_point(1.5D, 1.5D),
        |                  wkb_from_wkt('POLYGON((1 1,2 1,2 2,1 2,1 1))'), 'within') w""".stripMargin).head
    r.getInt(0) shouldBe 15689 // the reference's golden geodesic value
    r.getDouble(1) shouldBe 5.0
    r.getBoolean(2) shouldBe true
  }

  it should "expose simhash and vector functions in SQL" in {
    val r = spark.sql(
      """SELECT text_simhash(word_shingles('a b c d', 1)) fp,
        |       vector_dot(array(1D,2D,3D), array(4D,5D,6D)) d,
        |       size(simhash_buckets(array(1D,0D), 4, 2)) nb""".stripMargin).head
    r.getLong(0) should not be 0L
    r.getDouble(1) shouldBe 32.0
    r.getInt(2) shouldBe 2
  }

  it should "expose md5_simhash and the bounded_topk_set aggregate in SQL" in {
    val r = spark.sql(
      """SELECT md5_simhash(word_shingles('a b c d', 1)) fp""".stripMargin).head
    r.getLong(0) should not be 0L
    val agg = spark.sql(
      """SELECT g, bounded_topk_set(v, 2) top FROM VALUES
        |  ('a', 5L), ('a', 1L), ('a', 1L), ('a', 3L) AS t(g, v)
        |GROUP BY g""".stripMargin).head
    agg.getSeq[Long](1) shouldBe Seq(1L, 3L)
  }

  it should "expose md5_lower64, z_value and winnow_digests in SQL" in {
    val r = spark.sql(
      """SELECT md5_lower64('x') h,
        |       z_value(array(3L, 5L), 3) z,
        |       size(winnow_digests('a b c d e f g h i j', 3, 4)) nw""".stripMargin).head
    // md5('x') lower 8 bytes little-endian — any fixed engine agrees
    r.getLong(0) should not be 0L
    r.getLong(1) shouldBe 39L // interleave(011, 101)
    r.getInt(2) should be > 0
  }

  it should "reject non-literal config args with a clear error" in {
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', cast(rand()*3 as int))").collect()
    }
    e.getMessage should include("literal int")
  }
}
