package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/**
 * SQL-surface registration of the engine's custom Catalyst expressions, so
 * they are callable from `spark.sql` / `expr(...)` like built-ins:
 *
 *   spark.conf  spark.sql.extensions=graft.GraftExtensions   // at session build
 *   — or on a live session: `GraftExtensions.register(spark)`
 *
 * Functions: word_shingles(text, n), minhash_signature(shingles, n),
 * text_simhash(tokens), md5_simhash(tokens), vector_dot(a, b),
 * simhash_buckets(vec, p, t), wkb_from_wkt(wkt), wkb_point(lon, lat),
 * st_distance(l, r), geodesic_meters(l, r), st_relates(l, r,
 * 'within'|...), word_grams(text, n), run_digests(text, k),
 * winnow_digests(text, k, w), md5_lower64(s), z_value(buckets, bits),
 * and the aggregate bounded_topk_set(expr, k).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got $other")
  }
  private def stringArg(e: Expression, fn: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** (identifier, info, builder) triples for injectFunction. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("word_shingles", "word_shingles(text, n) - distinct word n-gram shingles",
      (es: Seq[Expression]) => WordShingles(es(0), intArg(es(1), "word_shingles"))),
    ("word_grams", "word_grams(text, n) - ALL word n-grams in position order (counting variant)",
      (es: Seq[Expression]) => WordShingles(es(0), intArg(es(1), "word_grams"),
        distinct = false)),
    ("run_digests", "run_digests(text, k) - md5 digest per k-token window, position order",
      (es: Seq[Expression]) => RunDigests(es(0), intArg(es(1), "run_digests"))),
    ("minhash_signature", "minhash_signature(shingles, n) - MinHash signature array",
      (es: Seq[Expression]) => MinhashSignature(es(0), intArg(es(1), "minhash_signature"))),
    ("wkb_from_wkt", "wkb_from_wkt(wkt) - parse WKT to WKB geometry",
      (es: Seq[Expression]) => WkbFromWkt(es(0))),
    ("wkb_point", "wkb_point(lon, lat) - WKB point from coordinates",
      (es: Seq[Expression]) => WkbPoint(es(0), es(1))),
    ("st_distance", "st_distance(l, r) - JTS coordinate distance between WKB geometries",
      (es: Seq[Expression]) => StDistance(es(0), es(1))),
    ("geodesic_meters", "geodesic_meters(l, r) - WGS84 geodesic centroid metres",
      (es: Seq[Expression]) => GeodesicMeters(es(0), es(1))),
    ("st_relates", "st_relates(l, r, 'within'|'contains'|'intersects'|'overlaps')",
      (es: Seq[Expression]) => StRelates(es(0), es(1), stringArg(es(2), "st_relates"))),
    ("text_simhash", "text_simhash(tokens) - 64-bit document SimHash fingerprint",
      (es: Seq[Expression]) => TextSimhash(es(0))),
    ("vector_dot", "vector_dot(a, b) - sequential-fold dot product of double arrays",
      (es: Seq[Expression]) => VectorDot(es(0), es(1))),
    ("simhash_buckets", "simhash_buckets(vec, planes, tables) - LSH bucket ids",
      (es: Seq[Expression]) => SimhashBuckets(es(0),
        intArg(es(1), "simhash_buckets"), intArg(es(2), "simhash_buckets"))),
    ("md5_simhash", "md5_simhash(tokens) - 64-bit SimHash over md5 token hashes (oracle-replayable)",
      (es: Seq[Expression]) => Md5Simhash(es(0))),
    ("winnow_digests", "winnow_digests(text, k, w) - winnowing fingerprint (pos, digest) structs",
      (es: Seq[Expression]) => WinnowDigests(es(0),
        intArg(es(1), "winnow_digests"), intArg(es(2), "winnow_digests"))),
    ("md5_lower64", "md5_lower64(s) - little-endian uint64 of md5 bytes 8..15 (md5_number_lower parity)",
      (es: Seq[Expression]) => Md5Lower64(es(0))),
    ("z_value", "z_value(buckets, bits) - Morton interleave of bucketed dimensions",
      (es: Seq[Expression]) => ZValue(es(0), intArg(es(1), "z_value"))),
    // aggregate: the analyzer wraps a bare AggregateFunction returned by
    // a function builder into an AggregateExpression
    ("bounded_topk_set", "bounded_topk_set(expr, k) - ascending array of the k smallest distinct values",
      (es: Seq[Expression]) => BoundedTopKSet(es(0), intArg(es(1), "bounded_topk_set")))
  ).map { case (name, usage, builder) =>
    (FunctionIdentifier(name), info(name, usage), builder)
  }

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
}
