package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Range (interval) join: every (point row, interval row) pair with
 * `lo <= v <= hi` (inclusive, SQL-BETWEEN semantics), without a
 * cartesian product and without broadcasting either side.
 *
 * Algorithm (bucket PBSM):
 *  1. points map to the single fixed-width bucket containing their
 *     value; intervals explode to every bucket they overlap;
 *  2. shuffle equi-join on the bucket id (AQE skew split / broadcast /
 *     everything Catalyst does to equi-joins applies);
 *  3. exact refine `v between lo and hi` on the original values.
 * A pair meets in EXACTLY the point's bucket, so no dedup pass is
 * needed. Shuffle volume: O(|P| + |I| · span/bucketWidth); pick
 * `bucketWidth` near the typical interval span (or use [[autoWidth]]) —
 * wide buckets inflate candidates per bucket, narrow ones inflate the
 * interval fan-out. Bucket ids derive from a double view of the values;
 * the REFINE compares the original (untouched) columns, so double
 * rounding can only cost a candidate co-location never correctness —
 * bucket boundaries are computed on the same doubles both sides.
 *
 * Fan-out bound: a single interval spanning B buckets explodes to B
 * rows, so one domain-spanning outlier (a sentinel [0, MAX_LONG) row, a
 * corrupt bound) would otherwise manufacture `span/bucketWidth`
 * shuffle rows on its own — unbounded by either input's size. Intervals
 * wider than `maxBucketsPerInterval` buckets therefore skip the explode
 * entirely and join through a BROADCAST side-channel with the exact
 * BETWEEN condition; the two channels partition the interval set, so
 * pairs still meet exactly once. The wide set is small by construction
 * in any sane workload (each member overlaps > cap·width of the value
 * domain, and its matches are output-sized anyway); under AQE (default
 * on) an EMPTY wide set is observed at runtime and the broadcast join
 * collapses to an empty relation before the points side is ever
 * re-scanned, so the guard is free unless it actually fires.
 *
 * The classic uses: band joins (`a.v BETWEEN b.v - eps AND b.v + eps`),
 * IP-range lookups, histogram-bin assignment, time-slot matching.
 */
object RangeJoin {

  /** Bucket width from interval statistics: one column-pruned agg pass.
    * Wide enough that the mean interval spans O(1) buckets, no narrower
    * than 1/target of the value domain. Degenerate inputs get 1.0.
    * NOTE: runs a Spark job (an aggregate + head) at CALL time — one
    * slim stats pass, not lazy like the join itself. */
  def autoWidth(intervals: DataFrame, loCol: Column, hiCol: Column,
      targetBuckets: Double = 4096.0): Double = {
    val row = intervals
      .select(loCol.cast("double").as("lo"), hiCol.cast("double").as("hi"))
      .where(col("lo").isNotNull && col("hi").isNotNull && col("lo") <= col("hi"))
      .agg(avg(col("hi") - col("lo")), min(col("lo")), max(col("hi")), count(lit(1)))
      .head()
    if (row.getLong(3) == 0L || row.isNullAt(0)) 1.0
    else {
      val meanSpan = math.max(row.getDouble(0), 1e-12)
      val domain = math.max(row.getDouble(2) - row.getDouble(1), 1e-12)
      math.max(meanSpan, domain / math.max(targetBuckets, 1.0))
    }
  }

  /**
   * @param points      side carrying the probed value
   * @param intervals   side carrying [lo, hi]; rows with null/inverted
   *                    bounds drop (inner semantics)
   * @param pointCol    value column/expression over `points`
   * @param loCol,hiCol bound columns/expressions over `intervals`
   * @param bucketWidth fixed bucket width (> 0); see [[autoWidth]]
   * @param maxBucketsPerInterval fan-out cap: intervals spanning more
   *                    buckets than this join via the broadcast
   *                    side-channel instead of exploding (see scaladoc)
   * @param joinType    `"inner"` (default) or `"left"`. Left-outer
   *                    costs NO extra shuffle: a point lives in exactly
   *                    ONE bucket, so the narrow channel itself runs as
   *                    a left join (misses surface as null interval
   *                    sides in place), and a narrow-miss only needs a
   *                    map-side BROADCAST anti-probe of the wide set
   *                    before it is declared unmatched — multiplicities
   *                    are exact without row ids. Points with a NULL
   *                    probe value are unmatched by definition (SQL
   *                    comparison semantics) and come back with null
   *                    interval columns.
   * @return points.* ++ intervals.* — column names must be disjoint
   */
  def pointInInterval(
      points: DataFrame, intervals: DataFrame,
      pointCol: Column, loCol: Column, hiCol: Column,
      bucketWidth: Double,
      maxBucketsPerInterval: Int = 4096,
      joinType: String = "inner"): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval >= 1,
      s"maxBucketsPerInterval must be >= 1, got $maxBucketsPerInterval")
    require(Seq("inner", "left").contains(joinType),
      s"joinType must be 'inner' or 'left', got '$joinType'")
    val dup = points.columns.toSet.intersect(intervals.columns.toSet)
    require(dup.isEmpty, s"column names must be disjoint, both sides have: ${dup.mkString(", ")}")

    val v = "__rj_v"; val lo = "__rj_lo"; val hi = "__rj_hi"
    val b = "__rj_b"; val bi = "__rj_bi"
    val (p0, i0) = JoinLayout.balance(points, intervals)
    val pv = p0.withColumn(v, pointCol).where(col(v).isNotNull)
    val p = pv.withColumn(b, floor(col(v).cast("double") / bucketWidth).cast("long"))
    val i = i0.withColumn(lo, loCol).withColumn(hi, hiCol)
      .where(col(lo).isNotNull && col(hi).isNotNull && col(lo) <= col(hi))
    val bLo = floor(col(lo).cast("double") / bucketWidth).cast("long")
    val bHi = floor(col(hi).cast("double") / bucketWidth).cast("long")
    // bucket span minus one: an interval covering (bHi - bLo + 1) buckets
    // explodes iff that count stays within the cap
    val spanB = bHi - bLo
    val iNarrow = i.where(spanB < maxBucketsPerInterval)
      .withColumn(bi, explode(sequence(bLo, bHi)))
    val iWide = i.where(spanB >= maxBucketsPerInterval)
    val valid = col(v) >= col(lo) && col(v) <= col(hi)
    if (joinType == "inner") {
      val narrow = p.join(iNarrow, col(b) === col(bi) && valid)
        .drop(v, lo, hi, b, bi)
      val wide = pv.join(broadcast(iWide), valid).drop(v, lo, hi)
      narrow.unionByName(wide)
    } else {
      // narrow channel AS the left join: matched rows keep their
      // interval side, misses carry a null bi (exploded rows always
      // have bi set, so null-ness IS the miss flag)
      val narrowAll = p.join(iNarrow, col(b) === col(bi) && valid, "left")
      val narrowHit = narrowAll.where(col(bi).isNotNull).drop(v, lo, hi, b, bi)
      // every point also meets the wide set (hits are additive)
      val wideHit = pv.join(broadcast(iWide), valid).drop(v, lo, hi)
      // a true miss missed BOTH channels; null-valued points skipped
      // the probe entirely and are misses by SQL comparison semantics
      val nullIv = intervals.schema.fields.toSeq.map(f =>
        lit(null).cast(f.dataType).as(f.name))
      val misses = narrowAll.where(col(bi).isNull)
        .select((points.columns.map(col) :+ col(v)).toSeq: _*)
        .join(broadcast(iWide), valid, "left_anti")
        .select(points.columns.map(col): _*)
        .unionByName(p0.where(pointCol.isNull).select(points.columns.map(col): _*))
        .select(points.columns.map(col) ++ nullIv: _*)
      narrowHit.unionByName(wideHit).unionByName(misses)
    }
  }

  /**
   * Interval × interval OVERLAP join: every (left row, right row) pair
   * whose closed intervals intersect — `aLo <= bHi AND bLo <= aHi`
   * (touching endpoints match, SQL OVERLAPS-with-inclusive-ends
   * semantics). The third member of the temporal-join family
   * ([[AsOfJoin]] = latest-at-or-before, [[pointInInterval]] = point
   * containment): meeting/interval intersection, reservation conflicts,
   * time-range co-occurrence.
   *
   * Algorithm — the same bucket PBSM, both sides exploding to the
   * buckets they overlap and equi-joining on the bucket id. A candidate
   * pair shares every bucket its intersection covers, so the classic
   * PBSM dedup rule keeps exactly one copy WITHOUT a distinct pass: the
   * pair is counted only in the FIRST shared bucket,
   * `b == greatest(floor(aLo/w), floor(bLo/w))` — a map-side filter on
   * columns already present in the joined row.
   *
   * Fan-out bound, per side: intervals spanning more than
   * `maxBucketsPerInterval` buckets skip the explode and meet the OTHER
   * side through a broadcast side-channel with the exact overlap
   * condition. The three channels partition the pair space exactly
   * (narrow×narrow bucketed; wide-left × ALL right; narrow-left ×
   * wide-right), so no pair is lost or doubled. Wide sets are small by
   * construction (each member covers > cap·width of the domain) and
   * empty wide relations collapse under AQE before costing anything.
   *
   * @param left,right  interval-carrying sides; rows with null/inverted
   *                    bounds drop (inner semantics)
   * @param leftLo,leftHi,rightLo,rightHi bound columns/expressions
   * @param bucketWidth fixed bucket width (> 0); [[autoWidth]] on the
   *                    union of both sides' spans is the derived choice
   * @return left.* ++ right.* — column names must be disjoint
   */
  def overlapJoin(
      left: DataFrame, right: DataFrame,
      leftLo: Column, leftHi: Column, rightLo: Column, rightHi: Column,
      bucketWidth: Double,
      maxBucketsPerInterval: Int = 4096): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxBucketsPerInterval >= 1,
      s"maxBucketsPerInterval must be >= 1, got $maxBucketsPerInterval")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column names must be disjoint, both sides have: ${dup.mkString(", ")}")

    val aLo = "__oj_alo"; val aHi = "__oj_ahi"; val bLo = "__oj_blo"; val bHi = "__oj_bhi"
    val b = "__oj_b"
    val (l0, r0) = JoinLayout.balance(left, right)
    val a = l0.withColumn(aLo, leftLo).withColumn(aHi, leftHi)
      .where(col(aLo).isNotNull && col(aHi).isNotNull && col(aLo) <= col(aHi))
    val bb = r0.withColumn(bLo, rightLo).withColumn(bHi, rightHi)
      .where(col(bLo).isNotNull && col(bHi).isNotNull && col(bLo) <= col(bHi))
    def bkt(c: String): Column = floor(col(c).cast("double") / bucketWidth).cast("long")
    val overlapExact = col(aLo) <= col(bHi) && col(bLo) <= col(aHi)

    val aSpan = bkt(aHi) - bkt(aLo)
    val bSpan = bkt(bHi) - bkt(bLo)
    val aNarrow = a.where(aSpan < maxBucketsPerInterval)
    val bNarrow = bb.where(bSpan < maxBucketsPerInterval)
    // narrow × narrow: bucketed, dedup by the first-shared-bucket rule
    val bucketed = aNarrow.withColumn(b, explode(sequence(bkt(aLo), bkt(aHi))))
      .join(bNarrow.withColumn(b, explode(sequence(bkt(bLo), bkt(bHi)))), b)
      .where(overlapExact && col(b) === greatest(bkt(aLo), bkt(bLo)))
      .drop(b)
    // wide-left meets EVERYTHING right; wide-right meets only narrow-left
    val wideA = bb.join(broadcast(a.where(aSpan >= maxBucketsPerInterval)), overlapExact)
    val wideB = aNarrow.join(broadcast(bb.where(bSpan >= maxBucketsPerInterval)), overlapExact)
    bucketed.unionByName(wideA.select(bucketed.columns.map(col).toIndexedSeq: _*))
      .unionByName(wideB.select(bucketed.columns.map(col).toIndexedSeq: _*))
      .drop(aLo, aHi, bLo, bHi)
  }

  /**
   * LEFT-outer [[overlapJoin]]: every left interval, its overlapping
   * rights if any — misses keep the left row with null right columns.
   *
   * Unlike [[pointInInterval]]'s free left join (a point lives in ONE
   * bucket), a left interval explodes to SEVERAL buckets, so a miss
   * cannot be read off any single bucket's left join — it is the
   * absence of a match in EVERY bucket plus the wide channel. The
   * operator therefore tags the left side with a synthetic row id and
   * `localCheckpoint`s it (ids must be stable across the two uses),
   * runs the inner join, and anti-joins the ids: one materialization of the left +
   * one id-keyed anti shuffle is the price of outer semantics on a
   * both-sides-explode join. Left rows with null/inverted bounds are
   * misses by definition (they never enter the inner join).
   */
  def overlapJoinLeft(
      left: DataFrame, right: DataFrame,
      leftLo: Column, leftHi: Column, rightLo: Column, rightHi: Column,
      bucketWidth: Double,
      maxBucketsPerInterval: Int = 4096): DataFrame = {
    val lid = "__oj_lid"
    require(!left.columns.contains(lid) && !right.columns.contains(lid),
      s"`$lid` column name is reserved")
    val tagged = left.withColumn(lid, monotonically_increasing_id())
      .localCheckpoint(false)
    val inner = overlapJoin(tagged, right, leftLo, leftHi, rightLo, rightHi,
      bucketWidth, maxBucketsPerInterval)
    val nullR = right.schema.fields.toSeq.map(f =>
      lit(null).cast(f.dataType).as(f.name))
    val misses = tagged
      .join(inner.select(col(lid)).distinct(), Seq(lid), "left_anti")
      .select(left.columns.map(col) ++ nullR: _*)
    inner.drop(lid).unionByName(misses)
  }
}
