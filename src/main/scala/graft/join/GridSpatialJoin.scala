package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.SpatialJoinPlan
import graft.spatial.{SpatialJoinMode, SpatialPredicate}

/**
 * Relation and `withindist` join without broadcasting either side — the
 * 100 TB path (the broadcast kernel needs one side in every executor's
 * memory; this needs neither).
 *
 * One lazy Catalyst plan on the partitioned kernel of
 * [[graft.plans.SpatialJoinPlan]], built as every spatial join is
 * ([[graft.plans.SpatialJoinPlan.build]]), as [[GridNearestJoin]] builds
 * nearest: building the DataFrame starts no job. At execution the right side is cut into
 * spatial leaves sampled from its envelopes; a right row goes to every
 * leaf its envelope meets, a left row to every leaf its search box meets
 * (its envelope, grown by the `withindist` radius), and each leaf
 * indexes its right rows in a flat packed R-tree and refines each probe
 * as the broadcast kernel does (JTS relation, or geodesic distance <=
 * radius). A pair counts only in its reference leaf, so no pair is
 * emitted twice and no global distinct is needed; left, semi and anti
 * are decided once per probe, at its home leaf (see
 * [[graft.plans.PartitionedSpatialJoinExec]]).
 */
object GridSpatialJoin {

  /**
   * @param left         left (iterated-semantics) side
   * @param right        right side; `predicate` evaluates `left op right`
   * @param leftWkb      WKB geometry column for `left` rows
   * @param rightWkb     WKB geometry column for `right` rows
   * @param predicate    within | contains | intersects | overlaps | withindist N
   * @param extraCondition optional extra join condition over the two sides'
   *                     columns, checked per candidate pair as the
   *                     broadcast kernel checks it
   * @param distanceCol  if set, append geodesic centroid metres (Int),
   *                     computed by the join where it emits a pair
   * @param joinType     "inner" (default), "left" (keep match-less left
   *                     rows — null geometry included — with right
   *                     columns + distance nulled), "semi" (left rows
   *                     WITH a match, left schema only) or "anti" (left
   *                     rows WITHOUT one)
   * @return left.* ++ right.* (+ distance) for inner/left; left.* for
   *         semi/anti; column names must be disjoint
   */
  def join(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      predicate: SpatialPredicate,
      extraCondition: Option[Column] = None,
      distanceCol: Option[String] = None,
      joinType: String = "inner"): DataFrame = {
    require(predicate != SpatialPredicate.Nearest,
      "nearest is served by GridNearestJoin.nearest, not GridSpatialJoin.join")
    val mode = SpatialJoinMode.parse(joinType)
    require(!(distanceCol.isDefined && (mode == SpatialJoinMode.Semi || mode == SpatialJoinMode.Anti)),
      "semi/anti grid joins emit the left schema only — no distance column")
    plan(left, right, leftWkb, rightWkb, predicate, 1, None, None, extraCondition, mode, distanceCol)
  }

  /** Both grid entry points: the join of `left` and `right` on the
    * partitioned kernel, as left.* ++ right.* (+ distance, + rank). */
  private[join] def plan(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      predicate: SpatialPredicate,
      k: Int,
      rankCol: Option[String],
      tieBreak: Option[Column],
      condition: Option[Column],
      mode: SpatialJoinMode,
      distanceCol: Option[String]): DataFrame = {
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column names must be disjoint, both sides have: ${dup.mkString(", ")}")
    // nearest's tie order: the tie-break (the right WKB by default), then
    // every right column
    val ties = tieBreak.getOrElse(rightWkb) +: right.queryExecution.analyzed.output.map(ColumnBridge.column)
    val j = SpatialJoinPlan.build(left, right, leftWkb, rightWkb, predicate,
      (l, r) => condition.map(PairCondition.resolve(left.sparkSession, _, l, r)), mode, distanceCol,
      partitioned = true, k, rankCol, ties)
    j.df.select((j.left ++ j.right ++ j.distance ++ j.rank).map(ColumnBridge.column): _*)
  }
}
