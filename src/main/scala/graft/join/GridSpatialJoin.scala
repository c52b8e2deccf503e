package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.LongType

import graft.functions.GeoExpressions
import graft.plans.{PartitionedSpatialJoinPlan, SpatialJoinStrategy}
import graft.spatial.{SpatialJoinMode, SpatialPredicate}

/**
 * Relation and `withindist` join without broadcasting either side — the
 * 100 TB path (the broadcast kernel needs one side in every executor's
 * memory; this needs neither).
 *
 * One lazy Catalyst plan ([[graft.plans.PartitionedSpatialJoinPlan]]),
 * the operator [[GridNearestJoin]] builds for nearest: building the
 * DataFrame starts no job. At execution the right side is cut into
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
   * @param distanceCol  if set, append geodesic centroid metres (Int)
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

  /** The plan both grid entry points build: the two sides with their WKB
    * (and, for nearest, the tie-break) as working columns, the condition
    * bound over them, projected back to the callers' columns (+ distance,
    * + rank). */
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
    // the working columns carry the __g_ prefix and are added with
    // withColumn — a same-named user column would be silently
    // overwritten: collide loudly
    val reservedClash = (left.columns ++ right.columns).filter(_.startsWith("__g_"))
    require(reservedClash.isEmpty,
      s"column names ${reservedClash.mkString(", ")} are reserved " +
        "(__g_ prefix) by the grid spatial joins")

    val spark = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lw = "__g_lwkb"; val rw = "__g_rwkb"; val tb = "__g_tb"
    val nearest = predicate == SpatialPredicate.Nearest
    val l = left.withColumn(lw, leftWkb)
    val r0 = right.withColumn(rw, rightWkb)
    // nearest's default tie-break = WKB bytes (deterministic; pass an
    // explicit orderable column to control tie order, e.g. a right-side key)
    val r = if (nearest) r0.withColumn(tb, tieBreak.getOrElse(col(rw).cast("string"))) else r0
    val split = condition.map(c => PairCondition.bind(spark, c, l.schema, r.schema))

    SpatialJoinStrategy.register(spark)
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String) = plan.output.find(_.name == name).get
    val tieOrder = if (nearest) attr(rp, tb) +: right.columns.toSeq.map(attr(rp, _)) else Nil
    val rank = rankCol.map(AttributeReference(_, LongType, nullable = false)())
    val joined = DatasetBridge.ofRows(spark, PartitionedSpatialJoinPlan(lp, rp,
      attr(lp, lw), attr(rp, rw), predicate, tieOrder, k, split, mode, rank))
    val existence = mode == SpatialJoinMode.Semi || mode == SpatialJoinMode.Anti
    val withDist = distanceCol.fold(joined)(name =>
      joined.withColumn(name, GeoExpressions.geodesicMeters(col(lw), col(rw))))
    withDist.select((left.columns.toSeq ++ (if (existence) Nil else right.columns.toSeq) ++
      distanceCol ++ rankCol).map(col): _*)
  }
}
