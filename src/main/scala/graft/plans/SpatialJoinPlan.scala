package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeReference, AttributeSet, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, SupportsNonDeterministicExpression}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.join.PairCondition
import graft.spatial.{SpatialJoinMode, SpatialPredicate}

/**
 * Catalyst-native spatial join: one logical node for both kernels, built
 * by [[SpatialJoinPlan.build]] and planned by [[SpatialJoinStrategy]], so
 * a join is ONE plan end to end — no RDD drop-out, no `createDataFrame`
 * barrier (the reference re-enters SQL with an opaque RDD scan, hiding
 * everything from the optimizer; SURVEY §4).
 *
 * `predicate` evaluates `left op right`. Output by `mode`
 * (graft.spatial.SpatialJoinMode): Inner = left.output ++ right.output
 * (++ distance) (++ rank); LeftOuter keeps a left row without a match
 * (null or empty geometry included) once, with the right side, the
 * distance and the rank nulled under the standard outer nullability
 * widening; Semi/Anti = left.output only, the rows with (without) a
 * match.
 *
 * The node reads the two WKB attributes, the tie order and the
 * condition's attributes, and produces the distance and the rank, so
 * Catalyst's column pruning drops every other child column that the
 * output does not keep.
 *
 * @param condition the extra condition (graft.join.PairCondition) over
 *                  the children's attributes, as Catalyst's `Join` holds
 *                  its condition; the planner factors it
 *                  ([[SpatialJoinStrategy]])
 * @param partitioned [[PartitionedSpatialJoinExec]] runs the join (neither
 *                  side is broadcast), else [[BroadcastSpatialJoinExec]]
 *                  (the right side is collected, indexed on the driver and
 *                  broadcast; the left side streams)
 * @param distAttr  whole geodesic metres between the two centroids of an
 *                  output pair (Int), filled in by the kernel
 * @param tieOrder  partitioned nearest only: right attributes that order
 *                  rows at equal distance, ascending, nulls first
 * @param k         partitioned nearest only: rows per left row
 * @param rankAttr  partitioned nearest only: each row's 1-based rank
 */
case class SpatialJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftWkb: Attribute,
    rightWkb: Attribute,
    predicate: SpatialPredicate,
    condition: Option[Expression],
    mode: SpatialJoinMode,
    partitioned: Boolean,
    distAttr: Option[AttributeReference],
    tieOrder: Seq[Attribute] = Nil,
    k: Int = 1,
    rankAttr: Option[AttributeReference] = None)
  extends BinaryNode with SupportsNonDeterministicExpression {

  import SpatialJoinMode._
  require(!(distAttr.isDefined && (mode == Semi || mode == Anti)),
    "semi/anti spatial joins emit the left schema only — no distance column")
  require(k >= 1, s"k must be >= 1, got $k")
  require((k == 1 && rankAttr.isEmpty && tieOrder.isEmpty) ||
    (partitioned && predicate == SpatialPredicate.Nearest),
    "k, the rank column and the tie order are for the partitioned nearest join only")
  require(!partitioned || predicate != SpatialPredicate.Nearest ||
    mode == Inner || mode == LeftOuter,
    s"the partitioned nearest join joins inner or left, got ${mode.name}")

  override def output: Seq[Attribute] =
    SpatialJoinPlan.output(left.output, right.output, mode, distAttr, rankAttr)

  override def producedAttributes: AttributeSet = AttributeSet(distAttr ++ rankAttr)

  // the kernels evaluate the condition per candidate pair, as a Filter
  // evaluates its condition per row
  override def allowNonDeterministicExpression: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SpatialJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** A built spatial join: its frame, and in the frame's output the
  * callers' columns of each side, the distance and the rank. `right`,
  * `distance` and `rank` are empty for a semi or anti join. The frame
  * also holds the working columns; project by attribute. */
final case class SpatialJoin(
    df: DataFrame,
    left: Seq[Attribute],
    right: Seq[Attribute],
    distance: Option[Attribute],
    rank: Option[Attribute])

object SpatialJoinPlan {

  /** The output of the node and of both execs (see the class doc). */
  private[plans] def output(left: Seq[Attribute], right: Seq[Attribute], mode: SpatialJoinMode,
      distAttr: Option[Attribute], rankAttr: Option[Attribute]): Seq[Attribute] = mode match {
    case SpatialJoinMode.Semi | SpatialJoinMode.Anti => left
    case SpatialJoinMode.LeftOuter =>
      left ++ (right ++ distAttr ++ rankAttr).map(_.withNullability(true))
    case SpatialJoinMode.Inner => left ++ right ++ distAttr ++ rankAttr
  }

  /**
   * The one builder of a spatial join: `left op right` as one
   * [[SpatialJoinPlan]].
   *
   * The WKB columns (and the tie order) are resolved over their frames:
   * a column of the frame is used in place, any other expression is
   * appended as a working column, once however often it is given (a tie
   * order may name the right WKB). Everything is bound by exprId, so a
   * working column never replaces or shadows a column of the callers,
   * whatever its name, and the sides may share column names. When both
   * sides stem from one plan, the right side's columns are re-aliased
   * with fresh exprIds.
   *
   * @param condition   the extra condition over the two frames' columns
   *                    (their attributes, in the frames' order)
   * @param distance    the name of a distance column to append
   * @param partitioned the partitioned kernel, else the broadcast one
   * @param k           partitioned nearest: rows per left row
   * @param rank        partitioned nearest: the name of a rank column
   * @param tieOrder    partitioned nearest (required there): the whole
   *                    order of `right`'s rows at equal distance,
   *                    ascending, nulls first; rows equal under it are
   *                    ranked in no set order, so a caller names every
   *                    column its output shows, or a key
   */
  def build(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      predicate: SpatialPredicate,
      condition: (Seq[Attribute], Seq[Attribute]) => Option[Expression],
      mode: SpatialJoinMode,
      distance: Option[String],
      partitioned: Boolean,
      k: Int = 1,
      rank: Option[String] = None,
      tieOrder: Seq[Column] = Nil): SpatialJoin = {
    val spark = left.sparkSession.asInstanceOf[SparkSession]
    val ranked = partitioned && predicate == SpatialPredicate.Nearest
    require(!ranked || tieOrder.nonEmpty, "the partitioned nearest join needs a tie order")
    val (lp, leftCols, Seq(lw)) = withColumns(left, Seq(leftWkb))
    val (rp0, rightCols0, rw0 +: ties) = withColumns(right, rightWkb +: (if (ranked) tieOrder else Nil))
    // self-join: downstream by-attribute resolution would collapse the
    // sides onto one another
    val (rp, fresh) =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) (rp0, identity[Attribute] _)
      else {
        val p = Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
        val m = AttributeMap(rp0.output.zip(p.output))
        (p, (a: Attribute) => m(a))
      }
    val rightCols = rightCols0.map(fresh)
    val distAttr = distance.map(AttributeReference(_, IntegerType, nullable = false)())
    val rankAttr = rank.map(AttributeReference(_, LongType, nullable = false)())
    val node = SpatialJoinPlan(lp, rp, lw, fresh(rw0), predicate, condition(leftCols, rightCols),
      mode, partitioned, distAttr, ties.map(fresh), k, rankAttr)
    SpatialJoinStrategy.register(spark)
    val out = node.output
    def in(attrs: Seq[Attribute]): Seq[Attribute] = {
      val ids = attrs.map(_.exprId).toSet
      out.filter(a => ids(a.exprId))
    }
    SpatialJoin(DatasetBridge.ofRows(spark, node), in(leftCols), in(rightCols),
      in(distAttr.toSeq).headOption, in(rankAttr.toSeq).headOption)
  }

  /** `df`'s plan with `cols` resolved over it: the plan, `df`'s own
    * columns and the attributes of `cols` (see [[build]]). */
  private def withColumns(df: DataFrame, cols: Seq[Column]): (LogicalPlan, Seq[Attribute], Seq[Attribute]) =
    df.select(cols: _*).queryExecution.analyzed match {
      case Project(list, child) =>
        // an expression given again stands for its first working column
        def body(e: NamedExpression): Expression = e match { case Alias(c, _) => c; case _ => e }
        val attrs = list.map(e => list.find(f => body(f).semanticEquals(body(e))).get.toAttribute)
        val added = list.filter(e => !child.outputSet.contains(e.toAttribute) && attrs.contains(e.toAttribute))
        (if (added.isEmpty) child else Project(child.output ++ added, child), child.output, attrs)
      case other => throw new IllegalArgumentException(
        s"spatial join columns must be row-wise expressions, got ${other.nodeName}")
    }
}

/** Planner strategy, installed via `spark.experimental.extraStrategies`:
  * [[SpatialJoinPlan.build]] registers it on the session. */
object SpatialJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: SpatialJoinPlan =>
      val split = p.condition.map(PairCondition.split(_, p.left.output, p.right.output))
      if (p.partitioned)
        PartitionedSpatialJoinExec(planLater(p.left), planLater(p.right),
          p.leftWkb, p.rightWkb, p.predicate, p.tieOrder, p.k, split, p.mode,
          p.distAttr, p.rankAttr) :: Nil
      else
        BroadcastSpatialJoinExec(planLater(p.left), planLater(p.right),
          p.leftWkb, p.rightWkb, p.predicate, split, p.distAttr, p.mode) :: Nil
    case _ => Nil
  }

  /** Registers the strategy on the session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(this)) spark.experimental.extraStrategies = cur :+ this
  }
}
