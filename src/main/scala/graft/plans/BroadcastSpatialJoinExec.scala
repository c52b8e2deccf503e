package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

import graft.join.PairCondition
import graft.spatial.SpatialPredicate

/**
 * The broadcast kernel of [[SpatialJoinPlan]]. Left = iterated side
 * (streamed, partitioning preserved), right = broadcast side, shipped
 * once per plan as primitive arrays:
 *
 *  1. One collect job packs the right rows where they are: each task
 *     copies its rows' `UnsafeRow` bytes back to back into bounded byte
 *     chunks ([[PackedRows]]). The driver keeps the chunks in partition
 *     order, so row `i` is the `i`-th row `executeCollect` would give,
 *     and nearest breaks ties on the same row; it builds no row object.
 *  2. The driver indexes the rows' geometries, read through one reused
 *     view row, in one flat packed R-tree ([[FlatSpatialIndex]]).
 *  3. It broadcasts the rows and the index together. Neither holds a
 *     per-row object, so serializing the broadcast copies a few large
 *     arrays. Spark's `BroadcastExchangeExec` is not used: it decodes
 *     every collected row on the driver.
 *
 * Each probe task joins its left rows against the whole right side in
 * one [[Leaf]], the leaf join the partitioned exec runs per KD leaf:
 * every probe is at home, nearest is k = 1 with no forwarded hits, and
 * the left rows carry no probe id. Output as the logical node's; the
 * distance is filled in where a row is emitted.
 */
case class BroadcastSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftWkb: Attribute,
    rightWkb: Attribute,
    predicate: SpatialPredicate,
    condition: Option[PairCondition.Split],
    distAttr: Option[AttributeReference],
    mode: graft.spatial.SpatialJoinMode = graft.spatial.SpatialJoinMode.Inner)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    SpatialJoinPlan.output(left.output, right.output, mode, distAttr, None)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastSpatialJoinExec =
    copy(left = newLeft, right = newRight)

  /** Taken on the driver, once per plan: `collectTime` (the collect job
    * and gathering its chunks), `indexBuildTime`, `broadcastTime`,
    * `dataSize` (the packed right rows' bytes) and `indexedRows`; the
    * first three and `dataSize` as Spark's `BroadcastExchangeExec` names
    * and keeps them. The rest add up over the probe tasks. `candidates`
    * and `refines` are the [[Leaf]]'s [[SpatialProbe]] counters. */
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "collectTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to collect"),
    "indexBuildTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index build time"),
    "broadcastTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to broadcast"),
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "indexedRows" -> SQLMetrics.createMetric(sparkContext, "number of indexed rows"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "number of candidates"),
    "refines" -> SQLMetrics.createMetric(sparkContext, "number of refines"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** The equi keys of the condition's factoring that the broadcast
    * index hashes ([[IndexedCondition]]), over the children's
    * attributes. */
  def hashKeys: Seq[PairCondition.EquiKey] = IndexedCondition.hashKeys(condition)

  private def rightWkbIndex: Int = {
    val i = right.output.indexWhere(_.exprId == rightWkb.exprId)
    require(i >= 0, "right wkb attribute must be in child output")
    i
  }

  // collect + index + broadcast the right side once per physical plan —
  // Dataset caches its QueryExecution, so repeated actions on the same
  // transformed DataFrame reuse one broadcast instead of re-collecting
  // (the broadcast lives as long as the plan; ContextCleaner reclaims it
  // when the Dataset is garbage-collected, as with Spark's own
  // BroadcastExchangeExec)
  @transient private[plans] lazy val packedBroadcast: Broadcast[(PackedRows, FlatSpatialIndex)] = {
    val rIdx = rightWkbIndex
    val types = right.output.map(_.dataType).toArray
    val t0 = System.nanoTime()
    val rows = PackedRows.concat(
      right.execute().mapPartitions(it => Iterator.single(PackedRows.pack(it, types))).collect(),
      types.length)
    val t1 = System.nanoTime()
    val index = Leaf.index(rows, rIdx)
    val t2 = System.nanoTime()
    val bc = sparkContext.broadcast((rows, index))
    val t3 = System.nanoTime()
    metrics("collectTime") += (t1 - t0) / 1000000
    metrics("indexBuildTime") += t2 - t1
    metrics("broadcastTime") += (t3 - t2) / 1000000
    metrics("dataSize") += rows.sizeInBytes
    metrics("indexedRows") += index.size
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq("collectTime", "indexBuildTime", "broadcastTime", "dataSize", "indexedRows").map(metrics))
    bc
  }

  override protected def doExecute(): RDD[InternalRow] = probe(packedBroadcast)

  /** The join of the left side against the right side in `bc`: one
    * [[Leaf]] per task over the whole right side, every probe at home. */
  private[plans] def probe(bc: Broadcast[(PackedRows, FlatSpatialIndex)]): RDD[InternalRow] = {
    val lIdx = left.output.indexWhere(_.exprId == leftWkb.exprId)
    require(lIdx >= 0, "left wkb attribute must be in child output")
    val join = LeafJoin(left.output, left.output.length, lIdx, right.output, rightWkbIndex,
      predicate, condition, mode, 1, None, output, distAttr.isDefined, withRank = false,
      metrics("candidates"), metrics("refines"), metrics("numOutputRows"))
    val nearest = predicate == SpatialPredicate.Nearest
    left.execute().mapPartitions { it =>
      val (rows, index) = bc.value
      val leaf = new Leaf(join, 0, SpatialLeaves.Whole, rows, index).counted()
      if (nearest) leaf.nearest(it, null) else leaf.relate(it, null)
    }
  }
}
