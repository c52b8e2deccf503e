package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
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
 * Each probe task reads right rows through its own reused views (one for
 * the output, one for the condition, one for decoding a geometry). Output
 * as the logical node's; the distance is filled in where a row is
 * emitted.
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

  import graft.spatial.SpatialJoinMode._

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
    * and `refines` are [[SpatialProbe]]'s counters. */
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
    val view = new UnsafeRow(rows.numFields)
    val index = FlatSpatialIndex(rows.numRows, { i =>
      val r = rows.read(i, view)
      if (r.isNullAt(rIdx)) null else r.getBinary(rIdx)
    })
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

  /** The join of the left side against the right side in `bc`. */
  private[plans] def probe(bc: Broadcast[(PackedRows, FlatSpatialIndex)]): RDD[InternalRow] = {
    val lIdx = left.output.indexWhere(_.exprId == leftWkb.exprId)
    require(lIdx >= 0, "left wkb attribute must be in child output")
    val rIdx = rightWkbIndex

    val needDist = distAttr.isDefined
    val outAttrs = output
    val pred = predicate
    val candidatesMetric = metrics("candidates")
    val refinesMetric = metrics("refines")
    val numOutputRows = metrics("numOutputRows")

    val joinMode = mode
    val leftAttrs = left.output
    val rightAttrs = right.output
    val rightWidth = rightAttrs.length
    val cond = condition

    left.execute().mapPartitions { it =>
      val (rows, index) = bc.value
      val wkbView = new UnsafeRow(rows.numFields)
      val probe = new SpatialProbe(index, i => rows.read(i, wkbView).getBinary(rIdx))
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        candidatesMetric += probe.candidates
        refinesMetric += probe.refines
      }
      val condView = new UnsafeRow(rows.numFields)
      val indexed = new IndexedCondition(cond, leftAttrs, rightAttrs, index, i => rows.read(i, condView))
      val outView = new UnsafeRow(rows.numFields)
      val joined = new JoinedRow
      val joinedDist = new JoinedRow
      val distRow = new GenericInternalRow(1)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      def hitsOf(lrow: InternalRow): Iterator[(Int, Int)] = {
        val tree = indexed.tree(lrow)
        if (tree == null) Iterator.empty
        else probe.matches(graft.spatial.GeoKit.wkbToGeom(lrow.getBinary(lIdx)),
          pred, indexed.candidate(lrow), needDist, tree)
      }

      joinMode match {
        // existence filters: emit the LEFT row alone. hasNext, never
        // isEmpty — isEmpty would consume the iterator's first element.
        // A null-geometry row has no match: dropped by semi, kept by anti
        case Semi =>
          it.filter(lrow => !lrow.isNullAt(lIdx) && hitsOf(lrow).hasNext)
            .map { lrow => numOutputRows += 1; proj(lrow) }
        case Anti =>
          it.filter(lrow => lrow.isNullAt(lIdx) || !hitsOf(lrow).hasNext)
            .map { lrow => numOutputRows += 1; proj(lrow) }

        case _ =>
          val outer = joinMode == LeftOuter
          // all-null right payload (+ null distance) for left-outer
          // misses — GenericInternalRow slots default to null
          val nullRight = new GenericInternalRow(rightWidth)
          val nullDist = new GenericInternalRow(1)
          def missRow(lrow: InternalRow): InternalRow = {
            numOutputRows += 1
            val base = joined(lrow, nullRight)
            proj(if (needDist) joinedDist(base, nullDist) else base)
          }
          it.flatMap { lrow =>
            if (lrow.isNullAt(lIdx)) {
              if (outer) Iterator.single(missRow(lrow)) else Iterator.empty
            } else {
              val hits = hitsOf(lrow)
              if (outer && !hits.hasNext) Iterator.single(missRow(lrow))
              else hits.map { case (i, d) =>
                numOutputRows += 1
                val base = joined(lrow, rows.read(i, outView))
                val full: InternalRow =
                  if (needDist) { distRow.setInt(0, d); joinedDist(base, distRow) }
                  else base
                proj(full)
              }
            }
          }
      }
    }
  }
}
