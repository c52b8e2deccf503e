package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

import graft.join.PairCondition
import graft.spatial.SpatialPredicate

/**
 * The broadcast kernel of [[SpatialJoinPlan]]. Left = iterated side
 * (streamed, partitioning preserved), right = broadcast side (collected
 * once; the driver indexes its geometries in one flat packed R-tree,
 * graft.plans.FlatSpatialIndex, and broadcasts it with the collected
 * rows). Output as the logical node's; the distance is filled in where a
 * row is emitted.
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

  /** `indexBuildTime` and `indexedRows` are taken on the driver, once per
    * plan; the rest add up over the probe tasks. `candidates` and
    * `refines` are [[SpatialProbe]]'s counters. */
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "indexBuildTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index build time"),
    "indexedRows" -> SQLMetrics.createMetric(sparkContext, "number of indexed rows"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "number of candidates"),
    "refines" -> SQLMetrics.createMetric(sparkContext, "number of refines"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** The condition's equi keys the broadcast index hashes
    * ([[IndexedCondition]]). */
  def hashKeys: Seq[PairCondition.EquiKey] = IndexedCondition.hashKeys(condition)

  // collect + index + broadcast the right side once per physical plan —
  // Dataset caches its QueryExecution, so repeated actions on the same
  // transformed DataFrame reuse one broadcast instead of re-collecting
  // (the broadcast lives as long as the plan; ContextCleaner reclaims it
  // when the Dataset is garbage-collected, as with Spark's own
  // BroadcastExchangeExec). The index is built here, on the driver, so
  // executors only probe it.
  @transient private lazy val packedBroadcast = {
    val rIdx = right.output.indexWhere(_.exprId == rightWkb.exprId)
    require(rIdx >= 0, "right wkb attribute must be in child output")
    val rows = right.executeCollect()
    val t0 = System.nanoTime()
    val index = FlatSpatialIndex(rows.length, { i =>
      val r = rows(i)
      if (r.isNullAt(rIdx)) null else r.getBinary(rIdx)
    })
    metrics("indexBuildTime") += System.nanoTime() - t0
    metrics("indexedRows") += index.size
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(metrics("indexBuildTime"), metrics("indexedRows")))
    sparkContext.broadcast((rows, index))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lIdx = left.output.indexWhere(_.exprId == leftWkb.exprId)
    require(lIdx >= 0, "left wkb attribute must be in child output")
    val bc = packedBroadcast

    val needDist = distAttr.isDefined
    val outAttrs = output
    val pred = predicate
    val candidatesMetric = metrics("candidates")
    val refinesMetric = metrics("refines")
    val numOutputRows = metrics("numOutputRows")

    val joinMode = mode
    val leftWidth = left.output.length
    val rightWidth = right.output.length
    val cond = condition

    left.execute().mapPartitions { it =>
      val (rows, index) = bc.value
      val probe = new SpatialProbe(index)
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        candidatesMetric += probe.candidates
        refinesMetric += probe.refines
      }
      val indexed = new IndexedCondition(cond, leftWidth, rightWidth, index, rows(_))
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
                val base = joined(lrow, rows(i))
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
