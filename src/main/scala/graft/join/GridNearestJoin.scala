package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoExpressions
import graft.plans.PartitionedSpatialJoinExec
import graft.spatial.{SpatialJoinMode, SpatialPredicate}

/**
 * Nearest-neighbour join without broadcasting either side — the 100 TB
 * path for `nearest` (the broadcast kernel needs one side in every
 * executor's memory; this needs neither).
 *
 * One lazy Catalyst plan on the partitioned kernel of
 * [[graft.plans.SpatialJoinPlan]], built as every spatial join is
 * ([[graft.plans.SpatialJoinPlan.build]]), as [[GridSpatialJoin]] builds
 * the relation predicates: building the DataFrame starts no job. At execution the right side is
 * cut into spatial leaves sampled from its envelopes, both sides shuffle
 * once into them, each leaf indexes its right rows in a flat packed
 * R-tree, and a probe that its own leaf cannot settle is searched once
 * more in the leaves within its k-th distance (see
 * [[graft.plans.PartitionedSpatialJoinExec]]). Any geometry on either
 * side; the left side joins by its envelope centre's leaf.
 *
 * Distance is the JTS coordinate-space (degree) distance — the ordering
 * of the broadcast kernel. Among right rows at equal distance, the one
 * with the smaller (tieBreak, right columns) wins (default tie-break:
 * the right WKB bytes, unsigned), so right-side columns must be orderable types
 * (no map columns); rows equal on all of it are identical in the output,
 * and genuinely duplicated right rows still give distinct output rows.
 *
 * @param left      side iterated: one output row per left row with any
 *                  right candidate passing `condition` (k rows for
 *                  [[knearest]])
 * @param right     candidate side, any geometry
 * @param condition optional extra predicate over both sides' columns;
 *                  a candidate pair failing it is skipped (the nearest
 *                  SATISFYING candidate wins — kernel semantics)
 */
object GridNearestJoin {

  /** Rows per cell that [[autoCellDeg]] sizes the grid for. */
  private val TargetRowsPerCell = 2.0

  /** A density-derived grid cell size over the candidate side: one
    * cheap (column-pruned, map-side-combined) agg computes its
    * envelope-center extent, count and mean per-geometry envelope size,
    * and the cell is sized so a cell holds ~2 rows (TargetRowsPerCell),
    * floored at the mean geometry extent. Degenerate sides (empty or a
    * single geometry) get 1 degree; the result is clamped to [0.001, 45]
    * degrees. Starts one job, described `grid.autoCellDeg`. No library
    * code calls it: both grid joins cut their leaves at execution.
    * Harness-only, removed by ROADMAP item 2's benchmark PR. */
  def autoCellDeg(right: DataFrame, rightWkb: Column): Double = {
    val e = GeoExpressions.stEnvelope(rightWkb)
    val cx = (element_at(e, 1) + element_at(e, 3)) / 2.0d
    val cy = (element_at(e, 2) + element_at(e, 4)) / 2.0d
    val row = PartitionedSpatialJoinExec.described(right.sparkSession.sparkContext,
      "grid.autoCellDeg") {
      right
        .agg(min(cx), max(cx), min(cy), max(cy), count(cx),
          avg(element_at(e, 3) - element_at(e, 1)),
          avg(element_at(e, 4) - element_at(e, 2)))
        .head()
    }
    val n = row.getLong(4)
    if (n <= 1L || row.isNullAt(0)) 1.0
    else {
      val w = math.max(row.getDouble(1) - row.getDouble(0), 1e-6)
      val h = math.max(row.getDouble(3) - row.getDouble(2), 1e-6)
      val cells = math.max(1.0, n / TargetRowsPerCell)
      val density = math.sqrt(w * h / cells)
      val meanExtent = math.max(row.getDouble(5), row.getDouble(6))
      math.min(45.0, math.max(1e-3, math.max(density, meanExtent)))
    }
  }

  /** The nearest right row per left row. `joinType = "left"` keeps
    * match-less left rows (null/empty left geometry, or every candidate
    * vetoed by `condition`) with the right columns nulled; a nearest join
    * is inner or left, so semi and anti are rejected. */
  def nearest(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      tieBreak: Option[Column] = None,
      condition: Option[Column] = None,
      joinType: String = "inner"): DataFrame =
    GridSpatialJoin.plan(left, right, leftWkb, rightWkb, SpatialPredicate.Nearest, 1, None,
      tieBreak, condition, SpatialJoinMode.parse(joinType), None)

  /** Bounded k-nearest-neighbour join (k >= 1): up to k output rows per
    * left row, ordered by (distance, tieBreak, right columns), with a
    * 1-based `rankCol` (long); a left row with fewer than k candidates in
    * the whole right side gets all it has. `joinType = "left"` keeps
    * match-less left rows (null/empty left geometry, or every candidate
    * vetoed by `condition`) as ONE row with the right columns AND
    * `rankCol` nulled — exactly the shape of
    * `left LEFT JOIN (ranked rows WHERE rank <= k)` in SQL. */
  def knearest(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      k: Int,
      rankCol: String = "knn_rank",
      tieBreak: Option[Column] = None,
      condition: Option[Column] = None,
      joinType: String = "inner"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!(left.columns ++ right.columns).contains(rankCol),
      s"rank column `$rankCol` collides with an input column")
    GridSpatialJoin.plan(left, right, leftWkb, rightWkb, SpatialPredicate.Nearest, k, Some(rankCol),
      tieBreak, condition, SpatialJoinMode.parse(joinType), None)
  }
}
