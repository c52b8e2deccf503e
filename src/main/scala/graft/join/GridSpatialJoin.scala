package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoExpressions
import graft.spatial.SpatialPredicate

/**
 * Partitioned grid spatial join — the 100 TB path. Neither side is
 * collected or broadcast; the join is a plain shuffle equi-join on grid
 * cell ids inside one Catalyst plan (AQE, spill, skew handling all apply).
 *
 * Algorithm (PBSM-style):
 *  1. geometry lifts once per row into a WKB `BinaryType` column
 *     (graft.functions.GeoExpressions, all codegen'd);
 *  2. each row explodes to the grid cells its envelope overlaps — the
 *     left side's envelope is first expanded by the withindist radius
 *     (latitude-aware, strictly over-approximating);
 *  3. shuffle equi-join on the cell id;
 *  4. duplicate elimination by the reference-point rule: a candidate pair
 *     is kept only in the single cell containing the componentwise max of
 *     the two envelope minima — no global distinct needed;
 *  5. exact refine: JTS relation or geodesic distance <= radius.
 *
 * Cost: O(|L| + |R|) shuffle volume (times the small cell fan-out) and
 * per-cell local work — versus the broadcast kernel's requirement that one
 * side fit in every executor. Pick `cellDeg` so a cell's rows fit a task:
 * smaller cells → more fan-out rows but tighter candidate sets.
 *
 * `nearest` is not expressible as one cell-local pass (a point's nearest
 * neighbour may sit in a far cell); it is served by [[GridNearestJoin]]'s
 * partitioned operator (spatial leaves, a per-leaf index and one bounded
 * second pass) — the transformer's broadcast="none" nearest mode routes
 * there automatically.
 */
object GridSpatialJoin {

  /**
   * @param left         left (iterated-semantics) side
   * @param right        right side; `predicate` evaluates `left op right`
   * @param leftWkb      WKB geometry column for `left` rows
   * @param rightWkb     WKB geometry column for `right` rows
   * @param predicate    within | contains | intersects | overlaps | withindist N
   * @param cellDeg      grid cell size in degrees (positive, finite)
   * @param extraCondition optional extra join condition over the two sides'
   *                     columns (applied after the spatial refine)
   * @param distanceCol  if set, append geodesic centroid metres (Int)
   * @param joinType     "inner" (default), "left" (keep match-less left
   *                     rows — null geometry included — with right
   *                     columns + distance nulled), "semi" (left rows
   *                     WITH a match, left schema only) or "anti" (left
   *                     rows WITHOUT one). The non-inner passes stamp the
   *                     left side with a per-execution row id and
   *                     SNAPSHOT it (localCheckpoint) so the matched
   *                     branch and the existence branch see identical
   *                     ids — the price of outer/existence semantics
   *                     over a fan-out join; the matched branch itself
   *                     is the same cell-equi-join plan.
   * @return left.* ++ right.* (+ distance) for inner/left; left.* for
   *         semi/anti; column names must be disjoint
   */
  def join(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      predicate: SpatialPredicate,
      cellDeg: Double = 1.0,
      extraCondition: Option[Column] = None,
      distanceCol: Option[String] = None,
      joinType: String = "inner"): DataFrame = {

    // a zero, negative or non-finite cell clamps every row into one
    // boundary cell: the join would silently degrade to an exhaustive pass
    require(cellDeg > 0 && cellDeg < Double.PositiveInfinity,
      s"cellDeg must be a positive finite number of degrees, got $cellDeg")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column names must be disjoint, both sides have: ${dup.mkString(", ")}")
    // internal working columns are added with withColumn and dropped
    // unconditionally — a same-named user column would be silently
    // overwritten and removed (the ekey collision class, ADVICE r13), so
    // collide loudly up front. `__graft_lid`/`__graft_ekey` are NOT here:
    // lid has its own guard on the non-inner path (and is added by the
    // recursive call itself), ekey degrades gracefully (factoring
    // disengages on collision — spec-pinned pass-through).
    val internalCols =
      Seq("__graft_lwkb", "__graft_rwkb", "__graft_cell", "__graft_lenv", "__graft_renv")
    val clash = (left.columns ++ right.columns).filter(internalCols.contains)
    require(clash.isEmpty,
      s"column names ${clash.mkString(", ")} are reserved by the grid spatial join")
    val mode = graft.spatial.SpatialJoinMode.parse(joinType)
    import graft.spatial.SpatialJoinMode._
    require(!(distanceCol.isDefined && (mode == Semi || mode == Anti)),
      "semi/anti grid joins emit the left schema only — no distance column")
    if (mode != Inner) {
      val lid = "__graft_lid"
      require(!left.columns.contains(lid) && !right.columns.contains(lid),
        s"column name $lid is reserved by the non-inner grid join")
      val ided = left.withColumn(lid, monotonically_increasing_id()).localCheckpoint(false)
      val inner = join(ided, right, leftWkb, rightWkb, predicate, cellDeg,
        extraCondition, distanceCol, "inner")
      val matchedIds = inner.select(col(lid)).distinct()
      mode match {
        case Semi =>
          return ided.join(matchedIds, Seq(lid), "left_semi").drop(lid)
        case Anti =>
          return ided.join(matchedIds, Seq(lid), "left_anti").drop(lid)
        case _ => // LeftOuter
          val missing0 = ided
            .join(matchedIds, Seq(lid), "left_anti")
            .join(right.limit(0), lit(false), "left")
          val missing = distanceCol.fold(missing0)(n =>
            missing0.withColumn(n, lit(null).cast("int")))
          val outCols = left.columns.map(col) ++ right.columns.map(col) ++
            distanceCol.map(col).toSeq
          return inner.select(outCols.toIndexedSeq: _*)
            .unionByName(missing.select(outCols.toIndexedSeq: _*))
      }
    }

    val radius = predicate match {
      case SpatialPredicate.WithinDist(m) => m
      case SpatialPredicate.Nearest =>
        throw new IllegalArgumentException(
          "nearest is served by GridNearestJoin.nearest (partitioned leaf search), " +
            "not the cell-equi-join grid join")
      case _ => 0.0
    }

    // Mid-scale balance guard (see JoinLayout): in the broadcast regime
    // the cell equi-join adds no exchange, so a scan-shaped
    // single-partition side would run the whole explode -> join -> refine
    // pipeline on one core; the shuffle-join regime (AQE hot-cell skew
    // split, spec-pinned) passes through untouched.
    val (l0, r0) = JoinLayout.balance(left, right)

    val lw = "__graft_lwkb"; val rw = "__graft_rwkb"; val cell = "__graft_cell"

    // the extra condition, analyzed once (PairCondition.factor): its
    // equi conjuncts join beside the cell (round-12; the GridNearestJoin
    // __g_ekey discipline), so key-mismatched pairs never reach the
    // geodesic/relates refine — a guaranteed early filter Catalyst's own
    // predicate placement can't promise. Pure join restriction: the FULL
    // condition still filters below.
    val ekey = "__graft_ekey"
    val factored = extraCondition.fold(PairCondition.Unfactored)(c =>
      PairCondition.factor(left.sparkSession, c, left.schema, right.schema))
    // never engage over a user column that collides with the conditional
    // reserved name (withColumn would overwrite it)
    val useEkey = factored.equiKeys.nonEmpty &&
      !left.columns.contains(ekey) && !right.columns.contains(ekey)
    val joinCols = if (useEkey) Seq(cell, ekey) else Seq(cell)

    // per-ROW envelope columns (round 13): the reference-cell dedup id
    // and the relates refine's envelope pre-check become pure
    // arithmetic per PAIR instead of two WKB parses per pair — rows
    // are parsed once where pairs number candidates × fan-out
    val lenv = "__graft_lenv"; val renv = "__graft_renv"

    val lPre = l0.withColumn(lw, leftWkb).where(col(lw).isNotNull)
      .withColumn(lenv, GeoExpressions.stEnvelope(col(lw)))
    val l = (if (useEkey) lPre.withColumn(ekey, struct(factored.equiKeys.map(_._1): _*)) else lPre)
      .withColumn(cell, explode(GeoExpressions.gridCells(col(lw), cellDeg, radius)))
    val rPre = r0.withColumn(rw, rightWkb).where(col(rw).isNotNull)
      .withColumn(renv, GeoExpressions.stEnvelope(col(rw)))
    val r = (if (useEkey) rPre.withColumn(ekey, struct(factored.equiKeys.map(_._2): _*)) else rPre)
      .withColumn(cell, explode(GeoExpressions.gridCells(col(rw), cellDeg)))

    val spatialRefine: Column = predicate match {
      case SpatialPredicate.WithinDist(m) =>
        GeoExpressions.geodesicMeters(col(lw), col(rw)) <= m.toInt
      case rel =>
        // fused envelope pre-check + relate: ONE expression, so the
        // cheap check cannot be reordered behind the expensive relate
        GeoExpressions.stRelatesEnvChecked(col(lenv), col(renv),
          col(lw), col(rw), rel.toString.toLowerCase)
    }

    // NOTE on predicate ORDER (round-13 forensics, BASELINE.md): all of
    // the filters below are pushed into the cell equi-join's extra
    // condition by PushPredicateThroughJoin, which picks its OWN
    // conjunct order — the `.where` sequence here is NOT the evaluation
    // order (measured: a ~1%-selective band `.where`d first still ran
    // last). Per-pair cost control therefore lives INSIDE fused
    // expressions (stRelatesEnvChecked above), not in filter placement.
    //
    // Residual fusion (round 14, the same lesson one level up): when a
    // selective extra condition is present, the expensive refine
    // (JTS relate / Vincenty distance) is additionally wrapped as
    // gatedAnd(condition, refine) — one opaque conjunct whose
    // evaluation order no optimizer rule can flip, so condition-failing
    // pairs never reach the refine kernel (round-14 A/B in BASELINE.md).
    // The plain `.where(condition)` stays alongside: Catalyst still
    // pushes its side-only conjuncts below the join (the fused copy is
    // invisible to pushdown), at the cost of one duplicate cheap
    // evaluation per surviving pair. Gated on
    // `factored.fusable`: determinism (a second evaluation of a
    // nondeterministic condition changes results) and throw-safety (the
    // fused gate runs on pairs the unfused order may never have
    // evaluated it on).
    val joined0 = l.join(r, joinCols)
    val conditioned = extraCondition.fold(joined0)(joined0.where)
      .where(GeoExpressions.refCellEnv(col(lenv), col(renv), cellDeg, radius) === col(cell))
      .where(if (factored.fusable)
          graft.functions.GatedAndExpr.gatedAnd(extraCondition.get, spatialRefine)
        else spatialRefine)
    val withDist = distanceCol.fold(conditioned)(name =>
      conditioned.withColumn(name, GeoExpressions.geodesicMeters(col(lw), col(rw))))
    // drop ekey ONLY when factoring engaged: when it didn't, a user
    // column that happens to carry the reserved name must pass through
    withDist.drop(Seq(lw, rw, cell, lenv, renv)
      ++ (if (useEkey) Seq(ekey) else Nil): _*)
  }
}
