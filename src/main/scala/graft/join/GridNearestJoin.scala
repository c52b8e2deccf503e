package graft.join

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoExpressions

/**
 * Nearest-neighbour join without broadcasting either side — the 100 TB
 * path for `nearest` (the broadcast kernel needs one side in every
 * executor's memory; this needs neither).
 *
 * Expanding-ring grid search, driven as an iterative DataFrame algorithm
 * (the same shape as Spark ML's iterative jobs):
 *
 *  1. both sides bin to grid cells (right: every cell its envelope
 *     overlaps; left: the cell of its envelope center — any geometry,
 *     not just points);
 *  2. round k joins the still-unresolved left rows against the right
 *     rows in the cells of Chebyshev ring k around each left cell and
 *     keeps the per-left minimum (distance, tie-break) candidate seen
 *     so far (candidates failing the optional `condition` never count);
 *  3. a left row resolves once its best distance is strictly below its
 *     per-row margin: the minimum degree distance from the row's own
 *     envelope to the boundary of the examined cell block. Any
 *     unexamined candidate lies entirely outside that block, hence at
 *     least margin away — the current best cannot be beaten. (Strict
 *     comparison: a candidate at exactly the margin could still win on
 *     tie-break, so such rows fall through to the next ring.)
 *  4. rows still unresolved once the horizon reaches its cap of 16
 *     cells fall back to one full cross-cell pass (correct, never
 *     silently dropped). A left row whose envelope is wider than the
 *     largest examined cell block can never achieve a positive margin,
 *     so such rows skip the ring rounds and go straight to the fallback
 *     instead of being re-exploded and re-aggregated every round. The
 *     fallback also runs up front whenever `unresolved · |right|` is
 *     under `fallbackPairs` — at that size one exhaustive
 *     (broadcast-able) pass beats any number of fixed-cost ring jobs,
 *     which is exactly what a cost-based planner would pick; at
 *     genuinely large |right| the budget never triggers and the rings
 *     carry the work.
 *
 * Coordinate domain: WGS84 lon/lat, lon in [-180, 180], lat in [-90, 90].
 * Out-of-range coordinates are clamp-binned to the boundary cells (see
 * GeoExpressions.gridCells), which keeps the search correct for values
 * marginally outside the range (e.g. lon = 180.0000001 round-off) but is
 * undefined for genuinely non-geographic coordinate systems.
 *
 * Distance is the JTS coordinate-space (degree) distance — identical
 * ordering to the broadcast kernel. Ties break by `tieBreak` (default:
 * WKB bytes; the kernel breaks by broadcast row index; on continuous
 * data ties do not occur and the two strategies agree exactly — pinned
 * by spec).
 *
 * Each round materializes ONE snapshot via `materialize` (default: lazy
 * `localCheckpoint`) to cut the growing lineage; the per-round count
 * rides the same job as the materialization — one Spark job per round.
 * On a real cluster pass [[GridNearestJoin.ReliableMaterialize]]:
 * `localCheckpoint` blocks die with their executor, which would kill a
 * long iterative job on any executor loss; reliable `checkpoint`
 * (requires `sparkContext.setCheckpointDir`) survives it.
 *
 * @param left      side iterated (one output row per left row with any
 *                  right candidate passing `condition`). The right side
 *                  is sorted once by (tieBreak, right columns) to rank
 *                  its rows, so right-side columns must be orderable
 *                  types (no map columns); left-side columns join back
 *                  by a synthetic row id after aggregation (any type)
 * @param right     candidate side, any geometry
 * @param condition optional extra predicate over both sides' columns;
 *                  a candidate pair failing it is skipped (the nearest
 *                  SATISFYING candidate wins — kernel semantics)
 *
 * Every right row gets an id ranked by (tieBreak, right columns), so the
 * smaller id wins a distance tie exactly where the smaller tie-break and
 * payload would. [[nearest]] is the k = 1 case: the per-left aggregate is
 * the lexicographic minimum of (distance, id) only
 * ([[graft.functions.LexMin]], a fixed-width hash aggregate), and the
 * right payload joins back by id once per output row. [[knearest]]
 * generalizes to bounded top-k: the per-round aggregate keeps the k
 * smallest distinct (distance, tieBreak, right columns, id) structs
 * ([[graft.functions.BoundedTopKSet]]) and a row resolves once its k-TH
 * best beats the margin (every unexamined candidate is >= margin away,
 * so none can displace any of the k). Right rows binned to several cells
 * of one annulus (or seen again by the fallback) would duplicate inside
 * the set; they share their id, so they collapse — genuinely duplicated
 * right ROWS keep distinct ids and distinct output rows, matching SQL
 * row_number() semantics.
 */
object GridNearestJoin {

  /** Largest search horizon (Chebyshev cell radius) of a ring round:
    * horizons double from `initialHorizon`, and past this cap one
    * exhaustive pass is cheaper than exploding each row into the
    * (2·hi+1)² cells of a wider block. */
  private val MaxHorizon = 16

  /** Rows per cell that [[autoCellDeg]] sizes the grid for. */
  private val TargetRowsPerCell = 2.0

  /** Session-local materializer: fast, but blocks die with executors. */
  val LocalMaterialize: DataFrame => DataFrame = _.localCheckpoint(false)

  /** Cluster-reliable materializer — survives executor loss; requires
    * `spark.sparkContext.setCheckpointDir(...)` to be set. */
  val ReliableMaterialize: DataFrame => DataFrame = _.checkpoint(false)

  /** Density-derived default cell size: one cheap (column-pruned,
    * map-side-combined) agg over the candidate side computes its
    * envelope-center extent, count, AND mean per-geometry envelope size,
    * and the cell is sized so a cell holds ~2 rows (TargetRowsPerCell) —
    * the expanding-ring search then resolves typical rows in the first
    * round or two instead of burning rounds on near-empty cells (or
    * flooding dense ones). The mean geometry extent is a lower bound on
    * the cell: a non-point right side binned to cells finer than its
    * geometries would explode each geometry into (extent/cell)² bin
    * rows — the floor keeps the per-geometry fan-out O(1). Callers whose
    * data distribution is known can skip the extra job by passing an
    * explicit `cellDeg`. Degenerate sides (empty or a single geometry —
    * any cell works, the adaptive fallback resolves them in one pass)
    * get 1 degree; the result is clamped to [0.001, 45] degrees. */
  def autoCellDeg(right: DataFrame, rightWkb: Column): Double = {
    val e = GeoExpressions.stEnvelope(rightWkb)
    val cx = (element_at(e, 1) + element_at(e, 3)) / 2.0d
    val cy = (element_at(e, 2) + element_at(e, 4)) / 2.0d
    val row = described(right.sparkSession.sparkContext, "grid.autoCellDeg") {
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

  /** `joinType = "left"` keeps match-less left rows (null/empty left
    * geometry, or every candidate vetoed by `condition`) with the right
    * columns nulled — the ring machinery already carries unmatched rows
    * (the exhaustive fallback sees every straggler), so the outer
    * variant only changes what the fallback EMITS, never what it
    * searches. */
  def nearest(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      cellDeg: Double = 1.0,
      tieBreak: Option[Column] = None,
      initialHorizon: Int = 2,
      fallbackBelow: Long = 2000L,
      condition: Option[Column] = None,
      materialize: DataFrame => DataFrame = LocalMaterialize,
      fallbackPairs: Long = 32000000L,
      joinType: String = "inner"): DataFrame =
    described(left.sparkSession.sparkContext, "grid.nearest setup") {
      run(left, right, leftWkb, rightWkb, 1, "__g_unused_rank", cellDeg,
        tieBreak, initialHorizon, fallbackBelow, condition,
        materialize, fallbackPairs, leftOuter = parseJoinType(joinType))
    }

  private def parseJoinType(joinType: String): Boolean =
    joinType.trim.toLowerCase match {
      case "inner" => false
      case "left" | "left_outer" | "leftouter" => true
      case other => throw new IllegalArgumentException(
        s"joinType must be inner or left, got `$other`")
    }

  /** Bounded k-nearest-neighbour join (k >= 1): up to k output rows per
    * left row, ordered by (distance, tieBreak), with a 1-based `rankCol`
    * (long). Same ring machinery, margins, budget, and condition
    * semantics as [[nearest]]; a row resolves when its k-th best beats
    * the margin. Rows with fewer than k candidates in the whole right
    * side resolve through the exhaustive fallback with all they have.
    * `joinType = "left"` keeps match-less left rows (null/empty left
    * geometry, or every candidate vetoed by `condition`) as ONE row
    * with the right columns AND `rankCol` nulled — exactly the shape of
    * `left LEFT JOIN (ranked rows WHERE rank <= k)` in SQL (r14; was a
    * documented refusal). */
  def knearest(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      k: Int,
      rankCol: String = "knn_rank",
      cellDeg: Double = 1.0,
      tieBreak: Option[Column] = None,
      initialHorizon: Int = 2,
      fallbackBelow: Long = 2000L,
      condition: Option[Column] = None,
      materialize: DataFrame => DataFrame = LocalMaterialize,
      fallbackPairs: Long = 32000000L,
      joinType: String = "inner"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!(left.columns ++ right.columns).contains(rankCol),
      s"rank column `$rankCol` collides with an input column")
    described(left.sparkSession.sparkContext, "grid.nearest setup") {
      run(left, right, leftWkb, rightWkb, k, rankCol, cellDeg,
        tieBreak, initialHorizon, fallbackBelow, condition,
        materialize, fallbackPairs, leftOuter = parseJoinType(joinType))
    }
  }

  private def run(
      left: DataFrame, right: DataFrame,
      leftWkb: Column, rightWkb: Column,
      k: Int,
      rankCol: String,
      cellDeg: Double,
      tieBreak: Option[Column],
      initialHorizon: Int,
      fallbackBelow: Long,
      condition: Option[Column],
      materialize: DataFrame => DataFrame,
      fallbackPairs: Long,
      leftOuter: Boolean = false): DataFrame = {

    // a zero, negative or non-finite cell clamps every row into one
    // boundary cell: the search would silently degrade to an exhaustive pass
    require(cellDeg > 0 && cellDeg < Double.PositiveInfinity,
      s"cellDeg must be a positive finite number of degrees, got $cellDeg")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"column names must be disjoint, both sides have: ${dup.mkString(", ")}")
    // every internal working column here carries the __g_ prefix and is
    // added with withColumn — a same-named user column would be silently
    // overwritten (the ekey collision class, ADVICE r13): collide loudly
    val reservedClash = (left.columns ++ right.columns).filter(_.startsWith("__g_"))
    require(reservedClash.isEmpty,
      s"column names ${reservedClash.mkString(", ")} are reserved " +
        "(__g_ prefix) by the grid nearest join")

    val sc = left.sparkSession.sparkContext
    val lw = "__g_lwkb"; val rw = "__g_rwkb"; val lid = "__g_lid"
    val cell = "__g_cell"; val dist = "__g_dist"; val best = "__g_best"
    val env = "__g_env"; val rid = "__g_rid"; val ekey = "__g_ekey"

    // the condition, analyzed once (PairCondition.factor).
    // Equi conjuncts (round-12 scale fix) ride as ONE struct join key
    // beside the cell, so ring candidates and the exhaustive fallback
    // only ever pair key-equal rows — the fallback becomes a HASH join
    // (a never-matching condition costs O(L+R), not L·R pairs). The key
    // join over-matches null-keyed pairs (struct equality), safe only
    // because candOk re-evaluates the FULL condition per candidate: never
    // add a pure-equi fast path here that skips that recheck.
    // Single-sided conjuncts (literal IN-lists, range guards — round-13
    // breadth): a right-only one pre-filters the binned side BEFORE the
    // cell explode, a left-only one pre-filters probes on INNER joins
    // (outer rows must survive null-padded, so outer keeps them).
    val factored = condition.fold(PairCondition.Unfactored)(c =>
      PairCondition.factor(left.sparkSession, c, left.schema, right.schema))
    // never engage over a user column that collides with the conditional
    // reserved name (withColumn would overwrite it)
    val useEkey = factored.equiKeys.nonEmpty &&
      !left.columns.contains(ekey) && !right.columns.contains(ekey)
    val ekeyCols: Seq[String] = if (useEkey) Seq(ekey) else Nil

    val leftCols = left.columns
    val rightCols = right.columns

    // default tie-break = WKB bytes (deterministic; pass an explicit
    // orderable column to control tie order, e.g. a right-side key)
    val tb = tieBreak.getOrElse(col(rw).cast("string"))

    // right side, ranked once: sorted by (tie-break, right columns) and
    // stamped with monotonically_increasing_id BEFORE the bin explode.
    // The sort range-partitions, so the ids increase in that order across
    // partitions and do not depend on the input layout: among candidates
    // at equal distance the smallest id is the smallest (tie-break,
    // payload), and rows that tie on all of it are identical in the
    // output. Cell copies of a row share its id, so the k > 1 top-k set
    // collapses rebinned duplicates without collapsing genuinely
    // identical rows. The ranked base is SNAPSHOTTED so the ring path,
    // the exhaustive fallback and the k = 1 payload join-back see the
    // same ids (monotonically_increasing_id re-planned could renumber)
    val r0pre = factored.rightOnly.fold(right)(right.where)
      .withColumn(rw, rightWkb).where(col(rw).isNotNull)
    val r0 = if (useEkey) r0pre.withColumn(ekey, struct(factored.equiKeys.map(_._2): _*))
      else r0pre
    val rBase = materialize(r0.orderBy(tb +: rightCols.map(col): _*)
      .withColumn(rid, monotonically_increasing_id()))
    val r = rBase
      .withColumn(cell, explode(GeoExpressions.gridCells(col(rw), cellDeg)))

    // left side: unique row id (per-plan-deterministic) + envelope +
    // envelope-center cell; empty geometries have a null envelope and
    // drop (inner-join semantics)
    val maxC = lit(GeoExpressions.MaxCell.toLong)
    def axisCell(coord: Column, offset: Double): Column =
      least(maxC, greatest(lit(0L), floor((coord + lit(offset)) / cellDeg).cast("long")))
    val l0pre = (if (leftOuter) left else factored.leftOnly.fold(left)(left.where))
      .withColumn(lw, leftWkb).where(col(lw).isNotNull)
    val l0 = (if (useEkey) l0pre.withColumn(ekey, struct(factored.equiKeys.map(_._1): _*))
      else l0pre)
      .withColumn(env, GeoExpressions.stEnvelope(col(lw)))
      .where(col(env).isNotNull)
      .withColumn(lid, monotonically_increasing_id())
      .withColumn(cell,
        shiftleft(axisCell((element_at(col(env), 1) + element_at(col(env), 3)) / 2.0d, 180.0),
          GeoExpressions.CellBits)
          + axisCell((element_at(col(env), 2) + element_at(col(env), 4)) / 2.0d, 90.0))

    // k > 1 candidate: distance + tie-break + right payload as one
    // struct; the right-row id rides LAST (never decides order among
    // distinct payloads, only separates true duplicates)
    def candStruct: Column =
      struct((col(dist) +: tb.as("__g_tb") +: rightCols.map(col)) :+ col(rid): _*)

    // a candidate only counts when present (left-outer ring-join misses
    // keep the left row alive) AND satisfying the extra condition
    val candOk: Column =
      condition.fold(col(rw).isNotNull)(c => col(rw).isNotNull && coalesce(c, lit(false)))

    // group by the synthetic row id ONLY, aggregate ONLY the candidate,
    // and join the left payload back on the single long key AFTER
    // aggregation (groups, not pairs). Two designs were measured and
    // rejected:
    //  - grouping by the full left payload forces SortAggregate to order
    //    the entire candidate set by wide keys (WKB binary, the env
    //    double array — which Spark wraps in an interpreted
    //    normalize-floats lambda evaluated per row — and arbitrary user
    //    columns);
    //  - carrying the left payload through a first(struct(...)) aggregate
    //    avoids the join but evaluates that struct per PAIR: the
    //    env-array + WKB + user-column copies dominated the whole stage
    //    (JFR: UnsafeArrayData.copy / copyValue / getBinary, with the
    //    15M-pair sort spilling) — ~10x the cost of the distance math
    //    it decorated.
    // k = 1: the lexicographic minimum of (dist, rid) only
    // (graft.functions.LexMin): two fixed-width buffer slots, so Spark
    // plans a codegen'd HashAggregateExec that updates each group in
    // place. The right payload joins back by rid once per OUTPUT row
    // (see the end of this method), never per pair. An object aggregate
    // here (ObjectHashAggregateExec) turns sort-based past 128 groups
    // per task and then sorts and spills every pair; min(struct) plans
    // a SortAggregateExec that sorts every pair from the start.
    // k > 1: bounded top-k SET aggregate (graft.functions.BoundedTopKSet):
    // O(k) state per group at every stage, map-side truncation before the
    // shuffle, dedup-on-insert collapsing rebinned duplicates (same
    // right-row id) without letting them evict genuine candidates —
    // the collect_list-then-slice formulation materializes EVERY
    // candidate per group (measured 10× slower on the exhaustive
    // fallback, unbounded memory at scale).
    // Both yield the shape the rest of the operator (least-merge, margin
    // test, finalize) expects: a nullable struct<__g_dist, __g_rid> for
    // k = 1, a sorted array of candidate structs for k > 1.
    val bestAgg: Column =
      if (k == 1) graft.functions.LexMin.lexMin(col(dist), col(rid), dist, rid)
      else graft.functions.BoundedTopKSet.topKSet(when(candOk, candStruct), k)
    def bestOf(cands: DataFrame): DataFrame =
      // candidate-range pruning (round-13): evaluate the cheap condition
      // BEFORE the geodesic/JTS distance — a band or range conjunct that
      // rejects the pair skips the WKB parse + distance math entirely
      // (a rejected pair's null dist never enters either aggregate)
      cands
        .withColumn(dist, when(candOk, GeoExpressions.stDistance(col(lw), col(rw))))
        .groupBy(col(lid))
        .agg(bestAgg.as("__g_best0"))

    // resolution test: the k-th best (the ONLY best for k = 1) must beat
    // the margin — unexamined candidates are >= margin away and cannot
    // displace any of the top k. `resolvedPred(m)` and its negation stay
    // in one place so the ring loop and carry splits cannot diverge
    def resolvedPred(margin: Column): Column =
      if (k == 1) col(best).isNotNull && col(best)(dist) < margin
      // try_element_at: ANSI mode makes element_at THROW out of bounds
      else size(col(best)) >= k && try_element_at(col(best), lit(k))(dist) < margin
    def hasAny: Column =
      if (k == 1) col(best).isNotNull else size(col(best)) > 0

    // minimum degree distance from the row's envelope to the boundary of
    // the examined block (center cell ± hi); any unexamined candidate's
    // geometry lies entirely outside the block, so its distance is >= this.
    // The tiny guard absorbs IEEE rounding of the block-edge arithmetic —
    // the computed margin must never exceed the true clearance
    def marginOf(hi: Int): Column = {
      val cx = shiftright(col(cell), GeoExpressions.CellBits).cast("double")
      val cy = col(cell).bitwiseAND(maxC).cast("double")
      least(
        element_at(col(env), 1) - ((cx - hi) * cellDeg - 180.0d),
        ((cx + hi + 1) * cellDeg - 180.0d) - element_at(col(env), 3),
        element_at(col(env), 2) - ((cy - hi) * cellDeg - 90.0d),
        ((cy + hi + 1) * cellDeg - 90.0d) - element_at(col(env), 4)) - lit(cellDeg * 1e-9)
    }

    // annulus cell ids (lo < Chebyshev distance <= hi), codegen'd native
    // expression (GeoExpressions.RingCells): the previous literal (dx, dy)
    // offset-array + higher-order filter/transform form generated ~800
    // literals at hi=16, recompiled per round, and evaluated interpreted —
    // the Janino/interpretation overhead dominated every ring round
    def ringCells(lo: Int, hi: Int): Column =
      GeoExpressions.ringCells(col(cell), lo, hi)

    // k = 1 emits the left columns and the best's rid (null when there is
    // none; the payload joins back at the end); k > 1 explodes the bounded
    // array into up to k ranked rows (1-based rank, explode drops
    // candidate-less rows — inner-join semantics, same as k = 1)
    def finalize(df: DataFrame): DataFrame =
      if (k == 1) df.select(leftCols.map(col) :+ col(best)(rid).as(rid): _*)
      else df
        // prefixed generator output names — bare pos/col would collide
        // with user columns of those (common) names
        .select((leftCols.map(col) :+ posexplode(col(best)).as(Seq("__g_pos", "__g_col"))): _*)
        .select((leftCols.map(col)
          ++ rightCols.map(c => col("__g_col")(c).as(c))
          :+ (col("__g_pos") + 1).cast("long").as(rankCol)): _*)

    val out = new scala.collection.mutable.ArrayBuffer[DataFrame]
    // materialize the binned right side once — every round reuses it
    // (lazy: its blocks persist inside round 0's job). Pre-partitioned by
    // cell BEFORE the snapshot, which buys two distinct things (see
    // tools/PartProbe + PlanAuditSpec's preservation pin):
    //  - ALWAYS: the snapshot's partitions are balanced by cell rather
    //    than inheriting the scan layout (a single-file right side is ONE
    //    partition otherwise — every ring round then reads the whole
    //    snapshot on one core);
    //  - with AQE off: localCheckpoint preserves outputPartitioning, so
    //    every round's probe join reads the snapshot exchange-free and
    //    shuffles only the shrinking left side. (AQE re-plans the
    //    snapshot-side exchange per round — its skew/coalesce benefits
    //    come at that price; the layout is correct either way.)
    val rMat = materialize(r.repartition(col(cell)))
    // a left envelope spanning >= 2·(MaxHorizon+1) cells on either axis
    // can never sit strictly inside any examined block, so its margin is
    // <= 0 at every horizon — ring rounds would re-explode and
    // re-aggregate it each round for nothing; route such rows straight
    // to the exhaustive fallback
    val maxSpan = 2.0 * (MaxHorizon + 1) * cellDeg
    val hopelessPred =
      (element_at(col(env), 3) - element_at(col(env), 1) >= maxSpan) ||
        (element_at(col(env), 4) - element_at(col(env), 2) >= maxSpan)
    // pre-partitioned by the row id for the same two reasons: balanced
    // parallelism for every round's join-back scan regardless of the
    // left scan's file layout, and (AQE off) exchange-free join-backs —
    // groupBy output and repartition layout are both hash(lid)
    // key-POSSIBLE flag (equi factoring): a probe whose key has NO
    // right rows can never match — without this it would ring through
    // every round (each exploding ~O(hi²) cells per row) before the
    // fallback finally proves the miss. One slim distinct-key join
    // stamps the flag; flagged-impossible rows skip the rings entirely
    // and resolve in the fallback's key hash join (O(1) miss each).
    val keyOk = "__g_keyok"
    val l0k =
      if (!useEkey) l0.withColumn(keyOk, lit(true))
      else l0.join(
          r0.select(col(ekey)).distinct().withColumn(keyOk, lit(true)),
          Seq(ekey), "left")
        .withColumn(keyOk, coalesce(col(keyOk), lit(false)))
    val l0m = materialize(l0k.repartition(col(lid)))
    // rows routed AROUND the ring rounds: oversized envelopes (margin
    // can never resolve) and key-impossible probes
    val skipPred = hopelessPred || !col(keyOk)
    // one job: total + skip counts off the same snapshot scan
    val counts = described(sc, "grid.nearest counts") {
      l0m.agg(count(lit(1)), count(when(skipPred, lit(1)))).head()
    }
    val hopelessN = counts.getLong(1)
    var unresolved = l0m.where(!skipPred)
    var unresolvedLeft = counts.getLong(0) - hopelessN
    // adaptive fallback: one exhaustive pass costs ~unresolved·|right|
    // candidate pairs in a single shuffle-free (broadcast-able right) job,
    // while every ring round costs a fixed job + snapshot. Below the pair
    // budget the exhaustive pass is the plan any cost-based engine would
    // pick; above it (any genuinely large right side) the rings carry the
    // work and the budget never triggers. |right| counts the side the
    // exhaustive pass joins: the ranked snapshot, after the right-only
    // conjuncts (the raw side would let a selective conjunct keep the
    // rings running where one pass is cheaper). The count reads the
    // snapshot and is lazy: when the loop never starts (few left rows,
    // budget disabled) the count job never runs. fallbackPairs = 0
    // disables the budget (spec-pinned ring coverage; fallbackBelow = 0
    // likewise forces rings).
    lazy val rightN =
      if (fallbackPairs <= 0L) Long.MaxValue
      else described(sc, "grid.nearest budget")(math.max(1L, rBase.count()))
    def ringsStillPay: Boolean =
      fallbackPairs <= 0L || unresolvedLeft > fallbackPairs / rightN
    var carried: DataFrame = null // (lid, best-so-far) for unresolved rows
    // restore the left payload (and the cell/env/lw the margin test and
    // the next round need) after aggregation: one hash join keyed by the
    // same long key the aggregation grouped on, touching one row per
    // GROUP — the pair-side never carries any of it
    def withLeft(grouped: DataFrame): DataFrame = grouped.join(l0m, Seq(lid))
    // merge this round's per-lid best with the carried best-so-far —
    // shared verbatim by the ring loop and the fallback so the two paths
    // can never diverge on null/merge semantics
    def mergeCarry(grouped: DataFrame): DataFrame =
      if (carried == null) grouped.withColumn(best, col("__g_best0"))
      else grouped.join(carried, Seq(lid), "left")
        .withColumn(best,
          if (k == 1) least(col("__g_best0"), col("__g_carry"))
          // sorted-merge of the two bounded arrays; duplicates (a right
          // row seen by both a ring round and the fallback) collapse on
          // the right-row id inside the struct
          else when(col("__g_carry").isNull, col("__g_best0"))
            .otherwise(slice(array_distinct(array_sort(
              concat(col("__g_best0"), col("__g_carry")))), 1, k)))
    // geometric search horizons: round j covers the annulus (H_{j-1}, H_j];
    // once few rows remain, the exhaustive fallback is cheaper than more
    // ring rounds (each round costs one Spark job)
    var lo = -1
    var hi = math.max(1, initialHorizon)
    val rProbe = rMat.withColumnRenamed(cell, "__g_probe")
    // records that the loop STOPPED because the pair budget chose the
    // exhaustive pass — evaluated only when the cheaper loop conditions
    // already passed, so the lazy rightN count never runs on paths that
    // exit via fallbackBelow
    var budgetStopped = false
    def ringsStillPayTracked: Boolean = {
      val pay = ringsStillPay
      if (!pay) budgetStopped = true
      pay
    }
    var round = 0
    while (unresolvedLeft > fallbackBelow && ringsStillPayTracked && hi <= MaxHorizon) {
      round += 1
      described(sc, s"grid.nearest round=$round hi=$hi") {
        val cands = unresolved
          .withColumn("__g_probe", explode(ringCells(lo, hi)))
          .join(rProbe, Seq("__g_probe") ++ ekeyCols, "left_outer")
        // ONE materialization per round; the count below triggers it, so the
        // splits are cheap filters over the snapshot and no extra job runs
        val scored = materialize(
          withLeft(mergeCarry(bestOf(cands)).drop("__g_best0", "__g_carry")))
        val margin = marginOf(hi)
        out += finalize(scored.where(resolvedPred(margin)))
        unresolved = scored.where(!resolvedPred(margin))
          .select((leftCols.map(col) ++ ekeyCols.map(col)
            :+ col(lw) :+ col(env) :+ col(lid) :+ col(cell)): _*)
        carried = scored.where(!resolvedPred(margin) && hasAny)
          .select(col(lid), col(best).as("__g_carry"))
        unresolvedLeft = unresolved.count()
      }
      lo = hi
      hi = hi * 2
    }
    // the binned-right snapshot only feeds the ring rounds (every round's
    // result is itself a snapshot, and the fallback reads rBase) —
    // release its blocks before the fallback instead of holding them
    // until the result DataFrame is garbage-collected
    unpersistSnapshot(rMat)
    if (unresolvedLeft > 0 || hopelessN > 0) {
      // fallback: exhaustive pass for the stragglers (e.g. empty regions)
      // plus the rows routed around the ring rounds up front
      val stragglers =
        if (hopelessN == 0) unresolved
        else unresolved.unionByName(
          l0m.where(skipPred).select(unresolved.columns.map(col): _*))
      // the cross join keeps the left side's partitioning — which is ONE
      // partition when the left snapshot stems from a single-file scan;
      // spread the stragglers first or the whole exhaustive pass runs on
      // one core. Non-integer shuffle.partitions (e.g. "auto" on some
      // runtimes) degrades to the context's default parallelism.
      val shufflePartitions = scala.util.Try(
        left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)
        .getOrElse(left.sparkSession.sparkContext.defaultParallelism)
      // rBase: for k > 1 this is the SNAPSHOTTED id-stamped side, so
      // fallback candidates carry the same right-row ids the rings saw
      val rightF = rBase
      // budget-entered fallback (the planner CHOSE the exhaustive pass
      // because unresolved·|right| fit the pair budget): hint the
      // broadcast explicitly when the right side is genuinely
      // broadcast-sized BY BYTES (Catalyst's own size estimate, capped
      // well under the 8 GB broadcast hard limit — a row count alone
      // ignores row width), so Spark plans BroadcastNestedLoopJoin
      // instead of a full CartesianProduct shuffle. On the exhaustion
      // path (rings ran out of horizon, or the budget is
      // disabled) the right side may be arbitrarily large: leave the
      // strategy to Spark.
      val rightHinted =
        if (budgetStopped &&
          rightF.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(256L << 20))
          broadcast(rightF)
        else rightF
      // left-outer: a plain crossJoin EMITS NOTHING against an empty
      // right side — the true-condition left join keeps every straggler
      // alive with a null candidate instead (same pair count otherwise)
      val spread = stragglers.repartition(shufflePartitions)
      // with factored keys the exhaustive pass is a HASH join on the
      // key struct: pairs only within key groups, matchless stragglers
      // O(1)-miss (kept alive by the left join for outer)
      val cands =
        if (useEkey) spread.join(rightHinted, ekeyCols,
          if (leftOuter) "left" else "inner")
        else if (leftOuter) spread.join(rightHinted, lit(true), "left")
        else spread.crossJoin(rightHinted)
      // left-outer: the fallback sees every unresolved row, so dropping
      // the hasAny filter here is the ONLY emission change outer needs.
      // k = 1: finalize's best(c) projection nulls the right columns of
      // a null best struct in one pass. k > 1: finalize is a posexplode
      // (drops candidate-less rows), so outer splits the scored set —
      // ranked rows for hasAny, one null-padded row (null right columns,
      // NULL rank: `LEFT JOIN (ranked WHERE rank <= k)` SQL shape) for
      // the rest. The split reads `scored` twice, so it is snapshotted
      // first — one exhaustive pass, two cheap filters (r14).
      val scored0 = withLeft(mergeCarry(bestOf(cands)).drop("__g_best0", "__g_carry"))
      if (leftOuter && k > 1) {
        val scored = materialize(scored0)
        out += finalize(scored.where(hasAny))
        out += scored.where(!hasAny)
          .select(leftCols.map(col): _*)
          .join(right.select(rightCols.map(col): _*).limit(0), lit(false), "left")
          .withColumn(rankCol, lit(null).cast("long"))
      } else {
        out += finalize(if (leftOuter) scored0 else scored0.where(hasAny))
      }
    }
    // left-outer: rows whose GEOMETRY never entered the search (null WKB
    // or null envelope) come back with null right columns; the
    // false-condition left join nulls the right side with correct types
    if (leftOuter) {
      val lw2 = "__g_lw2"; val env2 = "__g_env2"
      val missing = left
        .withColumn(lw2, leftWkb)
        .withColumn(env2, when(col(lw2).isNotNull, GeoExpressions.stEnvelope(col(lw2))))
        .where(col(lw2).isNull || col(env2).isNull)
        .select(leftCols.map(col): _*)
      out += (if (k == 1) missing.withColumn(rid, lit(null).cast("long"))
        else missing.join(right.select(rightCols.map(col): _*).limit(0), lit(false), "left")
          .withColumn(rankCol, lit(null).cast("long")))
    }
    if (out.isEmpty) finalizeSchemaOnly(left, right, leftCols, rightCols, k, rankCol)
    else if (k > 1) out.reduce(_ union _)
    // k = 1: one join-back of the right payload for all output rows; a
    // null rid (left-outer row without a match) keeps null right columns
    else out.reduce(_ union _)
      .join(rBase.select(col(rid) +: rightCols.map(col): _*), Seq(rid), "left")
      .select((leftCols ++ rightCols).map(col): _*)
  }

  /** Run `body` with `desc` as the Spark job description of the jobs it
    * starts, then restore the caller's description. */
  private def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val key = "spark.job.description" // what SparkContext.setJobDescription sets
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Release the storage behind a materialized snapshot. Safe only once
    * nothing downstream will read the snapshot again: for checkpoint-style
    * materializers the blocks ARE the data (lineage is truncated), so a
    * later read would fail rather than recompute. No-op for materializers
    * that don't produce an RDD-backed plan (e.g. identity). */
  private def unpersistSnapshot(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Empty result with the correct output schema (empty/null-geom input). */
  private def finalizeSchemaOnly(left: DataFrame, right: DataFrame,
      leftCols: Seq[String], rightCols: Seq[String], k: Int, rankCol: String): DataFrame = {
    val base = left.limit(0).crossJoin(right.limit(0))
      .select((leftCols ++ rightCols).map(col): _*)
    if (k == 1) base else base.withColumn(rankCol, lit(1L))
  }
}
