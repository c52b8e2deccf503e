package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

import graft.spatial.SpatialPredicate

/**
 * Catalyst-native broadcast spatial join: a custom logical node + planner
 * strategy + physical operator, so the transformer's output is ONE plan
 * end-to-end — no RDD drop-out, no `createDataFrame` barrier (the
 * reference's architecture re-enters SQL with an opaque RDD scan, hiding
 * everything from the optimizer; SURVEY §4).
 *
 * Left = iterated side (streamed, partitioning preserved), right =
 * broadcast side (collected once, packed as WKB, STRtree per executor).
 * Output by `mode` (graft.spatial.SpatialJoinMode): Inner/LeftOuter =
 * left.output ++ right.output (++ distance) — LeftOuter keeps
 * match-less left rows (null geometry included) with the right side +
 * distance nulled under the standard outer nullability widening;
 * Semi/Anti = left.output ONLY (existence filter — no distance).
 * `condition` is a pre-bound predicate over the concatenated
 * (left ++ right) row.
 */
case class BroadcastSpatialJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftWkb: Attribute,
    rightWkb: Attribute,
    predicate: SpatialPredicate,
    condition: Option[Expression], // bound over left.output ++ right.output
    distAttr: Option[AttributeReference],
    mode: graft.spatial.SpatialJoinMode = graft.spatial.SpatialJoinMode.Inner)
  extends BinaryNode {

  import graft.spatial.SpatialJoinMode._
  require(!(distAttr.isDefined && (mode == Semi || mode == Anti)),
    "semi/anti spatial joins emit the left schema only — no distance column")

  override def output: Seq[Attribute] =
    BroadcastSpatialJoinPlan.output(left.output, right.output, distAttr, mode)

  // the probe consumes whole child rows (the condition is ordinal-bound),
  // so column pruning must not reshape the children
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BroadcastSpatialJoinPlan =
    copy(left = newLeft, right = newRight)
}

object BroadcastSpatialJoinPlan {

  /** Output of the logical node and its exec, by join mode (see the
    * class doc). */
  private[plans] def output(left: Seq[Attribute], right: Seq[Attribute],
      distAttr: Option[AttributeReference], mode: graft.spatial.SpatialJoinMode): Seq[Attribute] = {
    import graft.spatial.SpatialJoinMode._
    mode match {
      case Semi | Anti => left
      case LeftOuter => left ++ right.map(_.withNullability(true)) ++ distAttr.toSeq
      case Inner => left ++ right ++ distAttr.toSeq
    }
  }
}

/** Sentinel standing in for a null `<=>` key component — one instance
  * per JVM, so build-side and probe-side nulls hash-match inside each
  * executor's partitioned index. */
private[plans] object NullSafeKey

/** Planner strategy, installed via `spark.experimental.extraStrategies`:
  * the transformer registers it on its session before building a plan. */
object SpatialJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: BroadcastSpatialJoinPlan =>
      BroadcastSpatialJoinExec(
        planLater(p.left), planLater(p.right),
        p.leftWkb, p.rightWkb, p.predicate, p.condition, p.distAttr,
        p.mode) :: Nil
    case _ => Nil
  }
}

case class BroadcastSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftWkb: Attribute,
    rightWkb: Attribute,
    predicate: SpatialPredicate,
    condition: Option[Expression],
    distAttr: Option[AttributeReference],
    mode: graft.spatial.SpatialJoinMode = graft.spatial.SpatialJoinMode.Inner)
  extends BinaryExecNode {

  import graft.spatial.SpatialJoinMode._

  override def output: Seq[Attribute] =
    BroadcastSpatialJoinPlan.output(left.output, right.output, distAttr, mode)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastSpatialJoinExec =
    copy(left = newLeft, right = newRight)

  /** Factored condition: composite equi keys (`=` and `<=>` conjuncts),
    * single-sided pre-filters, and the per-candidate residual.
    * `nullSafe(i)` marks a `<=>` key component: a null there is a REAL
    * key value (both sides map to the NullSafeKey sentinel and hash-match,
    * mirroring Catalyst's null-safe equality) where a `=` component's
    * null means no-match. `leftOnly` / `rightOnly` carry deterministic
    * conjuncts referencing one side only (literal IN-lists, range
    * guards): right-only ones exclude rows from the index at build,
    * left-only ones short-circuit probes to O(1) no-match — both pure
    * superset restrictions (a filtered row/probe could never pass the
    * full condition; SQL filter semantics drop null evaluations on
    * either path). */
  private case class EquiSplit(
      lKeys: Seq[Expression], rKeys: Seq[Expression], nullSafe: Array[Boolean],
      leftOnly: Option[Expression], rightOnly: Option[Expression],
      residual: Option[Expression])

  /**
   * Equi-conjunct factoring (round-12 scale fix): every conjunct of
   * the bound condition shaped `leftOnlyExpr = rightOnlyExpr` is
   * folded into one composite key that turns the flat broadcast index
   * into a HASH-PARTITIONED one (one sub-tree per distinct right-key
   * tuple). Why it matters: the conditional-nearest
   * kernel must PROVE no-match for probes whose condition nothing
   * satisfies, and that proof is O(|right|) per probe on a flat index —
   * measured ×239 wall at the materialized sf10 rung (`j1_nearest_left`:
   * 300k never-matching probes × 100k broadcast rows). With the key
   * factored out, a never-matching probe is one hash miss (O(1)), and a
   * condition that was PURE equi leaves no residual — every probe takes
   * the unconditioned single-walk fast path. Null keys never match
   * (SQL `=`), matching the flat kernel's behavior exactly; per-key
   * min-index tie-break equals the flat kernel's min-index-among-
   * passing rule because subsets keep ascending global order.
   * Restricted to deterministic, atomic-typed keys (hash-map equality
   * must agree with Catalyst EqualTo; ±0.0 normalized like Spark's own
   * hash joins; boxed NaN is canonical under Double.hashCode).
   */
  @transient private lazy val equiSplit: Option[EquiSplit] = {
    import org.apache.spark.sql.catalyst.expressions.{And, BoundReference, EqualNullSafe, EqualTo}
    val leftWidth = left.output.length
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    def sides(e: Expression): (Boolean, Boolean) = {
      var hasL = false; var hasR = false
      e.foreach {
        case b: BoundReference =>
          if (b.ordinal < leftWidth) hasL = true else hasR = true
        case _ =>
      }
      (hasL, hasR)
    }
    def atomicKey(e: Expression): Boolean = {
      import org.apache.spark.sql.types._
      e.deterministic && (e.dataType match {
        // value classes whose boxed equals/hashCode agree with Catalyst
        // EqualTo (binary/struct/array/map do NOT — left on the flat path)
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType => true
        case _ => false
      })
    }
    condition.flatMap { cond =>
      val cs = conjuncts(cond)
      // factor EVERY factorable equality into one composite key — a
      // two-key condition partitions |right| / (k1·k2) per bucket
      def pickEq(eq: Expression, a: Expression, b: Expression, ns: Boolean) =
        (sides(a), sides(b)) match {
          case ((true, false), (false, true)) if atomicKey(a) && atomicKey(b) =>
            Some((eq, a, b, ns))
          case ((false, true), (true, false)) if atomicKey(a) && atomicKey(b) =>
            Some((eq, b, a, ns))
          case _ => None
        }
      val picks = cs.flatMap {
        case eq @ EqualTo(a, b) => pickEq(eq, a, b, ns = false)
        case eq @ EqualNullSafe(a, b) => pickEq(eq, a, b, ns = true)
        case _ => None
      }
      val picked = picks.map(_._1).toSet
      val rest0 = cs.filterNot(picked.contains)
      val lOnly = rest0.filter(e => e.deterministic && sides(e) == ((true, false)))
      val rOnly = rest0.filter(e => e.deterministic && sides(e) == ((false, true)))
      val moved = (lOnly ++ rOnly).toSet
      val rest = rest0.filterNot(moved.contains)
      if (picks.isEmpty && lOnly.isEmpty && rOnly.isEmpty) None
      else Some(EquiSplit(picks.map(_._2), picks.map(_._3),
        picks.map(_._4).toArray,
        lOnly.reduceOption(And), rOnly.reduceOption(And),
        rest.reduceOption(And)))
    }
  }


  // collect + pack + broadcast the right side once per physical plan —
  // Dataset caches its QueryExecution, so repeated actions on the same
  // transformed DataFrame reuse one broadcast instead of re-collecting
  // (the broadcast lives as long as the plan; ContextCleaner reclaims it
  // when the Dataset is garbage-collected, as with Spark's own
  // BroadcastExchangeExec)
  @transient private lazy val packedBroadcast = {
    val rIdx = right.output.indexWhere(_.exprId == rightWkb.exprId)
    require(rIdx >= 0, "right wkb attribute must be in child output")
    val rightRows: Array[InternalRow] = right.executeCollect().map(_.copy())
    val wkbs = rightRows.map(r => if (r.isNullAt(rIdx)) null else r.getBinary(rIdx))
    sparkContext.broadcast(new PackedSpatialIndex(rightRows, wkbs))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lIdx = left.output.indexWhere(_.exprId == leftWkb.exprId)
    require(lIdx >= 0, "left wkb attribute must be in child output")
    val bc = packedBroadcast

    val needDist = distAttr.isDefined
    val outAttrs = output
    val condExpr = condition
    val pred = predicate

    val joinMode = mode
    val leftWidth = left.output.length
    val rightWidth = right.output.length
    val split = equiSplit

    left.execute().mapPartitions { it =>
      val idx = bc.value
      val condPred = condExpr.map(Predicate.create)
      condPred.foreach(_.initialize(0))
      val joined = new JoinedRow
      val joinedDist = new JoinedRow
      val distRow = new GenericInternalRow(1)
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      def normKey(v: Any): Any = v match {
        case d: java.lang.Double if d.doubleValue() == 0.0 =>
          java.lang.Double.valueOf(0.0)
        case f: java.lang.Float if f.floatValue() == 0.0f =>
          java.lang.Float.valueOf(0.0f)
        case x => x
      }
      // the flat probe: the whole index under the full condition. With no
      // condition it passes the AlwaysTrue sentinel BY REFERENCE, which
      // enables the unconditioned-nearest fast path inside the probe kernel
      lazy val flatProbe = new SpatialProbe(idx.geoms, idx.tree)
      def flatHits(lrow: InternalRow, g: org.locationtech.jts.geom.Geometry) =
        flatProbe.matches(g, pred, condPred match {
          case None => SpatialProbe.AlwaysTrue
          case Some(p) => i => p.eval(joined(lrow, idx.rows(i)))
        }, needDist)
      val hitsOf: InternalRow => Iterator[(Int, Int)] = split match {
        case Some(EquiSplit(lKeys, rKeys, nullSafe, leftOnly, rightOnly, residual)) =>
          // key-partitioned probes: the equi conjuncts become ONE
          // composite hash lookup; only the residual (if any) rides as
          // a per-candidate predicate — none means the fast
          // unconditioned walk. A null in a `=` key component means SQL
          // `=` can never hold → no match (and the right row indexes
          // into no bucket); a null in a `<=>` component is a real key
          // value (NullSafeKey sentinel — both sides hash-match, which
          // is exactly Catalyst's null-safe equality). Right-only
          // conjuncts exclude rows from the index at build; left-only
          // ones short-circuit probes to O(1) no-match. With no key
          // conjuncts at all, every surviving row lands in the single
          // Nil-key bucket — a right-filtered flat index.
          val nullLeft = new GenericInternalRow(leftWidth)
          val nullRight = new GenericInternalRow(rightWidth)
          val keyJoin = new JoinedRow
          def keyOf(exprs: Seq[Expression], row: InternalRow): List[Any] = {
            var out = List.empty[Any]
            var i = exprs.length - 1
            while (i >= 0) {
              val v = exprs(i).eval(row)
              if (v == null) {
                if (!nullSafe(i)) return null
                out = NullSafeKey :: out
              } else out = normKey(v) :: out
              i -= 1
            }
            out
          }
          // ANSI safety: factoring evaluates key/side expressions
          // EAGERLY — over every broadcast row at build, and per probe
          // row — while the flat kernel only evaluates the full
          // condition on tree-candidate pairs. A key that throws (e.g.
          // ANSI cast overflow) on a row the flat path never pairs must
          // not fail the query, so a throwing build falls back to the
          // flat path wholesale and a throwing probe-side key falls
          // back for that row: answers become exactly the flat
          // kernel's, and a genuinely-throwing candidate still throws
          // where the flat path would (the condition contains the same
          // sub-expression).
          val keyProbes = {
            val rightPred = rightOnly.map(Predicate.create)
            rightPred.foreach(_.initialize(0))
            try idx.partitioned { i =>
              val jr = keyJoin(nullLeft, idx.rows(i))
              if (rightPred.exists(p => !p.eval(jr))) null
              else keyOf(rKeys, jr)
            }
            catch {
              case scala.util.control.NonFatal(e) =>
                // the fallback is CORRECT but O(candidates)-per-probe —
                // a silent catch would mask both genuine defects and the
                // perf cliff, so the degradation is logged once per task
                // (ADVICE r13). Intended catches are ANSI eval errors
                // (cast overflow on a row the flat path never pairs);
                // anything else still falls back safely but is loud.
                SpatialProbeLog.keyBuildFallback(e)
                null
            }
          }
          val leftPred = leftOnly.map(Predicate.create)
          leftPred.foreach(_.initialize(0))
          val resPred = residual.map(Predicate.create)
          resPred.foreach(_.initialize(0))
          def resEvalFor(lrow: InternalRow): Int => Boolean = resPred match {
            case None => SpatialProbe.AlwaysTrue
            case Some(p) => i => p.eval(joined(lrow, idx.rows(i)))
          }
          lrow => {
            val g = graft.spatial.GeoKit.wkbToGeom(lrow.getBinary(lIdx))
            if (g == null) Iterator.empty
            else if (keyProbes == null) flatHits(lrow, g)
            else {
              var keyThrew = false
              var leftFails = false
              val k =
                try {
                  val lj = keyJoin(lrow, nullRight)
                  if (leftPred.exists(p => !p.eval(lj))) { leftFails = true; null }
                  else keyOf(lKeys, lj)
                }
                catch { case scala.util.control.NonFatal(_) => keyThrew = true; null }
              if (keyThrew) flatHits(lrow, g)
              else if (leftFails || k == null) Iterator.empty
              else {
                val probe = keyProbes.get(k)
                if (probe == null) Iterator.empty
                else probe.matches(g, pred, resEvalFor(lrow), needDist)
              }
            }
          }
        case None =>
          lrow => flatHits(lrow, graft.spatial.GeoKit.wkbToGeom(lrow.getBinary(lIdx)))
      }

      joinMode match {
        // existence filters: emit the LEFT row alone. hasNext, never
        // isEmpty — isEmpty would consume the iterator's first element.
        // A null-geometry row has no match: dropped by semi, kept by anti
        case Semi =>
          it.filter(lrow => !lrow.isNullAt(lIdx) && hitsOf(lrow).hasNext).map(proj)
        case Anti =>
          it.filter(lrow => lrow.isNullAt(lIdx) || !hitsOf(lrow).hasNext).map(proj)

        case _ =>
          val outer = joinMode == LeftOuter
          // all-null right payload (+ null distance) for left-outer
          // misses — GenericInternalRow slots default to null
          val nullRight = new GenericInternalRow(rightWidth)
          val nullDist = new GenericInternalRow(1)
          def missRow(lrow: InternalRow): InternalRow = {
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
                val base = joined(lrow, idx.rows(i))
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

/**
 * Executor-side logger for the probe closures: a standalone object is
 * referenced statically by the task closure, so logging a degradation
 * never drags the exec node (and its whole plan subtree) into closure
 * serialization. The once-per-task shape comes for free — the guarded
 * build runs once per task attempt.
 */
private[plans] object SpatialProbeLog extends org.apache.spark.internal.Logging {
  def keyBuildFallback(e: Throwable): Unit =
    logWarning(
      "broadcast spatial join: build-side key partitioning threw; " +
        "falling back to the flat probe path for this task " +
        "(answers unchanged, probes no longer O(1)-keyed)", e)
}
