package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Expression, JoinedRow, Predicate}

import graft.join.PairCondition

/** Sentinel standing in for a null `<=>` key component — one instance
  * per JVM, so build-side and probe-side nulls hash-match inside each
  * executor's partitioned index. */
private[plans] object NullSafeKey

/**
 * One task's view of an extra join condition (graft.join.PairCondition)
 * over one [[FlatSpatialIndex]], shared by both spatial execs.
 *
 * The condition's equi keys the index hashes (round-12 scale fix) fold
 * into one composite key that turns the flat index into a
 * HASH-PARTITIONED one: one packed sub-tree per distinct right-key
 * tuple ([[FlatSpatialIndex.partitioned]]). Why it matters: a nearest
 * probe must PROVE no-match for a left row whose condition nothing
 * satisfies, and that proof is O(|right|) per probe on a flat index —
 * measured ×239 wall at the materialized sf10 rung (`j1_nearest_left`:
 * 300k never-matching probes × 100k broadcast rows). With the key
 * hashed, a never-matching probe is one hash miss (O(1)), and a
 * condition that was PURE equi leaves no residual, so no probe is ever
 * vetoed. Sub-trees hold the index's row indices, so the per-key
 * min-index tie-break is the flat kernel's min-index-among-passing rule.
 *
 * Right-only conjuncts exclude rows from the index at build; left-only
 * ones short-circuit probes to no-match. A null in a `=` key component
 * means SQL `=` can never hold (and the right row indexes into no
 * bucket); a null in a `<=>` component is a real key value
 * ([[NullSafeKey]]: both sides hash-match, which is exactly Catalyst's
 * null-safe equality). With no hashed keys but a one-sided conjunct,
 * every surviving row lands in the single Nil-key bucket — a
 * right-filtered flat index. Only the residual and the unhashed keys
 * run per candidate.
 *
 * Each part is bound to the task's rows by attribute: a left-only part
 * over `left`, a right-only part over `right` and the per-candidate
 * check over `left` ++ `right`.
 *
 * @param split      the condition's factoring over the join's children
 * @param left       the probe rows' layout: the left child's attributes,
 *                   then any fields the exec appends
 * @param right      the right child's attributes
 * @param rightRow   the right row of index row `i`; it may be a view
 *                   that the next call moves, as it is only read at once
 */
private[plans] final class IndexedCondition(
    split: Option[PairCondition.Split], left: Seq[Attribute], right: Seq[Attribute],
    index: FlatSpatialIndex, rightRow: Int => InternalRow) {

  private val keys = IndexedCondition.hashKeys(split)
  private val nullSafe = keys.map(_.nullSafe).toArray
  // the index is keyed when anything moved off the per-candidate path
  private val keyed = split.filter(c => keys.nonEmpty || c.leftOnly.isDefined || c.rightOnly.isDefined)
  private val perCandidate = split.flatMap(c =>
    if (keyed.isEmpty) Some(c.condition)
    else (c.residual.toSeq ++ c.equiKeys.filterNot(keys.contains).map(_.conjunct))
      .reduceOption(And))
  private def predicate(e: Option[Expression], input: Seq[Attribute]) = e.map { x =>
    val p = Predicate.create(x, input); p.initialize(0); p
  }
  private val condPred = predicate(perCandidate, left ++ right)
  private val leftPred = predicate(keyed.flatMap(_.leftOnly), left)
  private val joined = new JoinedRow

  private def normKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case x => x
  }

  private def keyOf(exprs: Seq[Expression], row: InternalRow): List[Any] = {
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

  private lazy val keyTrees = {
    val rightPred = predicate(keyed.flatMap(_.rightOnly), right)
    val rKeys = BindReferences.bindReferences(keys.map(_.right), right)
    index.partitioned { i =>
      val r = rightRow(i)
      if (rightPred.exists(p => !p.eval(r))) null
      else keyOf(rKeys, r)
    }
  }
  private val lKeys = BindReferences.bindReferences(keys.map(_.left), left)

  /** The tree `lrow` probes: the whole index, or its key partition
    * ([[PackedRTree.Empty]] when no right row of the index has the key);
    * null when no right row anywhere can pass with `lrow` (a left-only
    * conjunct fails, or a `=` key component is null). */
  def tree(lrow: InternalRow): PackedRTree =
    if (keyed.isEmpty) index.rtree
    else if (leftPred.exists(p => !p.eval(lrow))) null
    else {
      val k = keyOf(lKeys, lrow)
      if (k == null) null
      else {
        val t = keyTrees.get(k)
        if (t == null) PackedRTree.Empty else t
      }
    }

  /** The per-candidate veto for `lrow`; [[SpatialProbe.AlwaysTrue]] with
    * nothing left to check. */
  def candidate(lrow: InternalRow): Int => Boolean = condPred match {
    case None => SpatialProbe.AlwaysTrue
    case Some(p) => i => p.eval(joined(lrow, rightRow(i)))
  }
}

private[plans] object IndexedCondition {

  /** The equi keys an index hashes: atomic-typed keys only, whose boxed
    * equals/hashCode agree with Catalyst EqualTo (±0.0 normalized like
    * Spark's own hash joins; boxed NaN is canonical under
    * Double.hashCode). Binary, struct, array and map keys stay
    * per-candidate checks. */
  def hashKeys(split: Option[PairCondition.Split]): Seq[PairCondition.EquiKey] = {
    import org.apache.spark.sql.types._
    split.toSeq.flatMap(_.equiKeys).filter(_.left.dataType match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    })
  }
}
