package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, CreateNamedStruct, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/**
 * Bounded top-k SET aggregate: the k smallest DISTINCT values of an
 * orderable column (structs included), returned as an ascending-sorted
 * array.
 *
 * Why not `slice(array_distinct(array_sort(collect_list(...))), 1, k)`:
 * collect_list materializes EVERY candidate per group — the exhaustive
 * fallback's |left|·|right| candidate structs all land in aggregation
 * buffers before one element is discarded (measured 10× slower at 15M
 * candidates, and unbounded memory at scale). This aggregate holds at
 * most k elements per group at every stage: partial (map-side) buffers
 * truncate to k before the shuffle, so shuffle volume is O(groups · k)
 * regardless of candidate count.
 *
 * Why a SET (ordered, dedup-on-insert): a bounded HEAP (Spark's own
 * CollectTopK) admits duplicates, and a duplicate inside the heap can
 * evict a genuine k-th-smallest element that is never seen again —
 * wrong results whenever one logical candidate arrives more than once
 * (say, a cell join that bins a multi-cell geometry into several
 * probed cells). Tree-set insertion discards compare==0 duplicates instead, so
 * the buffer always holds the k smallest distinct values seen. Callers
 * whose duplicates are NOT value-identical must make them so (stamp a
 * per-row id into the struct: copies collapse, genuinely identical rows
 * stay distinct).
 *
 * Non-codegen by nature (TypedImperativeAggregate ==
 * ObjectHashAggregateExec), like every collect-style aggregate in Spark
 * itself; the surrounding projections stay codegen'd.
 */
case class BoundedTopKSet(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[Any]] with UnaryLike[Expression] {

  require(k >= 1, s"k must be >= 1, got $k")

  @transient private lazy val ord: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  @transient private lazy val structFields = child.dataType match {
    case s: StructType => s.size
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override def createAggregationBuffer(): mutable.TreeSet[Any] =
    mutable.TreeSet.empty[Any](ord)

  /** Insert keeping only the k smallest distinct values; rejected or
    * duplicate values never allocate a defensive copy (membership is
    * checked on the UNCOPIED view first — an O(log k) compare against a
    * full InternalRow copy in the rebinned-duplicate hot path). */
  private def add(buffer: mutable.TreeSet[Any], v: Any, copied: Boolean): Unit = {
    if (buffer.size < k) {
      if (copied) buffer += v
      else if (!buffer.contains(v)) buffer += defensiveCopy(v)
    } else if (ord.compare(v, buffer.last) < 0) {
      if (copied) buffer += v
      else if (!buffer.contains(v)) buffer += defensiveCopy(v)
      if (buffer.size > k) buffer -= buffer.last
    }
  }

  // named to keep the case-class synthetic copy(...) intact
  private def defensiveCopy(v: Any): Any = v match {
    case r: InternalRow => r.copy()
    case other => InternalRow.copyValue(other)
  }

  // Quick-reject on the struct's FIRST field (the primary sort key,
  // dist in the grid join): once the buffer is full, a candidate whose
  // key is STRICTLY greater than the current k-th's key cannot enter
  // the set under lexicographic struct ordering, no matter its
  // tie-break fields — skip it before evaluating the full struct. The
  // struct construction (an interpreted per-pair GenericInternalRow
  // allocation) is the dominant update cost on exhaustive passes, and
  // after the buffer warms, almost every candidate rejects. Key-EQUAL
  // candidates fall through to the full compare (the tie-break could
  // still beat the k-th). Recognizes the two shapes the grid join
  // produces — bare struct(...) and when(cond, struct(...)); for the
  // guarded shape the GUARD evaluates first and a false guard skips
  // outright (the full eval would have produced null), so the key
  // expression is only ever evaluated where the full eval would have —
  // identical exception semantics.
  @transient private lazy val quickKey: Option[(Option[Expression], Expression, Ordering[Any])] = {
    val shape = child match {
      case cns: CreateNamedStruct => Some((None: Option[Expression], cns))
      case CaseWhen(Seq((cond, cns: CreateNamedStruct)), None) => Some((Some(cond), cns))
      case _ => None
    }
    // deterministic-only: the guard/key re-evaluate alongside the full
    // child.eval, which is only sound when repeated evaluation agrees.
    // valExprs.nonEmpty: a zero-field struct is orderable (and passes
    // checkInputDataTypes) but has no key — degrade to no optimization
    shape.filter { case (cond, cns) =>
      cns.valExprs.nonEmpty &&
        cond.forall(_.deterministic) && cns.valExprs.head.deterministic
    }.map { case (cond, cns) =>
      val key = cns.valExprs.head
      (cond, key, TypeUtils.getInterpretedOrdering(key.dataType))
    }
  }
  @transient private lazy val keyType: DataType = child.dataType match {
    case s: StructType => s.head.dataType
    case other => other
  }

  override def update(buffer: mutable.TreeSet[Any], input: InternalRow): mutable.TreeSet[Any] = {
    quickKey match {
      case Some((condOpt, keyExpr, keyOrd)) =>
        condOpt match {
          case Some(cond) =>
            val c = cond.eval(input)
            if (c == null || !c.asInstanceOf[Boolean]) return buffer // full eval => null
          case None => ()
        }
        if (buffer.size >= k) {
          val kv = keyExpr.eval(input)
          if (kv != null) {
            val bk = buffer.last.asInstanceOf[InternalRow].get(0, keyType)
            // null k-th key: nulls sort first, so ALL buffered keys are
            // null and a non-null candidate is strictly greater — reject
            // (keyOrd.compare(kv, null) would NPE)
            if (bk == null || keyOrd.compare(kv, bk) > 0) return buffer
          }
        }
      case None => ()
    }
    val v = child.eval(input)
    if (v != null) add(buffer, v, copied = false)
    buffer
  }

  override def merge(buffer: mutable.TreeSet[Any], other: mutable.TreeSet[Any]): mutable.TreeSet[Any] = {
    other.foreach(add(buffer, _, copied = true))
    buffer
  }

  /** Ascending-sorted (tree-set iteration order), distinct, size <= k. */
  override def eval(buffer: mutable.TreeSet[Any]): Any =
    new GenericArrayData(buffer.toArray)

  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buffer: mutable.TreeSet[Any]): Array[Byte] =
    proj(InternalRow(new GenericArrayData(buffer.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Any] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val buffer = createAggregationBuffer()
    var i = 0
    while (i < arr.numElements()) {
      val v =
        if (structFields >= 0) arr.getStruct(i, structFields).copy()
        else InternalRow.copyValue(arr.get(i, child.dataType))
      buffer += v
      i += 1
    }
    buffer
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_topk_set"
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopKSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopKSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedTopKSet =
    copy(child = newChild)
}

object BoundedTopKSet {
  /** Aggregate column: ascending array of the k smallest distinct values. */
  def topKSet(c: Column, k: Int): Column =
    ColumnBridge.column(BoundedTopKSet(ColumnBridge.expression(c), k).toAggregateExpression())
}
