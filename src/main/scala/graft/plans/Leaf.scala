package graft.plans

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.DataType
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.join.PairCondition
import graft.spatial.{GeoKit, SpatialJoinMode, SpatialPredicate}

/**
 * What every leaf of one spatial join runs, fixed on the driver by the
 * exec: the predicate, the condition, the join mode and the layouts.
 *
 * @param probeAttrs the probe rows' layout: the left child's output, then
 *                   any fields the exec appends (the partitioned exec's
 *                   probe id and search bound)
 * @param leftWidth  the left child's output width
 * @param ordering   nearest: the tie order of right rows at equal
 *                   distance, in which a leaf packs its rows; None for the
 *                   broadcast exec, whose rows stay in collect order
 * @param output     the exec's output, bound over `probeAttrs` ++ the
 *                   right row ++ (metres, rank) as far as they exist
 */
private[plans] final case class LeafJoin(
    probeAttrs: Seq[Attribute], leftWidth: Int, lIdx: Int,
    rightAttrs: Seq[Attribute], rIdx: Int,
    predicate: SpatialPredicate, condition: Option[PairCondition.Split],
    mode: SpatialJoinMode, k: Int, ordering: Option[Ordering[InternalRow]],
    output: Seq[Attribute], withDist: Boolean, withRank: Boolean,
    candidates: SQLMetric, refines: SQLMetric, numOutputRows: SQLMetric) {

  // rows without geometry that the output keeps, unmatched
  val keepsUnmatched: Boolean = mode == SpatialJoinMode.LeftOuter || mode == SpatialJoinMode.Anti
}

/**
 * One task's join of a probe stream against indexed right rows, for both
 * kernels: the broadcast exec runs one leaf over its whole right side
 * ([[SpatialLeaves.Whole]]), the partitioned exec one per KD leaf. It
 * reads the right rows through its own reused views (one for the output,
 * one for the condition, one for decoding a geometry). A search counts a
 * row only in its reference leaf (see [[PartitionedSpatialJoinExec]]);
 * in a one-leaf cut every row counts, and no row is placed.
 */
private[plans] final class Leaf(
    join: LeafJoin, id: Int, cut: SpatialLeaves, rows: PackedRows, index: FlatSpatialIndex) {

  import join._

  private val single = cut.count == 1
  private val wkbView = new UnsafeRow(rows.numFields)
  private val condView = new UnsafeRow(rows.numFields)
  private val outView = new UnsafeRow(rows.numFields)
  val probe = new SpatialProbe(index, i => rows.read(i, wkbView).getBinary(rIdx))
  private val indexed = new IndexedCondition(condition, probeAttrs, rightAttrs, index, rows.read(_, condView))

  /** The last search's hits: row indices and distances, nearest first. */
  val found = new Array[Int](k)
  val dists = new Array[Double](k)
  /** The distance bound that [[forwardTargets]] gave its probe. */
  var bound: Double = Double.PositiveInfinity

  /** Adds this leaf's [[SpatialProbe]] counters to the join's metrics
    * when the task completes. */
  def counted(): Leaf = {
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      candidates += probe.candidates
      refines += probe.refines
    }
    this
  }

  /** Right row `i`, through the output view: read it before the next. */
  def row(i: Int): UnsafeRow = rows.read(i, outView)

  /** Whether this is the home leaf of a probe with geometry `g`. */
  def isHome(g: Geometry): Boolean =
    single || PartitionedSpatialJoinExec.homeOf(cut, g.getEnvelopeInternal) == id

  /** Whether row i counts here for a probe whose box is `p`: this leaf
    * owns the point of the row's box nearest to `p`. With a second box
    * `wrap` across ±180 (null for none), a row whose box misses `p` is
    * placed by `wrap`, so a row both boxes meet still counts in one leaf. */
  private def owner(p: Envelope, wrap: Envelope): Int => Boolean = {
    val boxes = index.rtree.boxes
    i => {
      val b = index.entry(i) << 2
      val q =
        if (wrap == null || (p.getMaxX >= boxes(b) && p.getMinX <= boxes(b + 2) &&
          p.getMaxY >= boxes(b + 1) && p.getMinY <= boxes(b + 3))) p
        else wrap
      val qx = Leaf.nearestIn(q.getMinX, q.getMaxX, boxes(b), boxes(b + 2))
      val qy = Leaf.nearestIn(q.getMinY, q.getMaxY, boxes(b + 1), boxes(b + 3))
      cut.leafOf(qx, qy) == id
    }
  }

  /** The rows `rec` (geometry `g`, null for none) matches under the
    * relation or withindist predicate and that count here, with their
    * metres (as [[SpatialProbe.matches]] gives them), in ascending row
    * order, lazily. */
  def related(rec: InternalRow, g: Geometry, needDist: Boolean): Iterator[(Int, Int)] = {
    val tree = indexed.tree(rec)
    if (tree == null || g == null) return Iterator.empty
    val owned = if (single) SpatialProbe.AlwaysTrue else {
      val b = SpatialProbe.searchBox(g.getEnvelopeInternal, predicate)
      owner(b, SpatialProbe.wrappedBox(b, predicate))
    }
    probe.matches(g, predicate, indexed.candidate(rec), needDist, tree, owned)
  }

  /** The rows `rec` (geometry `g`) counts here, at most `bound` away,
    * into [[found]]/[[dists]]; how many, or -1 when no right row in any
    * leaf can pass the condition with it. */
  def search(rec: InternalRow, g: Geometry, bound: Double): Int = {
    val tree = indexed.tree(rec)
    if (tree == null) return -1
    if (g == null) return 0
    val cand = indexed.candidate(rec)
    val passes =
      if (single) cand
      else {
        val owned = owner(g.getEnvelopeInternal, null)
        if (cand eq SpatialProbe.AlwaysTrue) owned else (i: Int) => owned(i) && cand(i)
      }
    probe.nearestK(g, passes, k, bound, found, dists, tree)
  }

  /** The other leaves the probe must search, after its home search here;
    * sets [[bound]] to its k-th distance plus a tolerance. */
  def forwardTargets(rec: InternalRow, g: Geometry): Seq[Int] = {
    if (g == null || single) return Nil
    val n = search(rec, g, Double.PositiveInfinity)
    if (n < 0) return Nil
    val e = g.getEnvelopeInternal
    val dk = if (n == k) dists(k - 1) else Double.PositiveInfinity
    val tol = PartitionedSpatialJoinExec.tolerance(e, dk)
    if (n == k && dk < cut.clearance(id, e.getMinX, e.getMinY, e.getMaxX, e.getMaxY) - tol) Nil
    else {
      bound = dk + tol
      (0 until cut.count).filter(j =>
        j != id && cut.distance(j, e.getMinX, e.getMinY, e.getMaxX, e.getMaxY) <= bound)
    }
  }

  /**
   * The relation or `withindist` join of `probes`: an inner or left join
   * emits each probe's rows that count here; a left join's unmatched row
   * and a semi or anti row come from the probe's home leaf only (every
   * probe is at home in a one-leaf cut).
   *
   * @param marks the ids of the probes that matched in other leaves, as
   *              one-field rows; null when there are none to read
   */
  def relate(probes: Iterator[InternalRow], marks: Iterator[InternalRow]): Iterator[InternalRow] = {
    val matched = if (marks == null) null else new java.util.HashSet[Long]()
    if (marks != null) marks.foreach(m => matched.add(m.getLong(0)))
    def matchedAway(rec: InternalRow) = matched != null && matched.contains(rec.getLong(leftWidth))
    val emit = emitter()
    probes.flatMap { rec =>
      val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
      // a record without geometry reached its one leaf only
      val home = g == null || isHome(g)
      def hits = related(rec, g, withDist)
      def found = matchedAway(rec) || hits.hasNext
      def rows(h: Iterator[(Int, Int)]) = h.map { case (i, d) => emit(rec, row(i), d, 0) }
      mode match {
        case SpatialJoinMode.Inner => rows(hits)
        case SpatialJoinMode.LeftOuter =>
          val h = hits
          if (home && !h.hasNext && !matchedAway(rec)) Iterator.single(emit(rec, null, 0, Leaf.NoRight))
          else rows(h)
        case SpatialJoinMode.Semi =>
          if (home && found) Iterator.single(emit(rec, null, 0, Leaf.NoRight)) else Iterator.empty
        case SpatialJoinMode.Anti =>
          if (home && !found) Iterator.single(emit(rec, null, 0, Leaf.NoRight)) else Iterator.empty
      }
    }
  }

  /**
   * The nearest join of `probes`, each searched here as at its home: its
   * first k rows in (distance, row index) order, which is (distance, tie
   * order) as the rows are packed in tie order. A semi or anti join emits
   * the probes with (without) a row.
   *
   * @param more forwarded hits by probe id, as (distance, right row,
   *             metres), merged with the probe's own by (distance,
   *             `ordering`); null when there are none to read
   */
  def nearest(probes: Iterator[InternalRow],
      more: java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(Double, InternalRow, Int)]])
      : Iterator[InternalRow] = {
    val emit = emitter()
    probes.flatMap { rec =>
      val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
      val n = if (g == null) 0 else math.max(0, search(rec, g, Double.PositiveInfinity))
      val metres = if (withDist && n > 0) probe.metres(g) else null
      def metresOf(i: Int) = if (metres == null) 0 else metres(i)
      val extra = if (more == null) null else more.get(rec.getLong(leftWidth))
      if (n == 0 && extra == null) {
        if (keepsUnmatched) Iterator.single(emit(rec, null, 0, Leaf.NoRight)) else Iterator.empty
      } else if (mode == SpatialJoinMode.Semi) Iterator.single(emit(rec, null, 0, Leaf.NoRight))
      else if (mode == SpatialJoinMode.Anti) Iterator.empty
      else if (extra == null) Iterator.tabulate(n)(h => emit(rec, row(found(h)), metresOf(found(h)), h))
      else {
        // the rows found here are copied: the merge holds them together
        val here = (0 until n).map(h => (dists(h), row(found(h)).copy(): InternalRow, metresOf(found(h))))
        (here ++ extra)
          .sortWith { (a, b) => a._1 < b._1 || (a._1 == b._1 && ordering.exists(_.lt(a._2, b._2))) }
          .take(k).iterator.zipWithIndex.map { case ((_, r, d), pos) => emit(rec, r, d, pos) }
      }
    }
  }

  // the output row of a probe record and a right row, past any fields the
  // exec appended to the record, with the pair's metres and the row's
  // 0-based rank; rank NoRight for a row without a right side (an outer
  // join's unmatched row, or a semi or anti row)
  private def emitter(): (InternalRow, InternalRow, Int, Int) => InternalRow = {
    val out = UnsafeProjection.create(output, probeAttrs ++ output.drop(leftWidth))
    val joined = new JoinedRow
    val nullRight = new GenericInternalRow(rightAttrs.length)
    val withTail = new JoinedRow
    val tail = if (!withDist && !withRank) null
      else new GenericInternalRow((if (withDist) 1 else 0) + (if (withRank) 1 else 0))
    (rec, r, metres, pos) => {
      numOutputRows += 1
      val right = if (pos == Leaf.NoRight) nullRight else r
      if (tail == null) out(joined(rec, right))
      else {
        if (withDist) { if (pos == Leaf.NoRight) tail.setNullAt(0) else tail.setInt(0, metres) }
        if (withRank) {
          val t = if (withDist) 1 else 0
          if (pos == Leaf.NoRight) tail.setNullAt(t) else tail.setLong(t, pos + 1L)
        }
        out(joined(rec, withTail(right, tail)))
      }
    }
  }
}

private[plans] object Leaf {

  /** The rank an emitted row without a right side carries. */
  val NoRight = -1

  /** The flat index of `rows`' geometries, the WKB at ordinal `rIdx`. */
  def index(rows: PackedRows, rIdx: Int): FlatSpatialIndex = {
    val view = new UnsafeRow(rows.numFields)
    FlatSpatialIndex(rows.numRows, { i =>
      val r = rows.read(i, view)
      if (r.isNullAt(rIdx)) null else r.getBinary(rIdx)
    })
  }

  /** Packs `it` (rows of the types `schema`) in `ordering`'s order, a
    * stable sort of the arrival order, or as they arrive without one. */
  def pack(it: Iterator[InternalRow], schema: Array[DataType],
      ordering: Option[Ordering[InternalRow]]): PackedRows = {
    val arrived = PackedRows.pack(it, schema)
    ordering match {
      case None => arrived
      case Some(ord) =>
        val a = new UnsafeRow(schema.length)
        val b = new UnsafeRow(schema.length)
        val order = Array.tabulate[Integer](arrived.numRows)(Integer.valueOf)
        java.util.Arrays.sort(order, (i: Integer, j: Integer) => ord.compare(arrived.read(i, a), arrived.read(j, b)))
        PackedRows.pack(order.iterator.map(i => arrived.read(i, a)), schema)
    }
  }

  /** The point of [min, max] nearest to the interval [pMin, pMax]: an end
    * of it, or where the two overlap, the larger of the two minima. */
  @inline private def nearestIn(pMin: Double, pMax: Double, min: Double, max: Double): Double =
    if (pMax < min) min else if (pMin > max) max else math.max(pMin, min)
}
