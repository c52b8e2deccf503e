package graft.plans

import java.util.function.IntFunction

import org.apache.spark.{HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.locationtech.jts.geom.{Envelope, Geometry}

import graft.join.PairCondition
import graft.spatial.{GeoKit, SpatialJoinMode, SpatialPredicate}

/**
 * The partitioned kernel of [[SpatialJoinPlan]], for every predicate
 * (graft.spatial.SpatialPredicate), with neither side broadcast.
 *
 * `nearest`: for each left row, the k right rows nearest to it (JTS
 * `Geometry.distance`) that pass the condition, in (distance,
 * `tieOrder`) order, with `rankAttr` the 1-based rank. The relation
 * predicates and `withindist`: every right row that `left op right`
 * holds for and that passes the condition, refined as the broadcast
 * kernel refines it ([[SpatialProbe.matches]]). Output as the logical
 * node's (nearest joins inner or left); the distance is filled in where
 * a row is emitted.
 *
 * One lazy plan whose work all runs in `doExecute`, partition by
 * partition, as REPOSE (ICDE 2021) and Simba's kNN join (SIGMOD 2016)
 * bound it:
 *
 *  1. Leaves. One job samples the centres of the right envelopes and
 *     cuts KD leaves from them ([[SpatialLeaves]]): at most
 *     min(right rows, 2 · defaultParallelism, shuffle partitions), each
 *     holding an equal share of the sample, so a dense cluster splits.
 *     The leaves tile the plane, so no result depends on the sample.
 *  2. One shuffle per side: a right row goes to every leaf its envelope
 *     meets. A left row's home is the leaf of its envelope centre.
 *  3. Per leaf, the right rows (sorted by `tieOrder` for nearest, so row
 *     index order is tie order) are indexed in one [[FlatSpatialIndex]],
 *     equi keys hashed as in the broadcast exec ([[IndexedCondition]]).
 *
 * A relation or `withindist` probe goes to every leaf its search box
 * ([[SpatialProbe.searchBox]]: its envelope, grown by the radius for
 * `withindist`, plus its copy a turn away when it crosses ±180,
 * [[SpatialProbe.wrappedBox]]) meets, and each leaf probes it with
 * [[SpatialProbe.matches]], the broadcast kernel's refine and condition
 * order. One job stage for an inner join. For left, semi and anti, the
 * leaves other than the home send the ids of the probes they matched
 * to the home leaf, which decides each probe once.
 *
 * A nearest probe goes to its home leaf, where [[SpatialProbe.nearestK]]
 * gives its first k passing rows. It is resolved there when its k-th
 * distance is strictly below the clearance from its envelope to the
 * leaf's sides; every other probe is forwarded once, to the leaves whose
 * box lies within its k-th distance (all of them when it has fewer than
 * k hits), and searched there up to that distance. The final pass
 * re-probes each home leaf and merges the forwarded hits by (distance,
 * `tieOrder`).
 *
 * A right row replicated to several leaves counts once per probe, in its
 * reference leaf: the leaf that owns the point of the row's envelope
 * nearest to the probe's box (its envelope for nearest, its search box
 * otherwise). Where the two boxes overlap, that is the point (max of the
 * minX values, max of the minY values). The point is in the row's
 * envelope, so the row is in that leaf; a nearest probe that the row
 * could reach searches that leaf, and a relation probe reaches it
 * because the point is in its search box. A `withindist` box that
 * crosses ±180 places a row by the first of its two boxes that the row's
 * envelope meets. Genuinely identical right rows are distinct rows and
 * count separately.
 */
case class PartitionedSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftWkb: Attribute,
    rightWkb: Attribute,
    predicate: SpatialPredicate,
    tieOrder: Seq[Attribute],
    k: Int,
    condition: Option[PairCondition.Split],
    mode: SpatialJoinMode,
    distAttr: Option[AttributeReference],
    rankAttr: Option[AttributeReference])
  extends BinaryExecNode {

  import PartitionedSpatialJoinExec._

  override def output: Seq[Attribute] =
    SpatialJoinPlan.output(left.output, right.output, mode, distAttr, rankAttr)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): PartitionedSpatialJoinExec =
    copy(left = newLeft, right = newRight)

  /** `leaves` is taken on the driver; the rest add up over tasks.
    * `replicatedRows` counts right-row copies beyond each row's first
    * leaf, and `forwardedProbes` the (probe, leaf) searches away from a
    * probe's home leaf. `candidates` and `refines` are [[SpatialProbe]]'s
    * counters over a nearest probe's home and forwarded searches, and
    * over every (probe, leaf) search of a relation join (a left join
    * searches a probe away from home twice: whether it matches, then
    * its rows). A candidate is a row that counts in the leaf, so an
    * inner relation join's candidates and refines equal the broadcast
    * kernel's. */
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "leaves" -> SQLMetrics.createMetric(sparkContext, "number of leaves"),
    "replicatedRows" -> SQLMetrics.createMetric(sparkContext, "number of replicated right rows"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "number of candidates"),
    "refines" -> SQLMetrics.createMetric(sparkContext, "number of refines"),
    "forwardedProbes" -> SQLMetrics.createMetric(sparkContext, "number of forwarded probes"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def ordinal(attrs: Seq[Attribute], a: Attribute): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"attribute $a must be in child output")
    i
  }

  // the leaves of one physical plan, cut once: Dataset caches its
  // QueryExecution, so repeated actions reuse them
  @transient private lazy val leaves: SpatialLeaves = {
    val rIdx = ordinal(right.output, rightWkb)
    val rdd = right.execute()
    val perPartition = math.max(64, SampleSize / math.max(1, rdd.getNumPartitions))
    val samples = described(sparkContext, "PartitionedSpatialJoinExec: sample right envelopes") {
      rdd.mapPartitionsWithIndex { (p, it) =>
        val xs = new Array[Double](perPartition)
        val ys = new Array[Double](perPartition)
        val rnd = new java.util.Random(p)
        var seen = 0L
        it.foreach { row =>
          val e = envelopeOf(row, rIdx)
          if (e != null) {
            val x = (e.getMinX + e.getMaxX) / 2; val y = (e.getMinY + e.getMaxY) / 2
            if (java.lang.Double.isFinite(x) && java.lang.Double.isFinite(y)) {
              val slot = if (seen < perPartition) seen else rnd.nextLong(seen + 1)
              if (slot < perPartition) { xs(slot.toInt) = x; ys(slot.toInt) = y }
              seen += 1
            }
          }
        }
        val n = math.min(seen, perPartition).toInt
        Iterator((seen, xs.take(n), ys.take(n)))
      }.collect()
    }
    val rows = samples.map(_._1).sum
    val target = math.min(rows, math.min(2L * sparkContext.defaultParallelism,
      conf.numShufflePartitions.toLong)).toInt
    val cut =
      if (target <= 1) SpatialLeaves.Whole
      else SpatialLeaves.cut(samples.flatMap(_._2), samples.flatMap(_._3), target)
    metrics("leaves") += cut.count
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(metrics("leaves")))
    cut
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lIdx = ordinal(left.output, leftWkb)
    val rIdx = ordinal(right.output, rightWkb)
    val cut = leaves
    val n = cut.count
    val leftWidth = left.output.length
    val rightAttrs = right.output
    val rightWidth = rightAttrs.length
    val kk = k
    val pred = predicate
    val nearest = pred == SpatialPredicate.Nearest
    val joinMode = mode
    // rows without geometry that the output keeps, unmatched
    val keepsUnmatched = mode == SpatialJoinMode.LeftOuter || mode == SpatialJoinMode.Anti
    val withDist = distAttr.isDefined
    val withRank = rankAttr.isDefined
    // a probe record is the left row ++ (probe id, search bound); a
    // forwarded hit is (probe id, distance, metres) ++ the right row. Both
    // are bound by attribute, and so built here, on the driver
    def field(name: String, dt: DataType) = AttributeReference(name, dt, nullable = false)()
    val probeId = field("probe_id", LongType)
    val recAttrs = left.output :+ probeId :+ field("bound", DoubleType)
    val hitAttrs = Seq(probeId, field("distance", DoubleType), field("metres", IntegerType)) ++ rightAttrs
    val split = condition
    val ordering = if (tieOrder.isEmpty) None
      else Some(new LazilyGeneratedOrdering(tieOrder.map(SortOrder(_, Ascending)), rightAttrs))
    // the output is bound over a record ++ a right row ++ (metres, rank)
    val outAttrs = output
    val outLayout = recAttrs ++ outAttrs.drop(leftWidth)
    val replicated = metrics("replicatedRows")
    val candidates = metrics("candidates")
    val refines = metrics("refines")
    val forwarded = metrics("forwardedProbes")
    val numOutputRows = metrics("numOutputRows")

    def shuffled(rdd: RDD[(Int, InternalRow)], fields: Int): RDD[InternalRow] =
      new ShuffledRDD[Int, InternalRow, InternalRow](rdd, new HashPartitioner(n))
        .setSerializer(new UnsafeRowSerializer(fields))
        .mapPartitions(_.map(_._2), preservesPartitioning = true)

    // right rows to every leaf their envelope meets
    val rightByLeaf = shuffled(right.execute().mapPartitions { it =>
      val unsafe = UnsafeProjection.create(rightAttrs, rightAttrs)
      val to = scala.collection.mutable.ArrayBuffer[Int]()
      var copies = 0L
      TaskContext.get().addTaskCompletionListener[Unit](_ => replicated += copies)
      it.flatMap { row =>
        val e = envelopeOf(row, rIdx)
        to.clear()
        if (e != null) cut.meeting(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)(to += _)
        if (to.isEmpty) Iterator.empty
        else {
          copies += to.length - 1
          val u = row match { case u: UnsafeRow => u; case r => unsafe(r) }
          to.iterator.map(j => (j, u: InternalRow))
        }
      }
    }, rightWidth)

    // left rows, stamped with a probe id: a nearest probe to its home
    // leaf, any other to every leaf its search box meets; rows without
    // geometry that the output keeps ride to one leaf, to be emitted
    // unmatched
    val leftByLeaf = shuffled(left.execute().mapPartitionsWithIndex { (p, it) =>
      val rec = UnsafeProjection.create(recAttrs, recAttrs)
      val extra = new GenericInternalRow(2)
      val joined = new JoinedRow
      val to = scala.collection.mutable.ArrayBuffer[Int]()
      var copies = 0L
      TaskContext.get().addTaskCompletionListener[Unit](_ => forwarded += copies)
      var ordinalInPartition = 0L
      it.flatMap { row =>
        val id = (p.toLong << 32) | ordinalInPartition
        ordinalInPartition += 1
        val e = envelopeOf(row, lIdx)
        to.clear()
        if (e == null) { if (keepsUnmatched) to += (id % n).toInt }
        else if (nearest) to += homeOf(cut, e)
        else {
          val b = SpatialProbe.searchBox(e, pred)
          cut.meeting(b.getMinX, b.getMinY, b.getMaxX, b.getMaxY)(to += _)
          val w = SpatialProbe.wrappedBox(b, pred)
          if (w != null)
            cut.meeting(w.getMinX, w.getMinY, w.getMaxX, w.getMaxY)(j => if (!to.contains(j)) to += j)
          copies += to.length - 1
        }
        if (to.isEmpty) Iterator.empty
        else {
          extra.setLong(0, id); extra.setDouble(1, Double.PositiveInfinity)
          val u = rec(joined(row, extra))
          to.iterator.map(j => (j, u: InternalRow))
        }
      }
    }, recAttrs.length)

    // each leaf's right rows with the leaf's id: the partition index, read
    // where it is the shuffle's (a task may run several partitions, say
    // under a downstream coalesce)
    val leafRights = rightByLeaf.mapPartitionsWithIndex((j, it) =>
      Iterator.single((j, it.map(_.copy()).toArray)), preservesPartitioning = true)
    def leafOf(rights: Iterator[(Int, Array[InternalRow])]): Leaf = {
      val (id, rows) = rights.next()
      val leaf = new Leaf(id, cut, rows, rIdx, ordering, split, kk, recAttrs, rightAttrs)
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        candidates += leaf.probe.candidates
        refines += leaf.probe.refines
      }
      leaf
    }
    // the output row of a probe record and a right row, past the
    // record's probe id and bound, with the pair's metres and the row's
    // 0-based rank; rank NoRight for a row without a right side (an
    // outer join's unmatched row, or a semi or anti row)
    def emitter(): (InternalRow, InternalRow, Int, Int) => InternalRow = {
      val out = UnsafeProjection.create(outAttrs, outLayout)
      val joined = new JoinedRow
      val withTail = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val tail = new GenericInternalRow((if (withDist) 1 else 0) + (if (withRank) 1 else 0))
      (rec, r, metres, pos) => {
        numOutputRows += 1
        if (withDist) { if (pos == NoRight) tail.setNullAt(0) else tail.setInt(0, metres) }
        if (withRank) {
          val t = if (withDist) 1 else 0
          if (pos == NoRight) tail.setNullAt(t) else tail.setLong(t, pos + 1L)
        }
        out(joined(rec, withTail(if (pos == NoRight) nullRight else r, tail)))
      }
    }

    if (!nearest) {
      // the relation predicates: each leaf refines the probes it received;
      // for left, semi and anti, the other leaves first send the home leaf
      // the ids of the probes they matched
      val matchedElsewhere: RDD[InternalRow] =
        if (joinMode == SpatialJoinMode.Inner || n == 1) null
        else shuffled(leftByLeaf.zipPartitions(leafRights) { (probes, rights) =>
          val leaf = leafOf(rights)
          val idOf = UnsafeProjection.create(Seq(probeId), recAttrs)
          probes.flatMap { rec =>
            val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
            if (g == null || leaf.isHome(g) || !leaf.related(rec, g, pred, needDist = false).hasNext)
              Iterator.empty
            else Iterator.single((homeOf(cut, g.getEnvelopeInternal), idOf(rec): InternalRow))
          }
        }, 1)

      def relate(probes: Iterator[InternalRow], rights: Iterator[(Int, Array[InternalRow])],
          marks: Iterator[InternalRow]): Iterator[InternalRow] = {
        val leaf = leafOf(rights)
        val matched = new java.util.HashSet[Long]()
        marks.foreach(m => matched.add(m.getLong(0)))
        val emit = emitter()
        probes.flatMap { rec =>
          val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
          // a record without geometry reached its one leaf only
          val home = g == null || leaf.isHome(g)
          def hits = leaf.related(rec, g, pred, withDist)
          def found = matched.contains(rec.getLong(leftWidth)) || hits.hasNext
          def rows(h: Iterator[(Int, Int)]) = h.map { case (i, d) => emit(rec, leaf.rows(i), d, 0) }
          joinMode match {
            case SpatialJoinMode.Inner => rows(hits)
            case SpatialJoinMode.LeftOuter =>
              val h = hits
              if (home && !h.hasNext && !matched.contains(rec.getLong(leftWidth)))
                Iterator.single(emit(rec, null, 0, NoRight))
              else rows(h)
            case SpatialJoinMode.Semi =>
              if (home && found) Iterator.single(emit(rec, null, 0, NoRight)) else Iterator.empty
            case SpatialJoinMode.Anti =>
              if (home && !found) Iterator.single(emit(rec, null, 0, NoRight)) else Iterator.empty
          }
        }
      }

      return if (matchedElsewhere == null)
        leftByLeaf.zipPartitions(leafRights)((probes, rights) => relate(probes, rights, Iterator.empty))
      else leftByLeaf.zipPartitions(leafRights, matchedElsewhere)(relate)
    }

    val hits: RDD[InternalRow] =
      if (n == 1) null
      else {
        // probes not resolved in their home leaf, to every leaf they reach
        val forwards = shuffled(leftByLeaf.zipPartitions(leafRights) { (probes, rights) =>
          // uncounted: the final pass repeats this home search and counts it
          val (id, rows) = rights.next()
          val leaf = new Leaf(id, cut, rows, rIdx, ordering, split, kk, recAttrs, rightAttrs)
          probes.flatMap { rec =>
            val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
            val targets = leaf.forwardTargets(rec, g)
            if (targets.isEmpty) Iterator.empty
            else {
              val f = rec.copy().asInstanceOf[UnsafeRow]
              f.setDouble(leftWidth + 1, leaf.bound)
              targets.iterator.map(j => (j, f: InternalRow))
            }
          }
        }, recAttrs.length)
        // the forwarded searches' hits, (probe id, distance, metres) ++
        // right row, back to the probe's home leaf
        shuffled(forwards.zipPartitions(leafRights) { (probes, rights) =>
          val leaf = leafOf(rights)
          val hit = UnsafeProjection.create(hitAttrs, hitAttrs)
          val head = new GenericInternalRow(3)
          val joined = new JoinedRow
          probes.flatMap { rec =>
            forwarded += 1
            val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
            val found = leaf.search(rec, g, rec.getDouble(leftWidth + 1))
            val metres = if (withDist) leaf.probe.metres(g) else null
            val home = homeOf(cut, g.getEnvelopeInternal)
            val id = rec.getLong(leftWidth)
            (0 until math.max(0, found)).iterator.map { h =>
              val i = leaf.found(h)
              head.setLong(0, id); head.setDouble(1, leaf.dists(h))
              head.setInt(2, if (metres == null) 0 else metres(i))
              (home, hit(joined(head, leaf.rows(i))): InternalRow)
            }
          }
        }, hitAttrs.length)
      }

    def finish(probes: Iterator[InternalRow], rights: Iterator[(Int, Array[InternalRow])],
        forwardedHits: Iterator[InternalRow]): Iterator[InternalRow] = {
      val leaf = leafOf(rights)
      // forwarded hits by probe id, as (distance, right row, metres)
      val more = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(Double, InternalRow, Int)]]()
      val rightOf = UnsafeProjection.create(rightAttrs, hitAttrs)
      forwardedHits.foreach { h =>
        more.computeIfAbsent(h.getLong(0), _ => scala.collection.mutable.ArrayBuffer())
          .append((h.getDouble(1), rightOf(h).copy(), h.getInt(2)))
      }
      val emit = emitter()
      probes.flatMap { rec =>
        val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
        val found = if (g == null) 0 else math.max(0, leaf.search(rec, g, Double.PositiveInfinity))
        val metres = if (withDist && found > 0) leaf.probe.metres(g) else null
        val here = (0 until found).map { h =>
          val i = leaf.found(h)
          (leaf.dists(h), leaf.rows(i), if (metres == null) 0 else metres(i))
        }
        val extra = more.get(rec.getLong(leftWidth))
        val ranked =
          if (extra == null) here
          else (here ++ extra)
            .sortWith { (a, b) => a._1 < b._1 || (a._1 == b._1 && ordering.exists(_.lt(a._2, b._2))) }
            .take(kk)
        if (ranked.isEmpty) {
          if (keepsUnmatched) Iterator.single(emit(rec, null, 0, NoRight)) else Iterator.empty
        } else ranked.iterator.zipWithIndex.map { case ((_, r, d), pos) => emit(rec, r, d, pos) }
      }
    }

    if (hits == null)
      leftByLeaf.zipPartitions(leafRights)((probes, rights) => finish(probes, rights, Iterator.empty))
    else leftByLeaf.zipPartitions(leafRights, hits)(finish)
  }
}

object PartitionedSpatialJoinExec {

  /** The rank an emitted row without a right side carries. */
  private val NoRight = -1

  /** Right envelope centres sampled to cut the leaves. */
  private val SampleSize = 20000

  /** The envelope of the row's geometry, null for a null or empty one;
    * a 2-D point is read in place. */
  private[plans] def envelopeOf(row: InternalRow, idx: Int): Envelope =
    if (row.isNullAt(idx)) null
    else {
      val w = row.getBinary(idx)
      if (GeoKit.isPointWkb(w)) {
        val be = w(0) == 0
        val x = GeoKit.readDouble(w, 5, be); val y = GeoKit.readDouble(w, 13, be)
        if (x.isNaN || y.isNaN) null else new Envelope(x, x, y, y)
      } else {
        val g = GeoKit.wkbToGeom(w)
        if (g == null) null else g.getEnvelopeInternal
      }
    }

  /** The home leaf of a probe with envelope `e`: the leaf of its centre. */
  private[plans] def homeOf(cut: SpatialLeaves, e: Envelope): Int =
    cut.leafOf((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)

  /** Run `body` with `desc` as the Spark job description of the jobs it
    * starts, then restore the caller's description. */
  private[graft] def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val key = "spark.job.description" // what SparkContext.setJobDescription sets
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** Relative tolerance under a distance bound: JTS's distances err by a
    * few ulps of the coordinates, some 1e-16 of them. */
  private[plans] def tolerance(e: Envelope, d: Double): Double =
    1e-9 * (1.0 + math.max(math.max(math.abs(e.getMinX), math.abs(e.getMaxX)),
      math.max(math.abs(e.getMinY), math.abs(e.getMaxY))) +
      (if (java.lang.Double.isFinite(d)) d else 0.0))
}

/**
 * One leaf's right rows, indexed (sorted by the tie order first, when
 * there is one), and the searches a probe record runs against them. A
 * search counts a row only in its reference leaf (see
 * [[PartitionedSpatialJoinExec]]).
 */
private[plans] final class Leaf(
    id: Int, cut: SpatialLeaves, val rows: Array[InternalRow], rIdx: Int,
    ordering: Option[LazilyGeneratedOrdering], split: Option[PairCondition.Split], k: Int,
    recAttrs: Seq[Attribute], rightAttrs: Seq[Attribute]) {

  ordering.foreach(java.util.Arrays.sort(rows, _))
  private val wkbOf: IntFunction[Array[Byte]] = i =>
    if (rows(i).isNullAt(rIdx)) null else rows(i).getBinary(rIdx)
  private val index = FlatSpatialIndex(rows.length, wkbOf)
  val probe = new SpatialProbe(index, wkbOf)
  private val indexed = new IndexedCondition(split, recAttrs, rightAttrs, index, rows(_))

  /** The last search's hits: row indices and distances, nearest first. */
  val found = new Array[Int](k)
  val dists = new Array[Double](k)
  /** The distance bound that [[forwardTargets]] gave its probe. */
  var bound: Double = Double.PositiveInfinity

  /** Whether this is the home leaf of a probe with geometry `g`. */
  def isHome(g: Geometry): Boolean =
    PartitionedSpatialJoinExec.homeOf(cut, g.getEnvelopeInternal) == id

  /** Whether row i counts here for a probe whose box is `p`: this leaf
    * owns the point of the row's box nearest to `p`. With a second box
    * `wrap` across ±180 (null for none), a row whose box misses `p` is
    * placed by `wrap`, so a row both boxes meet still counts in one leaf. */
  private def counted(p: Envelope, wrap: Envelope): Int => Boolean = {
    val boxes = index.rtree.boxes
    i => {
      val b = index.entry(i) << 2
      val q =
        if (wrap == null || (p.getMaxX >= boxes(b) && p.getMinX <= boxes(b + 2) &&
          p.getMaxY >= boxes(b + 1) && p.getMinY <= boxes(b + 3))) p
        else wrap
      val qx = nearestIn(q.getMinX, q.getMaxX, boxes(b), boxes(b + 2))
      val qy = nearestIn(q.getMinY, q.getMaxY, boxes(b + 1), boxes(b + 3))
      cut.leafOf(qx, qy) == id
    }
  }

  /** The rows `rec` (geometry `g`, null for none) matches under the
    * relation or withindist `predicate` and that count here, with their
    * metres (as [[SpatialProbe.matches]] gives them), in ascending row
    * order, lazily. */
  def related(rec: InternalRow, g: Geometry, predicate: SpatialPredicate,
      needDist: Boolean): Iterator[(Int, Int)] = {
    val tree = indexed.tree(rec)
    if (tree == null || g == null) return Iterator.empty
    val b = SpatialProbe.searchBox(g.getEnvelopeInternal, predicate)
    probe.matches(g, predicate, indexed.candidate(rec), needDist, tree,
      counted(b, SpatialProbe.wrappedBox(b, predicate)))
  }

  /** The rows `rec` (geometry `g`) counts here, at most `bound` away,
    * into [[found]]/[[dists]]; how many, or -1 when no right row in any
    * leaf can pass the condition with it. */
  def search(rec: InternalRow, g: Geometry, bound: Double): Int = {
    val tree = indexed.tree(rec)
    if (tree == null) return -1
    if (g == null) return 0
    val owned = counted(g.getEnvelopeInternal, null)
    val cand = indexed.candidate(rec)
    probe.nearestK(g, i => owned(i) && cand(i), k, bound, found, dists, tree)
  }

  /** The other leaves the probe must search, after its home search here;
    * sets [[bound]] to its k-th distance plus a tolerance. */
  def forwardTargets(rec: InternalRow, g: Geometry): Seq[Int] = {
    if (g == null || cut.count == 1) return Nil
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

  /** The point of [min, max] nearest to the interval [pMin, pMax]: an end
    * of it, or where the two overlap, the larger of the two minima. */
  @inline private def nearestIn(pMin: Double, pMax: Double, min: Double, max: Double): Double =
    if (pMax < min) min else if (pMin > max) max else math.max(pMin, min)
}
