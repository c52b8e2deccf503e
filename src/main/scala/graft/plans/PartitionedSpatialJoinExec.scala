package graft.plans

import org.apache.spark.{HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.{BinaryExecNode, SQLExecution, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.locationtech.jts.geom.Envelope

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
 * kernel refines it (the same [[Leaf]]). Output as the logical
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
 *  3. Per leaf, the right rows are packed as `UnsafeRow` bytes
 *     ([[PackedRows]]; in `tieOrder` for nearest, so row index order is
 *     tie order), indexed in one [[FlatSpatialIndex]] and probed by a
 *     [[Leaf]], the leaf join the broadcast exec runs over its whole
 *     right side, equi keys hashed alike ([[IndexedCondition]]).
 *
 * A relation or `withindist` probe goes to every leaf its search box
 * ([[SpatialProbe.searchBox]]: its envelope, grown by the radius for
 * `withindist`, plus its copy a turn away when it crosses ±180,
 * [[SpatialProbe.wrappedBox]]) meets, and each leaf probes it with
 * [[Leaf.relate]], as the broadcast kernel does. One job stage for an
 * inner join. For left, semi and anti, the
 * leaves other than the home send the ids of the probes they matched
 * to the home leaf, which decides each probe once.
 *
 * A nearest probe goes to its home leaf, where [[Leaf.search]]
 * ([[SpatialProbe.nearestK]]) gives its first k passing rows. It is resolved there when its k-th
 * distance is strictly below the clearance from its envelope to the
 * leaf's sides; every other probe is forwarded once, to the leaves whose
 * box lies within its k-th distance (all of them when it has fewer than
 * k hits), and searched there up to that distance. The final pass
 * re-probes each home leaf and merges the forwarded hits by (distance,
 * `tieOrder`) ([[Leaf.nearest]]). One leaf (n = 1) forwards nothing and
 * places no row: every row counts in it.
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
    val rightTypes = rightAttrs.map(_.dataType).toArray
    val pred = predicate
    val nearest = pred == SpatialPredicate.Nearest
    // a probe record is the left row ++ (probe id, search bound); a
    // forwarded hit is (probe id, distance, metres) ++ the right row. Both
    // are bound by attribute, and so built here, on the driver
    def field(name: String, dt: DataType) = AttributeReference(name, dt, nullable = false)()
    val probeId = field("probe_id", LongType)
    val recAttrs = left.output :+ probeId :+ field("bound", DoubleType)
    val hitAttrs = Seq(probeId, field("distance", DoubleType), field("metres", IntegerType)) ++ rightAttrs
    val ordering = if (tieOrder.isEmpty) None
      else Some(new LazilyGeneratedOrdering(tieOrder.map(SortOrder(_, Ascending)), rightAttrs))
    val join = LeafJoin(recAttrs, leftWidth, lIdx, rightAttrs, rIdx, pred, condition, mode, k,
      ordering, output, distAttr.isDefined, rankAttr.isDefined,
      metrics("candidates"), metrics("refines"), metrics("numOutputRows"))
    val replicated = metrics("replicatedRows")
    val forwarded = metrics("forwardedProbes")

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
    }, rightAttrs.length)

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
        if (e == null) { if (join.keepsUnmatched) to += (id % n).toInt }
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

    // each leaf's right rows, packed (in tie order for nearest), with the
    // leaf's id: the partition index, read where it is the shuffle's (a
    // task may run several partitions, say under a downstream coalesce)
    val leafRights = rightByLeaf.mapPartitionsWithIndex((j, it) =>
      Iterator.single((j, Leaf.pack(it, rightTypes, ordering))), preservesPartitioning = true)
    def leafOf(rights: Iterator[(Int, PackedRows)]): Leaf = {
      val (id, rows) = rights.next()
      new Leaf(join, id, cut, rows, Leaf.index(rows, rIdx))
    }

    if (!nearest) {
      // the relation predicates: each leaf refines the probes it received;
      // for left, semi and anti, the other leaves first send the home leaf
      // the ids of the probes they matched
      if (mode == SpatialJoinMode.Inner || n == 1)
        return leftByLeaf.zipPartitions(leafRights)((probes, rights) =>
          leafOf(rights).counted().relate(probes, null))
      val matchedElsewhere = shuffled(leftByLeaf.zipPartitions(leafRights) { (probes, rights) =>
        val leaf = leafOf(rights).counted()
        val idOf = UnsafeProjection.create(Seq(probeId), recAttrs)
        probes.flatMap { rec =>
          val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
          if (g == null || leaf.isHome(g) || !leaf.related(rec, g, needDist = false).hasNext)
            Iterator.empty
          else Iterator.single((homeOf(cut, g.getEnvelopeInternal), idOf(rec): InternalRow))
        }
      }, 1)
      return leftByLeaf.zipPartitions(leafRights, matchedElsewhere)((probes, rights, marks) =>
        leafOf(rights).counted().relate(probes, marks))
    }

    if (n == 1)
      return leftByLeaf.zipPartitions(leafRights)((probes, rights) =>
        leafOf(rights).counted().nearest(probes, null))
    // probes not resolved in their home leaf, to every leaf they reach
    val forwards = shuffled(leftByLeaf.zipPartitions(leafRights) { (probes, rights) =>
      // uncounted: the final pass repeats this home search and counts it
      val leaf = leafOf(rights)
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
    val hits = shuffled(forwards.zipPartitions(leafRights) { (probes, rights) =>
      val leaf = leafOf(rights).counted()
      val hit = UnsafeProjection.create(hitAttrs, hitAttrs)
      val head = new GenericInternalRow(3)
      val joined = new JoinedRow
      probes.flatMap { rec =>
        forwarded += 1
        val g = GeoKit.wkbToGeom(rec.getBinary(lIdx))
        val found = leaf.search(rec, g, rec.getDouble(leftWidth + 1))
        val metres = if (join.withDist) leaf.probe.metres(g) else null
        val home = homeOf(cut, g.getEnvelopeInternal)
        val id = rec.getLong(leftWidth)
        (0 until math.max(0, found)).iterator.map { h =>
          val i = leaf.found(h)
          head.setLong(0, id); head.setDouble(1, leaf.dists(h))
          head.setInt(2, if (metres == null) 0 else metres(i))
          (home, hit(joined(head, leaf.row(i))): InternalRow)
        }
      }
    }, hitAttrs.length)
    leftByLeaf.zipPartitions(leafRights, hits) { (probes, rights, forwardedHits) =>
      val leaf = leafOf(rights).counted()
      // forwarded hits by probe id, as (distance, right row, metres)
      val more = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[(Double, InternalRow, Int)]]()
      val rightOf = UnsafeProjection.create(rightAttrs, hitAttrs)
      forwardedHits.foreach { h =>
        more.computeIfAbsent(h.getLong(0), _ => scala.collection.mutable.ArrayBuffer())
          .append((h.getDouble(1), rightOf(h).copy(), h.getInt(2)))
      }
      leaf.nearest(probes, more)
    }
  }
}

object PartitionedSpatialJoinExec {

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
