package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.serializer.{JavaSerializer, KryoSerializer, Serializer}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkTestKit.spark
import graft.functions.GeoExpressions.computeWkbPoint
import graft.spatial.{GeoKit, SpatialJoinMode, SpatialPredicate}
import graft.transformer.BroadcastSpatialJoin

/** A leaf that emits `parts` as its partitions, rows as given: a row that
  * is not an `UnsafeRow` stays one. */
private case class RowsExec(output: Seq[Attribute], parts: Seq[Seq[InternalRow]]) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(parts, math.max(1, parts.length)).flatMap(identity)
}

/**
 * The broadcast kernel's broadcast value on a cluster. In local mode the
 * driver's block manager hands every task the broadcast object itself,
 * so nothing is ever deserialized; this spec round-trips the value
 * through Spark's `JavaSerializer` and `KryoSerializer`, as an executor
 * would receive it, then compares every right row and the join result
 * with the value the driver built.
 */
class BroadcastRoundTripSpec extends AnyFlatSpec with Matchers {

  private type Side = (PackedRows, FlatSpatialIndex)

  private val serializers: Seq[(String, Serializer)] = Seq(
    "java" -> new JavaSerializer(spark.sparkContext.getConf),
    "kryo" -> new KryoSerializer(spark.sparkContext.getConf))

  private def roundTrip[T: ClassTag](ser: Serializer, v: T): T = {
    val s = ser.newInstance()
    s.deserialize[T](s.serialize(v))
  }

  private val gf = new GeometryFactory()

  // plans take their session from the thread's active one
  org.apache.spark.sql.classic.SparkSession.setActiveSession(spark)

  private def square(x: Double, y: Double, h: Double): Array[Byte] =
    GeoKit.geomToWkb(gf.createPolygon(Array(new Coordinate(x - h, y - h), new Coordinate(x + h, y - h),
      new Coordinate(x + h, y + h), new Coordinate(x - h, y + h), new Coordinate(x - h, y - h))))

  private val pid = AttributeReference("pid", LongType, nullable = false)()
  private val lwkb = AttributeReference("lwkb", BinaryType)()
  private val dist = AttributeReference("dm", IntegerType)()

  /** Probes on the sites' band, one without geometry, in 3 partitions. */
  private def probes = RowsExec(Seq(pid, lwkb), (0 until 3).map(p =>
    (p until 31 by 3).map { i =>
      new GenericInternalRow(Array[Any](i.toLong,
        if (i == 30) null else computeWkbPoint(i * 1.3 - 2, i % 5 + 0.2))): InternalRow
    }))

  /** Right attributes of every type a broadcast row carries. */
  private val rightAttrs = Seq(
    AttributeReference("sid", LongType, nullable = false)(),
    AttributeReference("rwkb", BinaryType)(),
    AttributeReference("name", StringType)(),
    AttributeReference("payload", BinaryType)(),
    AttributeReference("dec", DecimalType(38, 10))(),
    AttributeReference("arr", ArrayType(IntegerType))(),
    AttributeReference("m", MapType(StringType, IntegerType))(),
    AttributeReference("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))(),
    AttributeReference("ts", TimestampType)())
  private val rightTypes = rightAttrs.map(_.dataType).toArray

  /** Site `k`: a point, every third a square; every fourth has null
    * payload columns. */
  private def site(k: Int): InternalRow = {
    val x = k.toDouble; val y = (k % 5).toDouble
    val nulls = k % 4 == 0
    def v(a: => Any): Any = if (nulls) null else a
    new GenericInternalRow(Array[Any](
      k.toLong,
      if (k % 3 == 0) square(x, y, 0.6) else computeWkbPoint(x, y),
      v(UTF8String.fromString(s"site-$k-" + "é" * (k % 7))),
      v(Array.tabulate[Byte](k % 9)(_.toByte)),
      v(Decimal(BigDecimal(k) * BigDecimal("12345678901234567890.0123456789"), 38, 10)),
      v(new GenericArrayData(Array[Any](k, null, -k))),
      v(new ArrayBasedMapData(
        new GenericArrayData(Array[Any](UTF8String.fromString("k"), UTF8String.fromString(s"k$k"))),
        new GenericArrayData(Array[Any](k, null)))),
      v(new GenericInternalRow(Array[Any](k, UTF8String.fromString(s"b$k")))),
      v(1700000000000000L + k * 1000003L)))
  }

  private def unsafe(rows: Seq[InternalRow]): Seq[InternalRow] = {
    val p = UnsafeProjection.create(rightTypes)
    rows.map(p(_).copy())
  }

  /** The joins the value serves: nearest, withindist, a relation. */
  private val joins: Seq[(SpatialPredicate, SpatialJoinMode, Boolean)] = Seq(
    (SpatialPredicate.Nearest, SpatialJoinMode.Inner, true),
    (SpatialPredicate.WithinDist(150000), SpatialJoinMode.LeftOuter, true),
    (SpatialPredicate.Intersects, SpatialJoinMode.Semi, false),
    (SpatialPredicate.Intersects, SpatialJoinMode.Anti, false))

  private def execOf(right: RowsExec, join: (SpatialPredicate, SpatialJoinMode, Boolean)) =
    BroadcastSpatialJoinExec(probes, right, lwkb, right.output(1), join._1, None,
      if (join._3) Some(dist) else None, join._2)

  private def collected(rdd: RDD[InternalRow]): Seq[InternalRow] = rdd.map(_.copy()).collect().toSeq

  /** Every object reachable from `v` through its non-transient fields. */
  private def reachable(v: AnyRef): Seq[AnyRef] = {
    val seen = new java.util.IdentityHashMap[AnyRef, Unit]()
    val todo = scala.collection.mutable.Stack[AnyRef](v)
    while (todo.nonEmpty) {
      val o = todo.pop()
      if (o != null && !seen.containsKey(o)) {
        seen.put(o, ())
        o match {
          case a: Array[AnyRef] => a.foreach(todo.push)
          case _ if o.getClass.isArray => ()
          case _ =>
            var c: Class[_] = o.getClass
            while (c != null) {
              c.getDeclaredFields.filter { f =>
                val m = f.getModifiers
                !java.lang.reflect.Modifier.isStatic(m) && !java.lang.reflect.Modifier.isTransient(m) &&
                  !f.getType.isPrimitive
              }.foreach { f => f.setAccessible(true); todo.push(f.get(o)) }
              c = c.getSuperclass
            }
        }
      }
    }
    scala.jdk.CollectionConverters.SetHasAsScala(seen.keySet()).asScala.toSeq
  }

  /** Checks the value `exec` broadcast against its right rows, then its
    * Java and Kryo copies: every row, and the join they give. */
  private def checkRoundTrips(exec: BroadcastSpatialJoinExec, expectedRows: Seq[InternalRow]): Unit = {
    val want = collected(exec.execute())
    val (rows, index) = exec.packedBroadcast.value
    // primitive arrays and four holders, whatever the row count: at most
    // one byte chunk and one offset array per right partition here
    val objects = reachable((rows, index))
    objects.count(o => !o.getClass.isArray) shouldBe 4
    objects.size should be <= 16 + 2 * exec.right.execute().getNumPartitions
    for ((name, ser) <- serializers) withClue(s"$name: ") {
      val side: Side = roundTrip(ser, (rows, index))
      val (rt, rtIndex) = side
      rt.numRows shouldBe expectedRows.length
      rt.sizeInBytes shouldBe rows.sizeInBytes
      rtIndex.size shouldBe index.size
      val view = new UnsafeRow(rt.numFields)
      for (i <- expectedRows.indices) withClue(s"row $i: ") {
        rt.read(i, view) shouldBe expectedRows(i)
      }
      val bc: Broadcast[Side] = spark.sparkContext.broadcast(side)
      try collected(exec.probe(bc)) shouldBe want
      finally bc.destroy()
    }
  }

  "The broadcast value" should "round-trip every type, null and layout, rows unsafe or not" in {
    val sites = (0 until 40).map(site)
    val layouts: Seq[(String, Seq[Seq[InternalRow]])] = Seq(
      "one partition" -> Seq(sites),
      "seven partitions, two empty" -> Seq(sites.take(9), Nil, sites.slice(9, 20), sites.slice(20, 21),
        Nil, sites.slice(21, 33), sites.drop(33)),
      "empty, in two partitions" -> Seq(Nil, Nil))
    for ((layout, parts) <- layouts; asUnsafe <- Seq(false, true); join <- joins)
      withClue(s"$layout, unsafe rows $asUnsafe, ${join._1} ${join._2.name}: ") {
        val right = RowsExec(rightAttrs, if (asUnsafe) parts.map(unsafe) else parts)
        parts.length shouldBe right.execute().getNumPartitions
        val exec = execOf(right, join)
        val rows = collected(exec.execute())
        if (join._2 == SpatialJoinMode.Inner && parts.flatten.nonEmpty) rows should not be empty
        checkRoundTrips(exec, unsafe(parts.flatten))
      }
  }

  it should "keep executeCollect's row order, so nearest picks the same row among stacked sites" in {
    // sites 10, 3 and 7 share one coordinate, in partitions 0, 1 and 2:
    // row order is partition order, so nearest takes site 10
    def at(k: Int, x: Double): InternalRow = {
      val r = site(k).asInstanceOf[GenericInternalRow]
      r.update(1, computeWkbPoint(x, 2.0))
      r
    }
    val parts = Seq(Seq(at(10, 5.0), at(1, 30.0)), Seq(at(3, 5.0)), Nil, Seq(at(7, 5.0), at(2, -30.0)))
    val right = RowsExec(rightAttrs, parts)
    val exec = execOf(right, joins.head)
    // probes 0 to 14 are nearer the stack than the sites at x = +-30
    val sids = collected(exec.execute()).map(r => (r.getLong(0), r.getLong(2))).toMap
    sids.filter(_._1 <= 14).values.toSet shouldBe Set(10L)
    checkRoundTrips(exec, unsafe(parts.flatten))
  }

  it should "keep every row across chunk boundaries and in a chunk of its own" in {
    val attrs = Seq(AttributeReference("k", IntegerType)(), AttributeReference("blob", BinaryType)())
    val types = attrs.map(_.dataType).toArray
    val p = UnsafeProjection.create(types)
    // 2.5 chunks of 4 KB rows, then one row past the chunk bound
    val big = PackedRows.ChunkBytes / 4096 * 5 / 2
    val rows = ((0 until big).map(k => Array.fill[Byte](4096)(k.toByte)) :+
      Array.fill[Byte](PackedRows.ChunkBytes + 8)(7)).zipWithIndex.map { case (b, k) =>
      p(new GenericInternalRow(Array[Any](k, b))).copy(): InternalRow
    }
    val packed = PackedRows.concat(Array(
      PackedRows.pack(rows.take(10).iterator, types),
      PackedRows.pack(Iterator.empty, types),
      PackedRows.pack(rows.drop(10).iterator, types)), types.length)
    packed.numRows shouldBe rows.length
    packed.sizeInBytes shouldBe rows.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    // the first part's chunk, at least three bounded ones, and the
    // oversized row's own
    val chunks = reachable(packed).collect { case b: Array[Byte] => b.length }
    chunks.count(_ > PackedRows.ChunkBytes) shouldBe 1
    chunks.size should be >= 5
    for ((name, ser) <- ("driver" -> null) +: serializers) withClue(s"$name: ") {
      val rt = if (ser == null) packed else roundTrip(ser, packed)
      val view = new UnsafeRow(2)
      for (i <- rows.indices) rt.read(i, view) shouldBe rows(i)
    }
  }

  it should "round-trip a value whose condition hashes keys and filters rows" in {
    import spark.implicits._
    (0 until 60).map(i => (i.toLong, i * 0.5, (i % 4).toDouble, s"g${i % 3}"))
      .toDF("sid", "slon", "slat", "grp").createOrReplaceTempView("roundtrip_sites")
    val probeRows = (0 until 25).map(i => (i.toLong, i * 1.1, (i % 4) + 0.3, s"g${i % 4}"))
      .toDF("pid", "lon", "lat", "grp")
    for (pred <- Seq("nearest", "withindist 120000")) withClue(s"$pred: ") {
      val df = new BroadcastSpatialJoin()
        .setDataset("roundtrip_sites").setDatasetPoint("slon, slat")
        .setInputPoint("lon, lat").setDataColumns("sid")
        .setBroadcast("dataset").setPredicate(pred)
        .setJoinCondition("right.grp = left.grp AND right.sid % 7 <> 3")
        .transform(probeRows)
      df.collect() should not be empty
      val exec = new AdaptiveSparkPlanHelper {}.collectFirst(df.queryExecution.executedPlan) {
        case e: BroadcastSpatialJoinExec => e
      }.get
      exec.hashKeys should not be empty
      checkRoundTrips(exec, exec.right.executeCollect().toSeq.map(_.copy()))
    }
  }
}
