package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.transformer.BroadcastSpatialJoin

/**
 * One benchmark invocation: generate one workload's inputs from the seed,
 * time `BroadcastSpatialJoin.transform` plus a `noop` write of every
 * output row for `--seconds`, check the output once against [[Oracle]],
 * and print the metrics. With `--trace 1` it prints the per-layer
 * metrics instead and writes the spans to `<out>/<workload>-seed<n>.trace.json`.
 *
 * The last line of stdout is the JSON result; everything before it is
 * for people.
 */
object Main {

  /** One workload: its input shape and the transformer settings it uses
    * (everything else stays at the transformer's defaults). */
  final case class Workload(name: String, shape: Gen.Shape, broadcast: String,
      predicate: String, withDist: Boolean) {
    def usesZones: Boolean = shape.zones > 0
  }

  val Workloads: Seq[Workload] = Seq(
    Workload("within_probe",
      Gen.Shape(probes = 300000, sites = 0, zones = 20000, clusters = 24, sitelessClusters = 0,
        sigmaMin = 0.05, sigmaMax = 0.4, zoneCover = 2.5),
      broadcast = "external", predicate = "within", withDist = false),
    Workload("nearest_build",
      Gen.Shape(probes = 30000, sites = 300000, zones = 0, clusters = 24, sitelessClusters = 0,
        sigmaMin = 0.05, sigmaMax = 0.4),
      broadcast = "external", predicate = "nearest", withDist = true),
    Workload("nearest_grid",
      Gen.Shape(probes = 22000, sites = 2200, zones = 0, clusters = 12, sitelessClusters = 3,
        sigmaMin = 0.03, sigmaMax = 0.2),
      broadcast = "none", predicate = "nearest", withDist = false))

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File, cores: Int)

  def parseArgs(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.find(_.name == need("workload")).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload ${need("workload")}; one of ${Workloads.map(_.name).mkString(", ")}"))
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("out")), need("cores").toInt)
  }

  // timed-loop limits: at least two samples, so a median is never a
  // single run, and bounded so a fast run cannot spin forever
  val MinRuns = 2
  val MaxRuns = 200
  // input generation is repeated and its median reported
  val SetupReps = 3
  // warm-up lasts at least this long: the JIT is still compiling the hot
  // paths over the first runs, and on a short workload one warm-up run
  // leaves the first timed runs measurably slower than the rest
  val WarmUpS = 8.0
  val MB: Double = 1024.0 * 1024.0

  final case class Sample(wallS: Double, cpuS: Double, heapMb: Double)

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = a.workload
    a.work.mkdir(); a.out.mkdir()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ok =
      try { new Bench(spark, a).run(sessionS); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
      finally {
        spark.stop()
        deleteTree(a.work)
      }
    // exit explicitly: idle non-daemon pool threads would keep the JVM up
    // for their keep-alive time after main returns
    sys.exit(if (ok) 0 else 1)
  }

  /** Generated inputs and Spark's local dirs live under the work dir and
    * go when the invocation ends. */
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** True when `e` or a cause reports an exhausted disk (Spark wraps the
    * IOException; its spill path reports SPILL_OUT_OF_MEMORY). */
  def diskFull(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
      val m = String.valueOf(t.getMessage)
      m.contains("No space left on device") || m.contains("SPILL_OUT_OF_MEMORY")
    }

  def json(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

final class Bench(spark: SparkSession, a: Main.Args) {
  import Main._

  private val w = a.workload
  private val shape = w.shape
  private val extView = s"perfbench_${w.name}_ext"
  private var failed = 0
  private var attempted = 0
  private var input: DataFrame = _

  private def transformer: BroadcastSpatialJoin = {
    val t = new BroadcastSpatialJoin()
      .setBroadcast(w.broadcast)
      .setPredicate(w.predicate)
      .setDataset(extView)
      .setInputPoint("lon, lat")
    if (w.usesZones) t.setDatasetWKT("wkt").setDataColumns("zone_id")
    else t.setDatasetPoint("lon, lat").setDataColumns("site_id")
    if (w.withDist) t.setDistColAlias("dist_m")
    t
  }

  /** Write this workload's inputs under `dir`, register the external
    * table and point `input` at the probe table. */
  private def setUpInputs(dir: File): Unit = {
    val parts = a.cores
    val probes = new File(dir, "probes").getAbsolutePath
    val ext = new File(dir, "external").getAbsolutePath
    Gen.probeTable(spark, a.seed, shape, parts).write.mode("overwrite").parquet(probes)
    val extDf =
      if (w.usesZones) Gen.zoneTable(spark, a.seed, shape, parts)
      else Gen.siteTable(spark, a.seed, shape, parts)
    extDf.write.mode("overwrite").parquet(ext)
    spark.read.parquet(ext).createOrReplaceTempView(extView)
    input = spark.read.parquet(probes)
  }

  /** One run: transform, force the optimized and then the physical plan,
    * write every row to the `noop` sink. Returns the transformed frame
    * for its plan tracker. */
  private def runOnce(sp: Spans): DataFrame = sp("run", "bench") {
    val df = sp("transform", "transformer") { transformer.transform(input) }
    sp("optimize", "plans") { df.queryExecution.optimizedPlan }
    sp("plan", "plans") { df.queryExecution.executedPlan }
    sp("noop", "spark") { df.write.format("noop").mode("overwrite").save() }
    df
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val liveHeap = new LiveHeap

  /** One timed run, started from a collected heap. A run that throws
    * counts as failed and gives no sample. `after` sees the run's frame
    * outside the timed region. */
  private[perfbench] def timedRun(sp: Spans, after: DataFrame => Unit = _ => ()): Option[Sample] = {
    System.gc()
    liveHeap.reset()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    attempted += 1
    try {
      val df = runOnce(sp)
      val s = Sample((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9,
        liveHeap.peak() / MB)
      after(df)
      Some(s)
    } catch {
      case NonFatal(e) => fail(s"run $attempted", e); None
    }
  }

  /** Calls `step` until `seconds` have passed and it ran `MinRuns` times. */
  private[perfbench] def repeatFor(seconds: Double)(step: => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while ((n < MinRuns || System.nanoTime() < deadline) && n < MaxRuns) { step; n += 1 }
  }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"$what failed: $e")
    if (diskFull(e))
      println(f"disk_full $what: ${a.work.getUsableSpace / MB}%.0f MB free under ${a.work}")
  }

  /** The first warm-up run: transform and collect the columns the
    * oracle checks. Its output is checked after the timed runs. */
  private def warmUp(): Option[Array[Oracle.Row]] = {
    attempted += 1
    val cols = Seq(F.col("id"), F.col(if (w.usesZones) "zone_id" else "site_id")) ++
      (if (w.withDist) Seq(F.col("dist_m")) else Seq(F.lit(-1)))
    try Some(transformer.transform(input).select(cols: _*).collect()
      .map(r => Oracle.Row(r.getLong(0), r.getLong(1), r.getInt(2))))
    catch { case NonFatal(e) => fail("warm-up", e); None }
  }

  /** Check the warm-up output against the oracle, outside the timed region. */
  private def check(rows: Array[Oracle.Row]): Boolean = {
    // brute force costs sample x external rows; bound it
    val sample = Oracle.sampleIds(shape.probes,
      math.min(2000L, 200000000L / math.max(1L, shape.sites + shape.zones * 8)).toInt)
    val errors =
      if (w.usesZones) Oracle.checkWithin(a.seed, shape, sample, rows)
      else Oracle.checkNearest(a.seed, shape, sample, rows, w.withDist)
    errors.foreach(e => println(s"oracle: $e"))
    if (errors.nonEmpty) failed += 1
    errors.isEmpty
  }

  /** Set up, warm up, run and check the workload, and print the result.
    *
    * setup_s = session start + the median of `SetupReps` input
    * generations + the warm-up runs: everything between JVM start and the
    * first timed run, with the repeatable part taken as a median. Each
    * generation writes fresh files, so nothing the program caches from
    * one set of inputs carries over to the next. */
  def run(sessionS: Double): Unit = {
    val gens = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      setUpInputs(new File(a.work, s"inputs-$i"))
      deleteTree(new File(a.work, s"inputs-${i - 1}"))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val output = warmUp()
    var warmRuns = 1
    while (System.nanoTime() - t0 < WarmUpS * 1e9) { timedRun(Spans.Off); warmRuns += 1 }
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + median(gens) + warmS
    println(f"workload ${w.name} seed ${a.seed} cores ${a.cores} probes ${shape.probes} " +
      f"sites ${shape.sites} zones ${shape.zones} clusters ${shape.clusters} " +
      f"siteless_share ${shape.clustersOf(a.seed).sitelessShare}%.3f")
    println(f"setup: session $sessionS%.2f s, input generation ${gens.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up $warmS%.2f s ($warmRuns runs)")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val s = Seq.newBuilder[Sample]
        repeatFor(a.seconds) { s ++= timedRun(Spans.Off) }
        val samples = s.result()
        val walls = samples.map(_.wallS)
        val wall = median(walls)
        if (walls.nonEmpty)
          println(f"wall_s over ${walls.length} runs: ${walls.map(x => f"$x%.3f").mkString(" ")} s")
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wall, "s"),
          ("rows_per_s", shape.probes / wall, "rows/s"),
          ("cpu_s", median(samples.map(_.cpuS)), "s"),
          ("heap_peak_mb", median(samples.map(_.heapMb)), "MB"))
      } else new Layers(spark, a, this).metrics()

    val c0 = System.nanoTime()
    val correct = output.exists(check) && failed == 0
    println(f"oracle check ${(System.nanoTime() - c0) / 1e9}%.2f s")
    val upS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"done $upS%.1f s after JVM start")
    println(f"error_rate ${failed.toDouble / attempted}%.4f ratio ($failed of $attempted runs)")
    metrics.foreach { case (n, v, u) => println(s"$n $v $u") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${json(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  // --- hooks for the traced run -----------------------------------------
  private[perfbench] def workload: Workload = w
  private[perfbench] def probeInput: DataFrame = input
  private[perfbench] def externalView: String = extView
}

/**
 * Peak live heap: the largest heap occupancy a collection leaves behind,
 * which is data still referenced at that moment (the collected broadcast
 * side, an index, buffered rows), not how full eden happened to be.
 * Collections report through JMX notifications on a JVM thread, so
 * readers first wait until every collection counted so far has been
 * reported.
 */
final class LiveHeap extends NotificationListener {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // per collector, the number of its latest reported collection (a
  // collection's id is the collector's count once it is done)
  private val reported = scala.collection.mutable.Map[String, Long]()
  private var last = 0L
  private var max = 0L
  beans.foreach { b =>
    b.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null)
    synchronized { reported(b.getName) = math.max(reported.getOrElse(b.getName, 0L), b.getCollectionCount) }
  }

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        val name = info.getGcName
        reported(name) = math.max(reported.getOrElse(name, 0L), info.getGcInfo.getId)
        last = used
        max = math.max(max, used)
        notifyAll()
      }
    }

  private def caughtUp(): Unit = synchronized {
    def pending = beans.exists(b => reported.getOrElse(b.getName, 0L) < b.getCollectionCount)
    val deadline = System.currentTimeMillis() + 5000
    while (pending && System.currentTimeMillis() < deadline) wait(10)
  }

  /** Start a new peak from what the latest collection left behind. */
  def reset(): Unit = { caughtUp(); synchronized { max = last } }

  /** Bytes: the peak since `reset`. */
  def peak(): Long = { caughtUp(); synchronized { max } }
}
