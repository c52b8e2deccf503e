package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

import graft.functions.GeoExpressions
import graft.join.GridNearestJoin
import graft.plans.{PackedSpatialIndex, SpatialProbe}
import graft.spatial.{GeoKit, Geodesic, SpatialPredicate}

/**
 * The traced invocation. It times untraced runs, then traced runs with
 * spans and Spark listener counters, then calls each layer's public
 * functions directly on the same inputs. Every per-layer metric is
 * reported on every workload: a layer a workload bypasses is still
 * measured on that workload's data, so its number shows what the
 * bypass saves.
 */
final class Layers(spark: SparkSession, a: Main.Args, b: Bench) {
  import Main._

  private val w = b.workload
  private val shape = w.shape
  private val sc = spark.sparkContext
  private val counters = new Counters
  private val tr = new Spans.On
  // direct layer calls: each is repeated and its median kept
  private val Reps = 5
  // probe-sample size for the single-threaded kernel timings
  private val SampleRows = 20000L

  /** Median over `Reps` calls of `body`'s time in ns, and its last result. */
  private def timeReps[T](name: String, layer: String)(body: => T): (Double, T) = {
    var last: T = null.asInstanceOf[T]
    val ns = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      last = tr(name, layer)(body)
      (System.nanoTime() - t0).toDouble
    }
    (median(ns), last)
  }

  private def ratio(n: Double, d: Double): Double = if (d > 0) n / d else 0.0

  /** Executor CPU seconds of one `noop` write of `df`. */
  private def noopCpuS(df: DataFrame): Double = {
    ListenerBridge.drain(sc)
    counters.reset()
    df.write.format("noop").mode("overwrite").save()
    ListenerBridge.drain(sc)
    counters.cpuNs / 1e9
  }

  def metrics(): Seq[(String, Double, String)] = {
    // untraced and traced runs alternate, so warm-up drift over the
    // invocation lands on both sides of the overhead difference; the
    // listener is attached only around the traced runs
    val epochRef = System.currentTimeMillis(); val nanoRef = System.nanoTime()
    def epochMs(ns: Long): Long = epochRef + (ns - nanoRef) / 1000000L
    val perRun = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    def record(df: DataFrame): Unit = {
      ListenerBridge.drain(sc)
      val spans = tr.spans.filter(_.run == tr.run)
      def span(n: String) = spans.find(_.name == n).get
      val run = span("run")
      perRun += Map(
        "transformer.transform_ms" -> span("transform").durNs / 1e6,
        // the tracker times phases in whole ms; the other two phases are
        // timed by their spans
        "plans.analysis_ms" ->
          df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0),
        "plans.optimization_ms" -> span("optimize").durNs / 1e6,
        "plans.planning_ms" -> span("plan").durNs / 1e6,
        "self.run_ms" -> tr.selfNs(run) / 1e6,
        "self.transform_ms" -> tr.selfNs(span("transform")) / 1e6,
        "self.plan_ms" -> tr.selfNs(span("plan")) / 1e6,
        "self.noop_ms" -> tr.selfNs(span("noop")) / 1e6,
        "spark.jobs" -> counters.jobs.toDouble,
        "spark.stages" -> counters.stages.toDouble,
        "spark.tasks" -> counters.tasks.toDouble,
        "spark.executor_run_s" -> counters.runMs / 1e3,
        "spark.executor_cpu_s" -> counters.cpuNs / 1e9,
        "spark.gc_s" -> counters.gcMs / 1e3,
        "spark.shuffle_write_mb" -> counters.shuffleWrite / MB,
        "spark.shuffle_read_mb" -> counters.shuffleRead / MB,
        "spark.spill_mb" -> counters.spillDisk / MB,
        "spark.driver_gap_s" -> counters.gapMs(epochMs(run.startNs), epochMs(run.endNs)) / 1e3)
      tr.run += 1
    }
    val plain = Seq.newBuilder[Sample]
    val traced = Seq.newBuilder[Sample]
    // a traced invocation runs twice as many runs as an untraced one
    // (MinRuns pairs at least) and must still end well inside the run limit
    b.repeatFor(a.seconds) {
      plain ++= b.timedRun(Spans.Off)
      ListenerBridge.drain(sc)
      counters.reset()
      sc.addSparkListener(counters)
      traced ++= b.timedRun(tr, record)
      sc.removeSparkListener(counters)
    }
    val untracedWall = median(plain.result().map(_.wallS))
    val tracedWall = median(traced.result().map(_.wallS))
    val runMetrics = perRun.head.keys.toSeq.map(k => k -> median(perRun.map(_(k)).toSeq)).toMap +
      // whole-ms phase times: the mean keeps the digits a median would drop
      ("plans.analysis_ms" -> perRun.map(_("plans.analysis_ms")).sum / perRun.length)

    // --- direct calls into each layer, on this workload's inputs ---------
    tr.run = -1
    sc.addSparkListener(counters)
    val input = b.probeInput
    val ext = spark.table(b.externalView)
    val extWkb =
      if (w.usesZones) GeoExpressions.wkbFromWkt(F.col("wkt"))
      else GeoExpressions.wkbPoint(F.col("lon"), F.col("lat"))

    // join: the grid kernel's density-derived cell
    val (autoNs, cellDeg) = timeReps("grid.autocell", "join") {
      GridNearestJoin.autoCellDeg(ext, extWkb)
    }

    // plans (index): collect the broadcast side as the exec does, then pack
    val right = ext.withColumn("__wkb", extWkb)
    val wi = right.schema.fieldIndex("__wkb")
    val (collectNs, rows) = timeReps("index.collect", "plans") {
      right.queryExecution.executedPlan.executeCollect().map(_.copy())
    }
    val wkbs = rows.map(r => if (r.isNullAt(wi)) null else r.getBinary(wi))
    val (buildNs, index) = timeReps("index.build", "plans") {
      val idx = new PackedSpatialIndex(rows, wkbs)
      idx.tree
      idx
    }
    val rowBytes = rows.map { case u: UnsafeRow => u.getSizeInBytes.toLong; case _ => 0L }.sum

    // functions: WKB encoding cost, a WKB-column write minus a scan-only one
    val wkbCpu = (1 to 3).map { _ =>
      noopCpuS(input.select(GeoExpressions.wkbPoint(F.col("lon"), F.col("lat")))) -
        noopCpuS(input.select(F.col("lon"), F.col("lat")))
    }
    val stride = math.max(1L, shape.probes / SampleRows)
    val sampleWkb = tr("functions.sample", "functions") {
      input.where(F.col("id") % stride === 0)
        .select(GeoExpressions.wkbPoint(F.col("lon"), F.col("lat"))).collect()
        .map(_.getAs[Array[Byte]](0))
    }
    val n = sampleWkb.length.toDouble

    // spatial: WKB decode
    val (decodeNs, geoms) = timeReps("geokit.decode", "spatial") { sampleWkb.map(GeoKit.wkbToGeom) }

    // plans (probe): single-threaded kernel on the sample
    val probe = new SpatialProbe(index.geoms, index.tree)
    val pred = SpatialPredicate.parse(w.predicate)
    val (probeNs, pairs) = timeReps("probe.matches", "plans") {
      geoms.flatMap(g => probe.matches(g, pred, SpatialProbe.AlwaysTrue, w.withDist).map(m => (g, m._1)))
    }
    // candidates: STRtree hits for the probe's envelope; for nearest, the
    // envelope grown by the distance to the match (the hits a refine
    // of the winner's disc must examine)
    val candidates = geoms.iterator.map { g =>
      val env = new org.locationtech.jts.geom.Envelope(g.getEnvelopeInternal)
      if (pred == SpatialPredicate.Nearest) {
        val best = probe.nearestMatch(g, SpatialProbe.AlwaysTrue)
        if (best >= 0) env.expandBy(g.distance(index.geoms(best)))
      }
      index.tree.query(env).size.toLong
    }.sum
    val matches = pairs.length.toDouble

    // spatial: Vincenty on the matched pairs
    val (geoNs, _) = timeReps("geodesic", "spatial") {
      pairs.foldLeft(0L) { case (s, (g, i)) => s + Geodesic.centroidDistance(g, index.geoms(i)) }
    }

    val probeNsPerRow = ratio(probeNs, n)
    val decodeNsPerRow = ratio(decodeNs, n)
    val execCpu = runMetrics("spark.executor_cpu_s")
    val layer = runMetrics ++ Map(
      "functions.wkb_ns_per_row" -> median(wkbCpu) * 1e9 / shape.probes,
      "index.collect_ms" -> collectNs / 1e6,
      "index.build_ms" -> buildNs / 1e6,
      "index.rows" -> rows.length.toDouble,
      "index.wkb_mb" -> wkbs.map(x => if (x == null) 0L else x.length.toLong).sum / MB,
      "index.row_mb" -> rowBytes / MB,
      "index.heap_share" -> ratio(rowBytes, Runtime.getRuntime.maxMemory.toDouble),
      "index.wall_share" -> ratio((collectNs + buildNs) / 1e9, untracedWall),
      "probe.sample_rows" -> n,
      "probe.ns_per_row" -> probeNsPerRow,
      "probe.candidates" -> candidates.toDouble,
      "probe.matches" -> matches,
      "probe.candidates_per_row" -> ratio(candidates, n),
      "probe.matches_per_row" -> ratio(matches, n),
      "probe.refine_ratio" -> ratio(matches, candidates),
      "probe.cpu_share" -> ratio((probeNsPerRow + decodeNsPerRow) * shape.probes / 1e9, execCpu),
      "geokit.wkb_decode_ns" -> decodeNsPerRow,
      "geodesic.ns_per_call" -> ratio(geoNs, matches),
      "grid.cell_deg" -> cellDeg,
      "grid.autocell_ms" -> autoNs / 1e6,
      "trace.untraced_wall_s" -> untracedWall,
      "trace.traced_wall_s" -> tracedWall,
      "trace.overhead_s" -> (tracedWall - untracedWall))

    writeTrace(layer)
    Units.map { case (name, unit) => (name, layer(name), unit) }
  }

  /** Spans and metrics of this invocation as one JSON document. */
  private def writeTrace(layer: Map[String, Double]): Unit = {
    val f = new File(a.out, s"${w.name}-seed${a.seed}.trace.json")
    val pw = new PrintWriter(f, "UTF-8")
    try {
      pw.println("{")
      pw.println(s"""  "workload": "${w.name}", "seed": ${a.seed}, "cores": ${a.cores},""")
      pw.println("""  "metrics": {""")
      pw.println(Units.map { case (n, u) =>
        s"""    "$n": {"value": ${json(layer(n))}, "unit": "$u"}""" }.mkString(",\n"))
      pw.println("  },")
      pw.println("""  "spans": [""")
      pw.println(tr.spans.sortBy(_.id).map { s =>
        s"""    {"id": ${s.id}, "parent": ${s.parent}, "run": ${s.run}, "name": "${s.name}", """ +
          s""""layer": "${s.layer}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
          s""""self_ns": ${tr.selfNs(s)}}"""
      }.mkString(",\n"))
      pw.println("  ]")
      pw.println("}")
    } finally pw.close()
    println(s"trace written to $f")
  }

  /** Every per-layer metric, in report order, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "transformer.transform_ms" -> "ms",
    "plans.analysis_ms" -> "ms",
    "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms",
    "functions.wkb_ns_per_row" -> "ns",
    "index.collect_ms" -> "ms",
    "index.build_ms" -> "ms",
    "index.rows" -> "count",
    "index.wkb_mb" -> "MB",
    "index.row_mb" -> "MB",
    "index.heap_share" -> "ratio",
    "index.wall_share" -> "ratio",
    "probe.sample_rows" -> "count",
    "probe.ns_per_row" -> "ns",
    "probe.candidates" -> "count",
    "probe.matches" -> "count",
    "probe.candidates_per_row" -> "count",
    "probe.matches_per_row" -> "count",
    "probe.refine_ratio" -> "ratio",
    "probe.cpu_share" -> "ratio",
    "geokit.wkb_decode_ns" -> "ns",
    "geodesic.ns_per_call" -> "ns",
    "grid.cell_deg" -> "deg",
    "grid.autocell_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s",
    "self.run_ms" -> "ms",
    "self.transform_ms" -> "ms",
    "self.plan_ms" -> "ms",
    "self.noop_ms" -> "ms",
    "trace.untraced_wall_s" -> "s",
    "trace.traced_wall_s" -> "s",
    "trace.overhead_s" -> "s")
}
