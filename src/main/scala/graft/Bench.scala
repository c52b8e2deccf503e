package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the target environment (local[32], shuffle
    // partitions = cores); SPARK_GRAFT_CPUS overrides for dev boxes
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // NO adaptive.coalescePartitions.minPartitionSize override: an r15
      // A/B lowered the 1m floor to 64k/256k to widen byte-small but
      // compute-heavy post-shuffle stages (the exchange-side twin of the
      // scan-side spreadCompute lesson) — single-pass retrieval queries
      // won 0.4-0.5 s each, but every ITERATIVE query lost more (per
      // round × per stage task overhead on ~50 KB label/rank tables:
      // graph_pagerank 3.0→4.3 s, graph_label_prop 3.0→4.5 s). Net
      // negative as a session default; the compute-density call is
      // per-operator knowledge, not a session constant.
      // events.parquet carries TIMESTAMP(NANOS); read as ns longs (set
      // here once — queries never mutate session state)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // micros-encoded events read as plain TimestampType (not NTZ) on a
      // pinned-UTC session, so epoch arithmetic matches the DuckDB oracle
      // whichever timestamp encoding the data generator shipped
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // dev aid: SPARK_GRAFT_AQE=false measures the AQE-off behavior the
      // iterative operators' exchange-free-round comments describe; the
      // recorded bench always runs the Spark default (on)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev aid: SPARK_GRAFT_STAGES=1 prints per-stage wall/task times
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3
          val m = i.taskMetrics
          // run vs cpu vs gc discriminates compute-bound stages from
          // waiting ones (GC pause, scheduler, spill) across all tasks
          println(f"[stage ${i.stageId}%4d] $wall%7.2fs tasks=${i.numTasks}%4d " +
            f"run=${m.executorRunTime / 1e3}%.1fs cpu=${m.executorCpuTime / 1e9}%.1fs " +
            f"gc=${m.jvmGCTime / 1e3}%.1fs ${i.name.takeWhile(_ != '\n')}")
        }
      })
    // warm up codegen/classloading so the first measured query isn't
    // charged for JVM startup costs
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
    // ... including the partitioned spatial kernel (WKB + JTS + leaf
    // shuffles + per-leaf index): tiny inputs, results discarded; the
    // per-query isolation below still clears every cached block
    locally {
      import org.apache.spark.sql.functions.col
      import graft.functions.GeoExpressions
      val c = SparkEntry.customerPoints(spark, sfDir).select("c_custkey", "lon", "lat").limit(300)
      val s = SparkEntry.supplierPoints(spark, sfDir)
        .select(col("s_suppkey"), col("lon").as("slon"), col("lat").as("slat")).limit(100)
      def wkb(lon: String, lat: String) = GeoExpressions.wkbPoint(col(lon), col(lat))
      graft.join.GridNearestJoin.nearest(c, s, wkb("lon", "lat"), wkb("slon", "slat")).count()
    }
    // dev aid: SPARK_GRAFT_ONLY=q1,q2 restricts to named queries for
    // standalone re-measurement (the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val runsPerQuery = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt).getOrElse(3))
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = {
      var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t
    }
    // isolate queries from each other's leftovers: dropped broadcasts and
    // checkpoint blocks only release after a GC, and their memory pressure
    // skews job-heavy iterative queries. clearCache misses localCheckpoint
    // snapshots (they are persistent RDDs, not cached plans) — unpersist
    // them explicitly; safe here because the previous query's result has
    // been fully consumed
    def isolate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.gc()
    }
    // a query that throws must produce a VISIBLY failed artifact: its
    // error message is recorded per-query (never a fake ~0s timing that
    // would make a broken run look faster) and the process exits nonzero
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // dev aid: SPARK_GRAFT_FAIL=1 injects a query that throws at run time,
    // to exercise the failure path end-to-end (errors recorded, exit 1)
    val injected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (sys.env.contains("SPARK_GRAFT_FAIL"))
        Seq("zz_deliberate_failure" -> ((s: SparkSession, _: String) =>
          s.range(1).selectExpr("assert_true(id > 0) ok")))
      else Nil
    val results = (SparkEntry.queries.toSeq ++ injected).sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1)).flatMap { case (name, fn) =>
      // median-of-N (default 3), isolation before every run: a single run
      // in-suite can be 6-14x inflated by neighboring queries' leftover
      // block/GC pressure that one unpersist+gc doesn't fully drain; the
      // median of three isolated runs converges on the standalone cost.
      // One UNMEASURED warmup execution first: the first run of a query
      // pays its codegen classes' JIT compilation (measured 2-4x on the
      // pairwise spatial kernels), which belongs to the JVM, not the
      // query — without it a 3-run median still carries warmup whenever
      // the remaining variance puts the second-slowest run first
      // full-evaluation action: the noop sink consumes every output row
      // with all columns materialized. A bare count() lets Catalyst prune
      // the computed columns away entirely — map-only queries (the text
      // family) would measure the scan, not the work, and a query whose
      // projection throws would "pass"
      def execute(): Unit =
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      isolate()
      try {
        // warmup — a throw here fails the query. SPARK_GRAFT_WARMUP=0
        // skips it for one-shot evidence runs at big SFs (sf1 full
        // suite), where paying every query twice doubles a multi-hour
        // wall for a measurement that is single-pass by design
        if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") execute()
        val runs = (1 to runsPerQuery).map { i =>
          isolate()
          val g0 = gcMillis
          val t0 = System.nanoTime()
          execute()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] $name run$i $dt%7.3fs gc=${gcMillis - g0}ms")
          dt
        }.sorted
        Some(name -> runs(runs.length / 2))
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[bench] $name FAILED $msg")
          errors(name) = msg
          None
      }
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // IVF quantizer recall as a RECORDED metric (deterministic clustered
    // corpus, see graft.similarity.RecallProbe): a regression in the
    // trained quantizer changes a number in the artifact, not just a
    // pass/fail bit in the spec suite
    val (recTrained, recSampled) =
      try graft.similarity.RecallProbe.measure(spark)
      catch { case e: Throwable => errors("ivf_recall_probe") = String.valueOf(e.getMessage); (-1.0, -1.0) }
    val recPq =
      try graft.similarity.RecallProbe.measurePq(spark)
      catch { case e: Throwable => errors("pq_recall_probe") = String.valueOf(e.getMessage); -1.0 }
    val recIvfPq =
      try graft.similarity.RecallProbe.measureIvfPq(spark)
      catch { case e: Throwable => errors("ivfpq_recall_probe") = String.valueOf(e.getMessage); -1.0 }
    val recBinary =
      try graft.similarity.RecallProbe.measureBinary(spark)
      catch { case e: Throwable => errors("binary_recall_probe") = String.valueOf(e.getMessage); -1.0 }
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val recallsJson =
      s""""ivf_recall_at10":{"trained":$recTrained,"sampled":$recSampled},""" +
      s""""pq_recall_at10":$recPq,""" +
      s""""ivfpq_recall_at10":$recIvfPq,""" +
      s""""binary_recall_at10":$recBinary"""
    // host-load marker (VERDICT r13 #1): a closing artifact recorded on a
    // pressured box carries uniform inflation that false-flags per-query
    // baselines — the 1-min loadavg at emission lets the reader weight it
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      recallsJson + s""","errors":$errJson,"load1":$load1,"sf":"$sfDir"}"""
    // Full per-query artifact goes to a FILE: sbt prefixes forked stdout
    // with [info], and the driver's round artifact keeps only the last
    // ~2000 chars of stdout — the 203-query map (~6.6 KB) can never
    // survive that scrape (BENCH_r11.json recorded "parsed": null).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_RESULT.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    // stdout gets ONE compact line guaranteed to fit the driver's tail
    // window whole, so BENCH_r12+ artifacts self-parse: totals, errors,
    // recalls, a pointer to the full artifact, and as many of the
    // SLOWEST per-query entries as a conservative byte budget allows
    // (slowest-first is the informative prefix — sub-100 ms queries are
    // environment-floor noise anyway; the full map is in the file).
    val fullOut = java.nio.file.Paths.get(outPath).toAbsolutePath.toString
    // the compact line embeds error messages and the artifact path —
    // both unbounded in principle — so they are truncated BEFORE the
    // byte budget is computed: a run with long errors must stay
    // parseable exactly because that's when the line matters (ADVICE
    // r13; previously the budget went negative and the error-bearing
    // line overran the driver's tail window)
    def clip(s: String, n: Int): String =
      if (s.length <= n) s else s.take(n - 1) + "…"
    val errJsonLine = {
      val parts = errors.toSeq.map { case (k, v) =>
        jstr(clip(k, 40)) + ":" + jstr(clip(String.valueOf(v), 80)) }
      val kept = new scala.collection.mutable.ArrayBuffer[String]
      var used = 0
      for (p <- parts if used + p.length + 1 <= 360) { kept += p; used += p.length + 1 }
      val omitted = errors.size - kept.size
      (kept ++ (if (omitted > 0) Seq(s""""_omitted":$omitted""") else Nil))
        .mkString("{", ",", "}")
    }
    val head = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""nqueries":${results.size},"queries_file":${jstr(clip(fullOut, 120))},""" +
      recallsJson + s""","errors":$errJsonLine,"load1":$load1,"sf":"$sfDir","queries":{"""
    // 1150-byte line cap: the driver keeps the last ~2000 chars of
    // stdout, and sbt appends its own "[success] Total time..." line
    // after this one — the compact line plus that suffix must both fit
    // the window WHOLE for the artifact to self-parse.
    val budget = math.max(0, 1150 - head.length - 2)
    val slowFirst = results.sortBy(-_._2).iterator
      .map { case (k, v) => jstr(k) + ":" + math.rint(v * 1000) / 1000 }
    val kept = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    for (e <- slowFirst if used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    println(head + kept.mkString(",") + "}}")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
