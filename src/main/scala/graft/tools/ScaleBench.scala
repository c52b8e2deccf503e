package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dedup.Dedup
import graft.functions.GeoExpressions
import graft.transformer.BroadcastSpatialJoin

/**
 * Synthetic scale-up probe for the grid-join and dedup families: the
 * testdata tops out at sf0.1, so every 100 TB design claim (O(groups·k)
 * shuffle for kNN, O(N) band rows, log-diameter CC rounds) is otherwise
 * argued from plan shape only. This main deterministically inflates the
 * input tables by literal factors (default 1, 4, 8) and runs the
 * scale-sensitive gate queries at each factor, recording wall time,
 * shuffle bytes, Spark job count, and output rows — evidence that cost
 * grows with data (and with OUTPUT, where the query's result is itself
 * super-linear), not with some hidden quadratic term.
 *
 * Inflation is pure plan-level `explode(sequence(0, f-1))`:
 *  - customer/supplier: copy k gets key `key + k·10^8`; the synthetic
 *    lon/lat derive from the NEW key (SparkEntry.lonOf/latOf), so copies
 *    spread over the region like real rows — density grows ×f;
 *  - documents: copy k gets doc_id `id + k·10^9` and every token
 *    suffixed with `x<k>` — intra-copy near-dup structure is preserved
 *    exactly while shingle sets stay disjoint across copies, so pair
 *    and cluster counts scale ×f, not ×f² (the suffix is applied at
 *    factor 1 too, keeping per-row work identical across factors).
 *
 * The grid nearest joins run as two jobs at every factor (the leaf
 * sample and the join); their work grows with the per-leaf row counts.
 *
 * Measurement: one `count()` per (factor, query) — joins/aggregations
 * cannot be pruned under count, rows come for free, and the growth
 * CURVE needs comparable single runs, not medians (the first factor's
 * queries double as everyone's JIT warmup, run unmeasured first).
 *
 * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
 * SPARK_GRAFT_FACTORS (default "1,4,8"), SPARK_GRAFT_CPUS (default 32),
 * SPARK_GRAFT_SCALE_OUT (JSON-lines output file, default SCALE_RESULT.json).
 */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors = sys.env.getOrElse("SPARK_GRAFT_FACTORS", "1,4,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // SPARK_GRAFT_NOAQE=1: measure WITHOUT adaptive execution — the
      // A/B lever for probes whose subject is exactly what AQE papers
      // over (skew-split, runtime re-plan); default stays AQE-on
      .config("spark.sql.adaptive.enabled",
        (!sys.env.contains("SPARK_GRAFT_NOAQE")).toString)
      // SPARK_GRAFT_NOBROADCAST=1: disable the static broadcast
      // threshold — the A/B lever for probes whose inflated side keeps
      // the BASE table's size ESTIMATE (plan-level explode does not
      // scale stats), which would otherwise broadcast at every factor
      // and hide the shuffle-path growth a real 100× table exercises
      .config("spark.sql.autoBroadcastJoinThreshold",
        if (sys.env.contains("SPARK_GRAFT_NOBROADCAST")) "-1" else "10485760")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // events.parquet carries TIMESTAMP(NANOS); read as ns longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // micros-encoded events read as plain TimestampType (not NTZ) on a
      // pinned-UTC session, so epoch arithmetic matches the DuckDB oracle
      // whichever timestamp encoding the data generator shipped
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    // aggregated per-stage task metrics, accumulated across the run;
    // per-query deltas are taken around each measured action
    val shufWrite = new AtomicLong(0)
    val shufRead = new AtomicLong(0)
    val cpuNs = new AtomicLong(0)
    sc.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          // summed executor CPU: the A/B metric of choice on a noisy
          // box — wall flips ×2-3 under neighbor load while the CPU a
          // kernel burns stays the kernel's own (round 14)
          cpuNs.addAndGet(m.executorCpuTime)
        }
      }
    })

    // --- deterministic inflation ---------------------------------------

    def keyed(name: String, key: String, f: Int, offset: Long): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet").select(col(key))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"), col(key))
        .select((col(key) + col("__k") * lit(offset)).as(key))

    def custPoints(f: Int): DataFrame =
      keyed("customer", "c_custkey", f, 100000000L)
        .select(col("c_custkey"),
          SparkEntry.lonOf("c_custkey").as("lon"), SparkEntry.latOf("c_custkey").as("lat"))
    def supPoints(f: Int): DataFrame =
      keyed("supplier", "s_suppkey", f, 100000000L)
        .select(col("s_suppkey"),
          SparkEntry.lonOf("s_suppkey").as("slon"), SparkEntry.latOf("s_suppkey").as("slat"))
    // equator variants for the withindist query (mirrors the gate's
    // j2_withindist_grid geometry)
    def custEq(f: Int): DataFrame =
      keyed("customer", "c_custkey", f, 100000000L)
        .select(col("c_custkey"), SparkEntry.lonOf("c_custkey").as("lon"), lit(0.0d).as("lat"))
    def supEq(f: Int): DataFrame =
      keyed("supplier", "s_suppkey", f, 100000000L)
        .select(col("s_suppkey"), SparkEntry.lonOf("s_suppkey").as("lon"), lit(0.0d).as("lat"))

    // skew A/B: half of an ×f-inflated probe collapses onto key 0;
    // build side stays base-sized (distinct keys + payload)
    def skewProbe(f: Int): DataFrame =
      keyed("lineitem", "l_orderkey", f, 100000000L)
        .select(when(pmod(col("l_orderkey"), lit(2)) === 0, lit(0L))
          .otherwise(col("l_orderkey")).as("k"), col("l_orderkey").as("pay"))
    def skewBuild(): DataFrame =
      keyed("lineitem", "l_orderkey", 1, 100000000L)
        .select(when(pmod(col("l_orderkey"), lit(2)) === 0, lit(0L))
          .otherwise(col("l_orderkey")).as("k")).distinct()
        .withColumn("bpay", col("k") + 1)

    def docs(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"), col("doc_id"), col("text"))
        .select((col("doc_id") + col("__k") * lit(1000000000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " ", -1),
            t => when(t === "", t).otherwise(concat(t, lit("x"), col("__k"))))).as("text"))

    // documents with stratum/score carried: copy k keeps the SOURCE
    // (stratum count fixed, stratum size ×f) and perturbs the score so
    // per-copy picks differ — the quota-sampling scale input
    def docsFull(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("doc_id"), col("source"), col("n_chars"))
        .select((col("doc_id") + col("__k") * lit(1000000000L)).as("doc_id"),
          col("source"), (col("n_chars") + col("__k")).as("n_chars"))

    // documents inflated with text UNCHANGED (ids shifted, source kept):
    // the retrieval/scoring probes want token statistics that grow with
    // the corpus — suffixing would quarantine each copy's vocabulary and
    // understate the very growth being measured
    def docsPlain(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("doc_id"), col("text"), col("source"))
        .select((col("doc_id") + col("__k") * lit(1000000000L)).as("doc_id"),
          col("text"), col("source"))

    // events: copy k gets new event AND user ids (per-user timeline
    // density stays constant — volume grows ×f, key cardinality grows
    // ×f, exactly how event data actually scales); ts/value unchanged
    def events(f: Int): DataFrame =
      SparkEntry.microTs(spark.read.parquet(s"$sfDir/events.parquet"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("event_type"))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("event_id"), col("user_id"), col("ts"), col("value"),
          col("event_type"))
        .select((col("event_id") + col("__k") * lit(1000000000L)).as("event_id"),
          (col("user_id") + col("__k") * lit(1000000L)).as("user_id"),
          col("ts"), col("value"), col("event_type"))

    // range join: inflate the POINTS side only (balances shifted by copy
    // so band membership varies per copy); interval side fixed — output
    // and shuffle must both grow ×f, never ×f²
    def custBal(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_acctbal"))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("c_custkey"), col("c_acctbal"))
        .select((col("c_custkey") + col("__k") * lit(100000000L)).as("c_custkey"),
          (col("c_acctbal").cast("double") + col("__k") * 37.0d).as("c_bal"))
    def supBands(): DataFrame =
      spark.read.parquet(s"$sfDir/supplier.parquet")
        .select(col("s_suppkey"),
          (col("s_acctbal").cast("double") - 500.0).as("lo"),
          (col("s_acctbal").cast("double") + 500.0).as("hi"))

    // embeddings: copy k gets a new vec_id; vectors are reused verbatim
    // (the ADC scan and shortlist costs are geometry-independent, and
    // ties only affect which exact-scored rows win — not how many rows
    // flow through each stage)
    def embs(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("vec_id"), col("embedding"))
        .select((col("vec_id") + col("__k") * lit(10000000L)).as("vec_id"),
          col("embedding"))

    // embeddings with MakeSf1's per-copy decorrelation (permutation +
    // sign mask): verbatim clones would hand the LSH probe f-cliques of
    // identical vectors — the copier pathology, not corpus growth
    val decorrUdf = udf((v: Seq[Float], k: Int) => MakeSf1.decorrelate(v, k))
    def embsDecorrelated(f: Int): DataFrame =
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("vec_id"), col("embedding"))
        .select((col("vec_id") + col("__k") * lit(10000000L)).as("vec_id"),
          decorrUdf(col("embedding"), col("__k")).as("embedding"))

    // occupancy-held LSH geometry: buckets-per-table ∝ N (planes =
    // base + log2 f), the documented 100 TB tuning — with FIXED planes
    // the per-bucket candidate join is ∝ N²/B by construction on any
    // data (the gate's planes=5 suits the gate's N); holding occupancy
    // makes candidates ∝ N, which is the ENGINE property under probe
    def lshPlanes(f: Int): Int =
      5 + math.round(math.log(f.toDouble) / math.log(2.0)).toInt

    // the source corpus's organic similarity graph (exact cosine pairs
    // at the gate's tau), computed ONCE and collected (≈15k slim rows)
    // so the triangle probes measure the KERNEL, not the constant base
    // pair join — a driver-side seq survives the per-query isolation
    // unpersist that would evict a lazy localCheckpoint; inflation =
    // disjoint node-id copies (edges ∝ f at source density)
    lazy val baseSimEdges: Array[(Long, Long)] =
      Dedup.embeddingPairs(
          spark.read.parquet(s"$sfDir/embeddings.parquet"),
          "vec_id", "embedding", tau = 0.3)
        .select(col("doc_i").cast("long"), col("doc_j").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    def simEdges(f: Int): DataFrame = {
      import spark.implicits._
      baseSimEdges.toSeq.toDF("doc_i", "doc_j")
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
          col("doc_i"), col("doc_j"))
        .select((col("doc_i") + col("__k") * lit(10000000L)).as("doc_i"),
          (col("doc_j") + col("__k") * lit(10000000L)).as("doc_j"))
        // a LocalTableScan is one partition; spread the exploded edge
        // list like a real scan would arrive
        .repartition(cpus.toInt)
    }

    // the hourly right side + as-of shape of the gate queries
    def asofInputs(f: Int): (DataFrame, DataFrame) = {
      val ev = events(f)
      val hourly = ev
        .groupBy(col("user_id"), window(col("ts"), "1 hour"))
        .agg(round(sum(col("value").cast("decimal(38,8)")), 2).cast("double").as("h_value"))
        .select(col("user_id"), col("window.end").as("h_end"), col("h_value"))
      (ev.select("event_id", "user_id", "ts"), hourly)
    }

    // --- the five scale-sensitive queries at gate settings --------------

    def wkb(lon: String, lat: String) = GeoExpressions.wkbPoint(col(lon), col(lat))

    // intersects grid join (point-in-rectangle: the refine is a REAL
    // JTS WKB-parse + relate per pair, ~µs-class) + a ~1%-selective
    // band condition, with the condition either inside the engine
    // (candidate pruning before the refine) or applied post hoc (the
    // unrestricted twin) — same rows either way. The point-point
    // withindist shape was measured first and is a WASH (geodesic on
    // points costs ≈ the band check itself); the win is proportional
    // to refine cost, which polygons carry and points don't.
    def bandGrid(f: Int, late: Boolean): DataFrame = {
      val l = custEq(f)
        .withColumn("c_bal", pmod(col("c_custkey"), lit(10000)).cast("double"))
      val r = supEq(f)
        .select(col("s_suppkey"), col("lon").as("slon"))
        .withColumn("s_bal", pmod(col("s_suppkey"), lit(10000)).cast("double"))
      val rectWkt = concat(lit("POLYGON(("),
        col("slon") - 2.0d, lit(" -2,"), col("slon") + 2.0d, lit(" -2,"),
        col("slon") + 2.0d, lit(" 2,"), col("slon") - 2.0d, lit(" 2,"),
        col("slon") - 2.0d, lit(" -2))"))
      val band = col("s_bal").between(col("c_bal") - 50.0, col("c_bal") + 50.0)
      val base = graft.join.GridSpatialJoin.join(
        l, r, wkb("lon", "lat"), GeoExpressions.wkbFromWkt(rectWkt),
        graft.spatial.SpatialPredicate.Intersects,
        extraCondition = if (late) None else Some(band))
      if (late) base.where(band) else base
    }

    def queries(f: Int): Seq[(String, () => DataFrame)] = Seq(
      "j1_nearest_gridscale" -> (() =>
        graft.join.GridNearestJoin.nearest(
          custPoints(f), supPoints(f), wkb("lon", "lat"), wkb("slon", "slat"),
          tieBreak = Some(col("s_suppkey")))
          .select("c_custkey", "s_suppkey")),
      "j1_knn_grid" -> (() =>
        graft.join.GridNearestJoin.knearest(
          custPoints(f), supPoints(f), wkb("lon", "lat"), wkb("slon", "slat"),
          k = 3, rankCol = "knn_rank", tieBreak = Some(col("s_suppkey")))
          .select("c_custkey", "s_suppkey", "knn_rank")),
      // grid-nearest LEFT with the gate's modular equi condition: 1/5
      // of the probes can NEVER match (key 4 has no right rows). The
      // equi key hashes inside each leaf's index, so matchless probes
      // hash-miss in O(1) per leaf instead of scanning it
      "j1_nearest_left_grid" -> (() =>
        graft.join.GridNearestJoin.nearest(
          custPoints(f), supPoints(f), wkb("lon", "lat"), wkb("slon", "slat"),
          tieBreak = Some(col("s_suppkey")),
          condition = Some(col("s_suppkey") % 4 === col("c_custkey") % 5),
          joinType = "left")
          .select("c_custkey", "s_suppkey")),
      "j2_withindist_grid" -> (() => {
        supEq(f).createOrReplaceTempView("scale_j2_sup")
        new BroadcastSpatialJoin().setDataset("scale_j2_sup")
          .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
          .setDataColumns("s_suppkey").setBroadcast("none")
          .setPredicate("withindist 300000").setDistColAlias("dist_m")
          .transform(custEq(f).select("c_custkey", "lon", "lat"))
          .select("c_custkey", "s_suppkey", "dist_m")
      }),
      // band-conjunct candidate pruning A/B (round 13): the SAME
      // withindist grid join + ~1%-selective band condition, evaluated
      // (a) through the engine — condition BEFORE the geodesic refine,
      // the r13 ordering — vs (b) post hoc on the unconditioned join's
      // output, which Catalyst merges as condition-AFTER-refine (the
      // pre-r13 order; CombineFilters keeps inner-filter-first
      // conjunct order, so the A/B lever is real). Identical row sets;
      // the engine row must win at ×10+ because the band rejects most
      // cell-matched pairs before the expensive WKB-parse + geodesic
      "j2_band_grid" -> (() => bandGrid(f, late = false)),
      "j2_band_grid_late" -> (() => bandGrid(f, late = true)),
      "dedup_minhash" -> (() =>
        Dedup.minhashPairs(docs(f), "doc_id", "text", tau = 0.8)),
      "dedup_clusters" -> (() =>
        Dedup.clusterPairs(
          Dedup.jaccardPairs(docs(f), "doc_id", "text", tau = 0.8))),
      // triangle/coefficient kernels at ×f EDGES with the SOURCE
      // corpus's organic density (round-12 ×100 rung): the
      // materialized-sf10 GATE query is dominated by the isotropic
      // testdata's G(n, p≈0.0075) threshold noise at tau 0.3 — edges
      // ∝ n², a DATA property predicted==measured at ×10
      // (BENCH_sf1.json) — while a real 100× corpus keeps near-
      // constant similarity density, which this disjoint-copy edge
      // inflation reproduces; the engine claim under probe is
      // degree-ordered wedge work ∝ E·d̄ and shuffle ∝ E
      "graph_triangles" -> (() =>
        graft.graph.Triangles.perNode(simEdges(f), "doc_i", "doc_j")),
      "graph_clustering_coef" -> (() =>
        graft.graph.Triangles.clusteringCoef(simEdges(f), "doc_i", "doc_j")),
      // banded-LSH embedding dedup at occupancy-held geometry (planes
      // 5/8/12 at f 1/10/100): candidates ∝ N, output = within-copy
      // structure ×f + the corpus's chance near-threshold pairs
      "dedup_embedding_lsh" -> (() =>
        Dedup.embeddingPairsLsh(embsDecorrelated(f), "vec_id", "embedding",
          tau = 0.5, planes = lshPlanes(f), tables = 24)),
      // O(L+R) claim of the as-of family: shuffle bytes must grow ∝ f
      // (one keyed shuffle of the tagged union), wall sub-linearly —
      // any pair term would show super-linear shuffle growth
      "j_asof_hourly" -> (() => {
        val (ev, hourly) = asofInputs(f)
        graft.join.AsOfJoin.asof(ev, hourly,
          keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "h_end")
      }),
      "j_asof_bucketed" -> (() => {
        val (ev, hourly) = asofInputs(f)
        graft.join.AsOfJoin.asofBucketed(ev, hourly,
          keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "h_end",
          bucketOf = t => date_trunc("hour", t))
      }),
      "j_range_band" -> (() =>
        graft.join.RangeJoin.pointInInterval(custBal(f), supBands(),
          col("c_bal"), col("lo"), col("hi"), bucketWidth = 500.0)),
      // left overlap join: id-tag + anti misses path — one left
      // materialization, shuffle ∝ f
      "j_range_overlap_left" -> (() =>
        graft.join.RangeJoin.overlapJoinLeft(
          custBal(f).select(col("c_custkey"),
            (col("c_bal") - 200.0).as("alo"),
            (col("c_bal") + 200.0).as("ahi")),
          supBands().where(pmod(col("s_suppkey"), lit(20)) === 0)
            .select(col("s_suppkey"), col("lo").as("blo"), col("hi").as("bhi")),
          col("alo"), col("ahi"), col("blo"), col("bhi"), bucketWidth = 500.0)
          .where(col("c_custkey") >= 0)),

      // left-outer twin on a sparse interval set: hits + misses both
      // ∝ f, misses resolved via the same one bucket shuffle (the
      // narrow channel IS the left join, no row-id pass)
      "j_range_left" -> (() =>
        graft.join.RangeJoin.pointInInterval(custBal(f),
          supBands().where(pmod(col("s_suppkey"), lit(20)) === 0),
          col("c_bal"), col("lo"), col("hi"), bucketWidth = 500.0,
          joinType = "left")
          .where(col("c_custkey") >= 0)),
      "dedup_containment" -> (() =>
        Dedup.containmentPairs(docs(f), "doc_id", "text", tau = 0.8)),
      // run-digest index: near-unique digests (k=8 windows over suffixed
      // tokens) — matching runs, and therefore shuffle bytes, must grow
      // ∝ f like the other inverted-index operators
      "dedup_substring" -> (() =>
        Dedup.substringPairs(docs(f), "doc_id", "text", minSpan = 20, k = 8)),
      // cross-corpus dedup: both sides inflate ×f (suffixed tokens keep
      // pairs intra-copy), so matches and band-join shuffle grow ∝ f —
      // never ×f² — like the self-join banding it shares machinery with
      "dedup_cross" -> (() =>
        Dedup.minhashPairsAcross(
          docs(f).where(pmod(col("doc_id"), lit(2)) === 1),
          docs(f).where(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", tau = 0.8)),
      // decontamination scaling story: the benchmark (copy-0 slice) is
      // FIXED while the corpus grows ×f — wall may grow with the corpus
      // scan, but shuffle stays output-sized (matches only in copy 0,
      // constant) because the corpus probes a broadcast digest set
      "dedup_decontam" -> (() =>
        Dedup.decontaminate(docs(f), "doc_id", "text",
          docs(1).where(pmod(col("doc_id"), lit(10)) === 0), "text", k = 8)),
      // repetition filter: one tagged gram shuffle — bytes ∝ f, and the
      // per-doc output rows grow ×f with the inflated corpus. The
      // non-constant-foldable filter defeats count()'s join elimination
      // (the per-doc aggregate is unique on the join key, so a bare
      // count would prune the whole gram pipeline and measure the scan)
      "text_repeat" -> (() =>
        graft.text.TextFunctions.repetitionProfile(docs(f), "doc_id", "text")
          .where(col("top_frac") + col("dup_frac") >= 0)),
      // quota sampling: stratum size grows ×f but output stays
      // strata·k — the O(k)-state aggregate must keep shuffle bytes
      // near-constant while the scan grows (the anti-window property)
      "sample_quota" -> (() =>
        graft.curation.Sampling.quotaTopK(docsFull(f), Seq("source"),
          "n_chars", "doc_id", k = 5)),
      // PQ at its production shape (BOUNDED shortlist, unlike the
      // structurally-exact gate row): candidates ×f with fixed queries —
      // the map-side ADC scan grows ∝ f but SHUFFLE stays CONSTANT
      // (~Q·shortlist bounded-aggregate partials; round-8 fix — the
      // row_number cut used to ship every (qid, cid, adc) row). Wall
      // tracks the scan because the exploded input keeps the base
      // table's single split; a real table arrives in many splits
      "simsearch_pq" -> (() => {
        val e = embs(f)
        val cb = graft.similarity.ProductQuantizer.train(
          e, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
        graft.similarity.ProductQuantizer.topK(
          e.where(col("vec_id") < 20), e, "vec_id", "embedding", k = 10,
          cb, shortlist = 100)
      }),
      // LSH ANN at the GATE's geometry (planes 3, tables 32, k 10; 20
      // fixed copy-0 queries): with planes FIXED each bucket's
      // occupancy grows ∝ f, so per-query candidates — and the
      // probe-side bucket join — grow ∝ Q·f with Q constant: wall and
      // shuffle must stay LINEAR in f (the occupancy-held planes-∝-
      // log N tuning lives in the dedup_embedding_lsh row; this row
      // pins the search path at the exact gate settings)
      "simsearch_lsh" -> (() => {
        val e = embsDecorrelated(f)
        graft.similarity.Similarity.lshCosineTopK(
          e.where(col("vec_id") < 20), e, "vec_id", "embedding",
          k = 10, planes = 3, tables = 32)
      }),
      // model scoring is map-only: wall ∝ scan, shuffle ~zero. The
      // non-foldable filter defeats count()'s projection pruning (same
      // reason as text_repeat)
      "text_qscore" -> (() =>
        docs(f)
          .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("ws"))
          .select(col("doc_id"), array(
            graft.text.TextFunctions.stopwordRatio(col("ws")),
            graft.text.TextFunctions.distinctTokenRatio(col("ws")),
            when(size(col("ws")) > 0,
              least(size(col("ws")).cast("double") / lit(1000.0d), lit(1.0d))),
            graft.text.TextFunctions.avgTokenLen(col("ws"))).as("f"))
          .select(col("doc_id"),
            graft.ml.Logistic.logit(col("f"), Seq(2.0, 1.5, 0.5, -0.25), -1.0).as("q_logit"))
          .where(col("q_logit") > lit(-1e18))),
      // corpus profile: input ×f but the histogram shuffle is keyed by
      // (lang, DISTINCT token count) — suffixed copies keep the same
      // length distribution, so shuffle rows stay ~CONSTANT while the
      // scan grows (the histogram-vs-sort-window design claim)
      "profile_corpus" -> (() =>
        graft.text.CorpusProfile.profile(docs(f), "text")),
      // winnowed fingerprint index: ~2/(w+1) of the run-digest rows —
      // the SAME ∝f growth law as dedup_substring at a lower constant
      "dedup_winnow" -> (() =>
        Dedup.winnowedSubstringPairs(docs(f), "doc_id", "text",
          minSpanLb = 14, k = 8, w = 4)),
      // BM25: FIXED query set (base-corpus slice) against a corpus ×f —
      // postings and the slim per-(query, doc) term shuffle grow ∝ f
      // while the top-k output stays Q·k constant
      "text_bm25" -> (() => {
        val queries = docsPlain(1).where(pmod(col("doc_id"), lit(100)) === 0)
          .select(col("doc_id").as("qid"), concat_ws(" ",
            slice(graft.text.TextFunctions.tokens(col("text")), 1, 8)).as("qtext"))
        graft.text.Bm25.topK(queries, docsPlain(f),
          "qid", "qtext", "doc_id", "text", k = 10)
      }),
      // bigram LM: model FROZEN (trained once on the base corpus),
      // scoring ×f documents — the model tables stay corpus-vocabulary
      // sized (broadcastable), the per-doc term shuffle grows ∝ f
      "text_lm_logp" -> (() => {
        val lm = graft.text.NgramLm.train(docsPlain(1), "text", minCount = 2L)
        graft.text.NgramLm.score(docsPlain(f), "doc_id", "text", lm)
      }),
      // mixture sampling: the strata-count aggregate is strata-sized
      // (constant) at any f and the keep filter is map-only — shuffle
      // stays near-constant while the scan and kept output grow ∝ f
      "sample_mixture" -> (() =>
        graft.curation.Sampling.mixtureSample(docsPlain(f), "text", "source",
          Map("src0" -> 3.0d, "src1" -> 1.0d, "src2" -> 1.0d))),
      // interval-overlap join: left intervals ×f against a fixed right —
      // every overlapping pair meets in its first shared bucket exactly
      // once, so output rows AND bucket-join shuffle grow ∝ f, never ×f²
      "j_range_overlap" -> (() => {
        val l = custBal(f).select(col("c_custkey"),
          (col("c_bal") - 200.0).as("alo"), (col("c_bal") + 200.0).as("ahi"))
        val r = supBands().select(col("s_suppkey"),
          col("lo").as("blo"), col("hi").as("bhi"))
        graft.join.RangeJoin.overlapJoin(l, r,
          col("alo"), col("ahi"), col("blo"), col("bhi"), bucketWidth = 400.0)
      }),
      // hot-phrase mining: gram-count shuffle ∝ f (suffixed copies keep
      // phrase sets disjoint, so distinct (source, phrase) groups grow
      // ×f), while the top-k output stays strata·k CONSTANT — the
      // bounded aggregate never sorts the phrase table
      "text_hotphrase" -> (() =>
        graft.text.TextFunctions.hotPhrases(
          docs(f).withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(20)))),
          "source", "text", n = 2, k = 5, minDf = 3L)),
      // hash split: map-only, ZERO shuffle at any factor; output ∝ f.
      // The filter compares the COMPUTED label per row — an isNotNull
      // guard folds away (the CASE is non-nullable) and count() would
      // prune the md5 down to a metadata scan, flat-lining the curve
      "sample_split" -> (() =>
        graft.curation.Sampling.splitByHash(docsPlain(f), "text",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .where(col("split") =!= lit("__none"))),
      // leakage-safe group split: corpus ×f, near-dup pairs ×f (one
      // synthetic (2i, 2i+1) pair per id pair — component cost stays
      // O(pairs), not O(corpus²)); the only data-sized exchange is the
      // slim (id, label) join-back ∝ f — text never enters an exchange
      "sample_group_split" -> (() => {
        val d = docsPlain(f)
        val pairs = d.select((col("doc_id") * 2).as("doc_i"),
          (col("doc_id") * 2 + 1).as("doc_j"))
        graft.curation.Sampling.groupSplit(d, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .where(col("split") =!= lit("__none"))
      }),
      // group quantiles: the rank window input is DISTINCT (group,
      // value) rows — docsFull perturbs n_chars per copy so distinct
      // values grow ×f here (worst case), but the shuffle stays
      // histogram-sized, never data-sized
      "q_quantiles" -> (() =>
        graft.stats.GroupStats.quantiles(docsFull(f), Seq("source"),
          "n_chars", Seq(50, 90, 99))),
      // left-outer as-of: same O(L+R) keyed-shuffle shape as the inner
      // gate rows plus the outer union-back — rows = |L| exactly at
      // every factor (the outer contract), shuffle ∝ f like the inner.
      // The filter must REFERENCE the matched column: unlike the inner
      // variant (whose match filter needs the carry), the left path
      // leaves the carry window unreferenced under count() and Catalyst
      // eliminates the whole O(L+R) shuffle (the sample_split lesson)
      "j_asof_left" -> (() => {
        val (ev, hourly) = asofInputs(f)
        graft.join.AsOfJoin.asof(ev, hourly,
          keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "h_end",
          joinType = "left")
          .where(coalesce(col("h_value"), lit(0.0)) > lit(-1e18))
      }),
      // normalized exact dedup: regex normalization is map-only; the
      // dedup shuffle carries 16-byte digests ∝ f (suffixed copies keep
      // texts distinct across copies, so canon groups grow ∝ f too)
      "dedup_exact_norm" -> (() =>
        Dedup.exactCanon(
          docs(f).withColumn("text",
            graft.text.TextFunctions.normalizeText(col("text"))),
          "doc_id", "text")),
      // sliding windows: 4x window explode of the tumbling shape — the
      // agg shuffle is keyed by (window, type) groups, which grow with
      // the time-range (fixed) x types (fixed), so shuffle stays
      // ~CONSTANT while the scan grows xf and cnt sums grow xf
      "events_sliding" -> (() =>
        graft.streaming.EventWindows.sliding(
          events(f), width = "1 hour", slide = "15 minutes")),
      // batch shape of the stream-stream interval join: inflation keeps
      // per-user timeline density constant (users ×f), so same-user
      // pairs within the 30-minute bound — the streaming state-size
      // argument — grow ∝ f with the key shuffle, never ×f²
      "j_stream_interval" -> (() => {
        val ev = events(f)
        graft.streaming.EventWindows.intervalJoin(
          ev.select(col("event_id").as("l_event"), col("user_id"), col("ts")),
          ev.select(col("event_id").as("r_event"), col("user_id"), col("ts").as("r_ts")),
          "user_id", "ts", "r_ts", upper = "30 minutes")
          .where(col("l_event") =!= col("r_event"))
      }),

      // --- round-7 families ---------------------------------------------

      // BPE training: 8 pair-count aggs over the DISTINCT-WORD table —
      // docsPlain keeps vocabulary growth real (suffixed copies would
      // multiply the vocab ×f artificially). The corpus collapses to the
      // word table once; per-round shuffle is distinct-pair-sized
      "text_bpe_train" -> (() =>
        graft.text.Bpe.mergesDF(spark,
          graft.text.Bpe.train(docsPlain(f), "text", rounds = 8))),
      // BPE serving: the merge-replay fold is map-only — wall ∝ scan,
      // shuffle ~0. Merges fixed (trained at ×1) so only serving scales;
      // the filter references the computed count so count() cannot prune
      // the fold (the count()-folding probe trap)
      "text_bpe_segment" -> (() => {
        val ms = graft.text.Bpe.train(docsPlain(1), "text", rounds = 8)
        docsPlain(f).select(graft.text.Bpe.tokenCount(col("text"), ms).as("n_bpe"))
          .where(col("n_bpe") >= 0)
      }),
      // composed IVF+PQ at production settings (round 8): candidates
      // ×f, fixed 20 queries, nprobe 2 of 8 cells, bounded shortlist —
      // the cell join is broadcast (probes side), the shortlist cut is
      // the bounded aggregate: shuffle stays ~Q·shortlist while the
      // map-side ADC scan grows ∝ the PROBED fraction of f
      "simsearch_ivfpq" -> (() => {
        val e = embs(f)
        val cents = graft.similarity.Similarity.trainCentroids(
          e, "vec_id", "embedding", nlist = 8, iters = 2)
        val cb = graft.similarity.ProductQuantizer.train(
          e, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
        graft.similarity.IvfPq.topK(
          e.where(col("vec_id") < 20), e, cents, "vec_id", "embedding",
          k = 10, cb, nprobe = 2, shortlist = 100)
      }),

      // VOCAB-SCALE BPE (round 8): 64 merges over derived bigram words,
      // driver-histogram training + native merge-table-as-data serve.
      // The corpus collapses to ONE word-histogram aggregation (shuffle
      // bounded by the DISTINCT derived vocabulary — constant under
      // docsPlain inflation) and the serve is map-only: shuffle stays
      // flat while the scan grows ×f
      "text_bpe_vocab" -> (() => {
        val derived = docsPlain(f)
          .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("ws"))
          .select(col("doc_id"), concat_ws(" ", expr(
            "transform(slice(ws, 1, greatest(size(ws) - 1, 0)), (w, i) -> concat(w, '_', ws[i + 1]))"))
            .as("btext"))
        val ms = graft.text.Bpe.train(derived, "btext", rounds = 64)
        derived.select(col("doc_id"),
            graft.text.Bpe.tokenCount(col("btext"), ms).as("n_bpe"))
          .where(col("n_bpe") >= 0)
      }),
      // VOCAB-SCALE unigram (round 8): same derivation, 512-piece model,
      // native compiled-Viterbi serve; candidate-piece aggregation is
      // vocabulary-bounded, scoring map-only
      "text_unigram_vocab" -> (() => {
        val derived = docsPlain(f)
          .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("ws"))
          .select(col("doc_id"), concat_ws(" ", expr(
            "transform(slice(ws, 1, greatest(size(ws) - 1, 0)), (w, i) -> concat(w, '_', ws[i + 1]))"))
            .as("btext"))
        val m = graft.text.Unigram.train(derived, "btext",
          vocabSize = 512, maxPieceLen = 4)
        derived.select(col("doc_id"),
            graft.text.Unigram.tokenCount(col("btext"), m).as("n_uni"))
          .where(col("n_uni") >= 0)
      }),
      // real-BMP codec pipeline (round 8): hex assembly + decode +
      // resize + histogram, all map-only partition-wise — zero shuffle
      // at every factor; docs ×f means assets ×f
      "multimodal_real" -> (() => {
        val assets = docsPlain(f)
          .withColumn("bh", (pmod(col("doc_id"), lit(5)) + 2).cast("int"))
          .withColumn("hx", concat(
            lit("424D"), lpad(hex(col("bh") * 24 + 54), 2, "0"), lit("000000"),
            lit("00000000"), lit("36000000"), lit("28000000"), lit("08000000"),
            lpad(hex(col("bh")), 2, "0"), lit("000000"), lit("0100"), lit("1800"),
            lit("00000000"), lpad(hex(col("bh") * 24), 2, "0"), lit("000000"),
            lit("130B0000"), lit("130B0000"), lit("00000000"), lit("00000000"),
            expr("""aggregate(sequence(0, bh - 1), '', (acc, r) -> acc ||
              aggregate(sequence(0, 7), '', (a2, x) ->
                a2 || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3, 256)), 2, '0')
                   || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3 + 85, 256)), 2, '0')
                   || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3 + 170, 256)), 2, '0')))""")))
          .select(col("doc_id"), unhex(col("hx")).as("content"))
        val resized = graft.multimodal.Multimodal.resizeImages(
          assets, "content", 4, 4, graft.multimodal.Multimodal.BmpCodec)
        graft.multimodal.Multimodal.withDecodedMeta(resized, "content",
            graft.multimodal.Multimodal.BmpCodec)
          .select(col("doc_id"), col("meta.width").as("w"))
          .where(col("w") >= 0)
      }),
      // real-WAV codec pipeline (round 8): hex assembly + decode +
      // factor-2 decimation, all map-only partition-wise — zero shuffle
      // at every factor; docs ×f means audio assets ×f
      "multimodal_wav" -> (() => {
        val assets = docsPlain(f)
          .withColumn("n", (lit(120) + pmod(col("doc_id"), lit(5)) * 60).cast("int"))
          .withColumn("rate", (lit(1000) + pmod(col("doc_id"), lit(4)) * 500).cast("int"))
          .withColumn("hx", concat(
            lit("52494646"),
            expr("lpad(hex((n*2 + 36) % 256), 2, '0') || lpad(hex((n*2 + 36) div 256), 2, '0')"),
            lit("0000"), lit("57415645"), lit("666D7420"), lit("10000000"),
            lit("0100"), lit("0100"),
            expr("lpad(hex(rate % 256), 2, '0') || lpad(hex(rate div 256), 2, '0')"),
            lit("0000"),
            expr("lpad(hex((rate*2) % 256), 2, '0') || lpad(hex((rate*2) div 256), 2, '0')"),
            lit("0000"), lit("0200"), lit("1000"), lit("64617461"),
            expr("lpad(hex((n*2) % 256), 2, '0') || lpad(hex((n*2) div 256), 2, '0')"),
            lit("0000"),
            expr("""concat_ws('', transform(sequence(0, n - 1), i ->
              lpad(hex(pmod(doc_id*13 + i*7, 65536) % 256), 2, '0') ||
              lpad(hex(pmod(doc_id*13 + i*7, 65536) div 256), 2, '0')))""")))
          .select(col("doc_id"), unhex(col("hx")).as("content"))
        val ds = graft.multimodal.Multimodal.downsampleAudio(
          assets, "content", 2, graft.multimodal.Multimodal.WavCodec)
        graft.multimodal.Multimodal.withDecodedMeta(ds, "content",
            graft.multimodal.Multimodal.WavCodec)
          .select(col("doc_id"), col("meta.sample_rate").as("sr"))
          .where(col("sr") >= 0)
      }),
      // perceptual-hash image dedup (round 8): hex assembly + decode +
      // aHash are map-only ×f; the ONLY shuffle is keyCanon's slim
      // (id, hash_hi, hash_lo) agg + join back — shuffle ∝ f in rows
      // but each row is 24 bytes, never the payload
      "multimodal_phash" -> (() => {
        val assets = docsPlain(f)
          .withColumn("bh", (pmod(col("doc_id"), lit(5)) + 2).cast("int"))
          .withColumn("hx", concat(
            lit("424D"), lpad(hex(col("bh") * 24 + 54), 2, "0"), lit("000000"),
            lit("00000000"), lit("36000000"), lit("28000000"), lit("08000000"),
            lpad(hex(col("bh")), 2, "0"), lit("000000"), lit("0100"), lit("1800"),
            lit("00000000"), lpad(hex(col("bh") * 24), 2, "0"), lit("000000"),
            lit("130B0000"), lit("130B0000"), lit("00000000"), lit("00000000"),
            expr("""aggregate(sequence(0, bh - 1), '', (acc, r) -> acc ||
              aggregate(sequence(0, 7), '', (a2, x) ->
                a2 || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3, 256)), 2, '0')
                   || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3 + 85, 256)), 2, '0')
                   || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3 + 170, 256)), 2, '0')))""")))
          .select(col("doc_id"), unhex(col("hx")).as("content"))
        val hashes = graft.multimodal.Multimodal.imageHash(
          assets, "doc_id", "content", side = 8,
          codec = graft.multimodal.Multimodal.BmpCodec)
        graft.dedup.Dedup.keyCanon(hashes, "asset_id", Seq("hash_hi", "hash_lo"))
          .where(col("canon_id") >= 0)
      }),
      // integer k-means (round 8): rows ×f; assignment is a map-side
      // fold over broadcast centroid literals, so the only exchange is
      // the (cluster, dim)-keyed update partials — k·dim·parts rows
      // regardless of N (near-constant shuffle, scan ∝ f)
      "ml_kmeans" -> (() =>
        graft.ml.IntKMeans.assign(embs(f), "vec_id", "embedding",
          k = 4, rounds = 2)
          .where(col("d2") >= 0)),
      // ROC-AUC (round 8): rows ×f but the only data-sized exchange is
      // the map-side-combined distinct-score histogram; the rank window
      // runs over distinct scores only — shuffle near-constant (score-
      // cardinality-bounded) while scan ∝ f
      "ml_auc" -> (() =>
        graft.ml.Eval.rocAuc(
          // embs() drops the label column; a deterministic id-derived
          // 0/1 stands in — the probe's subject is the score-histogram
          // reduction, not label semantics
          embs(f).select(pmod(col("vec_id"), lit(2)).cast("int").as("y"),
            floor(element_at(col("embedding"), 1).cast("double") * 100)
              .cast("long").as("sc")),
          "y", "sc")
          .where(col("n_pos") >= 0)),
      // semantic decontam (round 8): corpus ×f, benchmark CONSTANT and
      // broadcast — the corpus rides a map-side nested loop; the only
      // shuffle is the doc-keyed agg over HIT rows (slim, ∝ hits)
      "decontam_semantic" -> (() => {
        val bench = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .where(pmod(col("vec_id"), lit(17)) === 0)
        graft.dedup.Dedup.decontamSemantic(
          embs(f).where(pmod(col("vec_id"), lit(17)) =!= 0), "vec_id", "embedding",
          bench, "vec_id", "embedding", tau = 0.3)
          .where(col("n_hits") >= 0)
      }),
      // MAD outliers (round 8): data rows ×f but the two histogram
      // exchanges stay distinct-value-sized and the med/mad join-backs
      // broadcast — shuffle should stay near-constant while scan ∝ f
      "q_outliers" -> (() => {
        val docs = docsPlain(f).withColumn("n_chars", length(col("text")).cast("long"))
          .select("doc_id", "source", "n_chars")
        graft.stats.GroupStats.robustOutliers(docs, Seq("source"), "n_chars", k = 2)
          .where(col("abs_dev") >= 0)
      }),
      // decayed sums (round 8): one key-partitioned window sort, state
      // O(steps) per row — shuffle ∝ f slim rows, never event×event
      "events_decay" -> (() => {
        val ev = events(f).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          (col("value").cast("decimal(38,8)") * 100).cast("long").as("v_cents"))
        graft.streaming.EventWindows.decayedSum(ev, "user_id", "t_us",
          "event_id", "v_cents", steps = 8)
          // v_cents >= 0 on this data, so the guard keeps every row —
          // but it references decay_sum, so count() cannot prune the
          // window (a tautology over the column gets simplified away)
          .where(col("decay_sum") >= 0)
      }),
      // small-file compaction (round 8): fragmentation ×f (3 appends of
      // a ×f table), the rewrite is ONE repartition of the whole table
      // — wall and shuffle ∝ f, the price paid per MAINTENANCE run
      // (documented amortization contract); invariant: files after ==
      // buckets at every factor
      "layout_compact" -> (() => {
        val base = java.nio.file.Files.createTempDirectory("graft-scale-compact-").toString
        val t = s"scale_compact_f$f"
        val orders = keyed("orders", "o_orderkey", f, 100000000L)
          .withColumn("o_custkey", pmod(col("o_orderkey"), lit(15000L)))
        graft.layout.Bucketed.writeBucketed(
          orders.where(pmod(col("o_orderkey"), lit(4)) === 0),
          t, s"$base/v1", Seq("o_custkey"), 8)
        for (m <- 1 to 3)
          orders.where(pmod(col("o_orderkey"), lit(4)) === m)
            .repartition(3)
            .write.format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
            .mode("append").saveAsTable(t)
        val stats = graft.layout.Compact.compactBucketed(spark, t, s"$base/v2")
        require(stats.filesAfter <= 8, s"compaction left ${stats.filesAfter} files")
        spark.table(t).where(col("o_custkey") >= 0)
      }),
      // LM persistence round-trip at scale: train ∝ f, save/load adds a
      // parquet write+read of the count tables (natural partitioning —
      // the artifact is itself big data), scoring ∝ f
      "text_lm_saved" -> (() => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-scale-lm-").toString
        graft.ml.ModelStore.saveBigramLm(
          graft.text.NgramLm.train(docsPlain(f), "text", minCount = 2L), tmp)
        graft.text.NgramLm.score(docsPlain(f), "doc_id", "text",
          graft.ml.ModelStore.loadBigramLm(spark, tmp))
          .where(col("n_bigrams") >= 0)
      }),
      // HLL sketch report: the headline claim is CONSTANT shuffle (only
      // |strata| sketch states move) while the scan grows ×f
      "profile_sketch" -> (() =>
        graft.text.CorpusSketch.sketch(docsPlain(f), Seq("source"), "text")
          .where(col("approx_distinct_tokens") >= 0L)),
      // left-outer grid nearest with a filter over the matched column:
      // the null-emission for condition-starved rows (1/5 of customers);
      // rows = |left| exactly at every factor. Filter references the
      // matched column (probe trap, third occurrence). Renamed in round
      // 13 — this r7 probe had silently shared its name with
      // `j1_nearest_left_grid` (both ran, rows collided in artifacts)
      "j1_nearest_left_grid_fixedcell" -> (() =>
        graft.join.GridNearestJoin.nearest(
          custPoints(f), supPoints(f), wkb("lon", "lat"), wkb("slon", "slat"),
          tieBreak = Some(col("s_suppkey")),
          condition = Some(col("s_suppkey") % 4 === col("c_custkey") % 5),
          joinType = "left")
          .where(col("s_suppkey").isNull || col("s_suppkey") >= 0)
          .select("c_custkey", "s_suppkey")),
      // left-outer grid withindist: each probe's home leaf decides its
      // null row from the ids the other leaves matched; rows >= |left|
      "j2_withindist_left_grid" -> (() => {
        supEq(f).createOrReplaceTempView("scale_j2l_sup")
        new BroadcastSpatialJoin().setDataset("scale_j2l_sup")
          .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
          .setDataColumns("s_suppkey").setBroadcast("none")
          .setPredicate("withindist 300000").setDistColAlias("dist_m")
          .setJoinType("left")
          .transform(custEq(f).select("c_custkey", "lon", "lat"))
          .where(col("dist_m").isNull || col("dist_m") >= 0)
          .select("c_custkey", "s_suppkey", "dist_m")
      }),

      // --- round-7b families --------------------------------------------

      // segment dedup: suffixed copies keep their segments distinct, so
      // the digest shuffle and the survivor set grow ∝ f; the
      // computed-column filter keeps count() from pruning the dedup
      "dedup_segments" -> (() =>
        graft.dedup.Dedup.segmentDedup(docs(f), "doc_id", "text", seg = 8)
          .where(col("n_kept") >= 0L).select("doc", "n_kept")),

      // overlap decontam: the benchmark stays ×1 (an eval suite does not
      // grow with the corpus) → broadcast constant, corpus
      // distinct-gram shuffle ∝ f
      "decontam_ngram" -> (() => {
        val bench = docsPlain(1).where(pmod(col("doc_id"), lit(10)) === 0)
        graft.dedup.Dedup.decontamOverlap(
          docsPlain(f).where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text",
          bench, "text", n = 5, theta = 0.1)
          .where(col("n_grams") >= 0L)
      }),

      // bloom decontam headline: corpus windows are dropped MAP-SIDE by
      // the broadcast bloom; only (true hits + fpp·windows) rows reach
      // an exchange — shuffle tracks the HIT set, not the corpus scan
      "dedup_decontam_bloom" -> (() => {
        val bench = docsPlain(1).where(pmod(col("doc_id"), lit(10)) === 0)
        graft.dedup.Dedup.decontaminateBloom(
          docsPlain(f).where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text",
          bench, "text", k = 8, expectedItems = 1000000L, fpp = 0.001)
      }),

      // record linkage: copies get copy-scoped block keys (first token
      // prefixed with the copy id) — MORE blocks of the same size, the
      // way a growing entity catalog actually scales; pairs ∝ f
      "link_fuzzy" -> (() => {
        val parts = spark.read.parquet(s"$sfDir/part.parquet")
          .select(col("p_partkey"), col("p_name"))
          .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
            col("p_partkey"), col("p_name"))
          .select((col("p_partkey") + col("__k") * lit(1000000000L)).as("p_partkey"),
            concat(col("__k").cast("string"), lit("_"), col("p_name")).as("p_name"))
        graft.link.RecordLinkage.blockedPairs(parts, "p_partkey", "p_name",
          split(col("p_name"), " ").getItem(0), maxDist = 3)
          .where(col("dist") >= 0)
      }),

      // skew-capped record linkage at a production maxBlock (round 14,
      // VERDICT directive 6): the uncapped probe above measures the
      // honest worst case and is ∝ f only because its copies get
      // copy-SCOPED block keys — 44.7 s at ×1 rising to 834 s at ×16,
      // i.e. ~4 500 s extrapolated at ×100, which is why no uncapped
      // ×100 row exists. THIS probe models the other real regime: 90%
      // of rows keep the BASE first-token key across copies (the
      // degenerate hot-catalog / "unknown"-key failure mode — block
      // size ∝ f, pair work ∝ f² uncapped; sf0.1 part has only 8
      // distinct first tokens, so hot blocks start at ~2 250 rows),
      // 10% get copy-scoped keys (healthy blocks: count ∝ f, size
      // ~250 constant). maxBlock=3000 drops grown hot blocks BEFORE
      // the self-join via two map-side-combined size aggs, and the cap
      // ENGAGES inside the measured curve: at ×1 every block is under
      // it and the full ~20 M-candidate pair work runs (≈ the uncapped
      // twin's ×1 cost); at ×10/×100 the hot 90% (22 k-row blocks,
      // ×f² work uncapped) vanishes from the join and cost collapses
      // to scan ∝ f plus the healthy blocks' linear pair growth — the
      // knob that turns an f² explosion into a query a 1000-executor
      // cluster can run. Output is deliberately non-monotone (×1 keeps
      // hot pairs, ×10 does not): that IS the cap's contract —
      // recall inside healthy blocks, documented loss on hot keys.
      "link_fuzzy_capped" -> (() => {
        val parts = spark.read.parquet(s"$sfDir/part.parquet")
          .select(col("p_partkey"), col("p_name"))
          .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
            col("p_partkey"), col("p_name"))
          .select((col("p_partkey") + col("__k") * lit(1000000000L)).as("p_partkey"),
            col("__k"), col("p_name"))
        // 1e9 ≡ 0 (mod 10): the SAME 10% of every copy is healthy
        val bk = when(pmod(col("p_partkey"), lit(10)) === 0,
            concat(col("__k").cast("string"), lit("_"),
              split(col("p_name"), " ").getItem(0)))
          .otherwise(split(col("p_name"), " ").getItem(0))
        graft.link.RecordLinkage.blockedPairs(parts, "p_partkey", "p_name",
          bk, maxDist = 3, maxBlock = Some(3000))
          .where(col("dist") >= 0)
      }),

      // GK approx quantiles: accuracy-bounded sketch states are the only
      // shuffled bytes — constant while the scan grows ×f
      "q_quantiles_approx" -> (() =>
        graft.stats.GroupStats.approxQuantiles(docsFull(f), Seq("source"),
          "n_chars", Seq(50, 90), accuracy = 1000)
          .where(col("ap50") >= 0L)),

      // semantic dedup at SemDeDup's operating point k ∝ N: cell size
      // stays constant, so within-cell pairs and both vector shuffles
      // grow ∝ f; the seed broadcast stays k·dim doubles
      "dedup_semantic" -> (() =>
        graft.dedup.Dedup.semanticDedup(embs(f), "vec_id", "embedding",
          k = 16 * f, tau = 0.3)
          .where(col("cluster") >= 0L).select("doc", "is_dup")),

      // DSIR importance: target FIXED at ×1 (the target domain sample
      // does not grow with the crawl); raw gram count agg + per-doc sum
      // shuffles ∝ f, the bucket score table stays <= B broadcast rows
      "sample_importance" -> (() => {
        val tgt = docsPlain(1).where(pmod(col("doc_id"), lit(10)) === 0)
        graft.curation.Sampling.importanceWeights(
          docsPlain(f).where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text",
          tgt, "text")
          .where(col("n_feats") >= 0L)
      }),

      // temperature sampling: one strata-count agg (strata fixed, rows
      // ×f) + a map-only threshold filter — shuffle stays strata-sized
      "sample_temperature" -> (() =>
        graft.curation.Sampling.temperatureSample(
          docsFull(f).withColumn("__t", col("doc_id").cast("string")),
          "__t", "source", alpha = 0.5)),

      // unigram tokenizer: training aggregations are VOCABULARY-bounded
      // (distinct words, candidate pieces) — constant across factors on
      // docsPlain; serving is a map-only Viterbi fold, wall ∝ scan
      "text_unigram" -> (() => {
        val m = graft.text.Unigram.train(docsPlain(1), "text",
          vocabSize = 64, maxPieceLen = 4)
        docsPlain(f).select(
          graft.text.Unigram.tokenCount(col("text"), m).as("n"))
          .where(col("n") >= 0L)
      }),

      // corpus drift: two bucket-count aggregations collapse to <= B
      // rows each before the join — shuffle stays ~B-bounded (count
      // partials) while both scans grow ×f
      "profile_drift" -> (() =>
        graft.text.CorpusDrift.summary(
          docsPlain(f).where(pmod(col("doc_id"), lit(2)) === 1), "text",
          docsPlain(f).where(pmod(col("doc_id"), lit(2)) === 0), "text")
          .where(col("kl_ab_micro") >= Long.MinValue)),

      // z-order layout rewrite: one scan + one range shuffle of the
      // full data ∝ f — the cost any layout rewrite pays by definition;
      // stats stay a 1-row broadcast at every factor
      "layout_zorder" -> (() => {
        val li = keyed("lineitem", "l_orderkey", f, 1000000000L)
          .withColumn("l_partkey", pmod(col("l_orderkey") * 17L, lit(200000L)))
        graft.layout.ZOrder.zorderBy(li, Seq("l_orderkey", "l_partkey"),
          partitions = 32, bits = 16)
      }),

      // incremental dedup vs a SAVED index: the ingested corpus (index)
      // stays ×1 — steady state pays banding for the NEW batch only, so
      // probe-side shuffle ∝ f while the index side is a reload
      "dedup_cross_saved" -> (() => {
        val path = java.nio.file.Files.createTempDirectory("graft-scale-mhidx-").toString
        graft.ml.ModelStore.saveMinhashIndex(
          graft.dedup.Dedup.buildMinhashIndex(
            docs(1).where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text"), path)
        graft.dedup.Dedup.minhashPairsVsIndex(
          docs(f).where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
          graft.ml.ModelStore.loadMinhashIndex(spark, path), tau = 0.8)
      }),

      // saved-index delta APPEND (round 8): the corpus index is ×f (its
      // one-time build+save dominates the measured wall, ∝ f by
      // design); the maintenance action under test — a FIXED 500-doc
      // delta parquet-appended with parameters derived from the index
      // head — is timed separately and printed as a [scale-extra]
      // line, which must stay CONSTANT across factors (∝ delta, the
      // corpus files never rewritten)
      "dedup_index_append" -> (() => {
        val path = java.nio.file.Files.createTempDirectory("graft-scale-mhidxap-").toString
        graft.ml.ModelStore.saveMinhashIndex(
          graft.dedup.Dedup.buildMinhashIndex(docsPlain(f), "doc_id", "text"), path)
        val t0 = System.nanoTime()
        graft.ml.ModelStore.appendMinhashIndex(spark, path,
          docsPlain(1).select((col("doc_id") + 900000000L).as("doc_id"), col("text")),
          "doc_id", "text")
        System.err.println(f"""[scale-extra] {"query":"dedup_index_append","factor":$f,"append_sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
        graft.ml.ModelStore.loadMinhashIndex(spark, path).where(col("doc") >= 0)
      }),

      // --- round-7c families --------------------------------------------

      // prefix-filtered set-similarity: same exact output as the plain
      // inverted-index join (pairs ∝ f on suffixed copies); the probe
      // pins that the PREFIX shape also scales — dfreq agg + rank join
      // ∝ f, pair join over ~tau-fraction prefix rows
      "dedup_jaccard_prefix" -> (() =>
        Dedup.jaccardPairsPrefix(docs(f), "doc_id", "text", tau = 0.8)),

      // phrase search: needles fixed, corpus ×f — the digest compare
      // kills misses map-side, so shuffle tracks the HIT set (∝ f)
      // while the scan grows ×f; wall must stay scan-bound
      "text_phrase" -> (() =>
        graft.text.PhraseSearch.phraseHits(docsPlain(f), "doc_id", "text",
          Seq("table hash", "slow hash batch", "row column sort"))
          .where(col("hits") >= 0L)),

      // snapshot diff: both sides ×f, delta fraction fixed — the two
      // digest shuffles and the delta output grow ∝ f, rows never
      // carry text
      "corpus_diff" -> (() => {
        val base = docsPlain(f)
        graft.curation.SnapshotDiff.diff(
          base.where(pmod(col("doc_id"), lit(10)) =!= 0),
          base.withColumn("text",
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(col("text"), lit(" r"))).otherwise(col("text")))
            .where(pmod(col("doc_id"), lit(10)) =!= 1),
          "doc_id", "text")
      }),

      // CMS headline: the sketch aggregation keys on depth·width
      // buckets — shuffle stays sketch-sized (∝ partial count rows,
      // ~KB) while the token scan grows ×f
      "profile_cms" -> (() =>
        graft.text.CorpusSketch.cmsBuild(docsPlain(f), "text",
          depth = 4, width = 1024)
          .where(col("cnt") >= 0L)),

      // hashing-trick features: one (doc, bucket)-keyed map-side-
      // combined agg — shuffle ∝ f slim count rows (per-doc state
      // bounded by min(tokens, dim)), never grams
      "text_hashvec" -> (() =>
        graft.text.TextFunctions.hashedFeatures(docsPlain(f), "doc_id", "text",
          dim = 4096)
          .where(col("cnt") >= 0L)),

      // HTML strip: map-only codegen chain — ZERO shuffle at every
      // factor, wall ∝ scan (the length() guard keeps count() from
      // pruning the regex work)
      "text_html_strip" -> (() =>
        docsPlain(f).select(graft.text.TextFunctions.stripHtml(
            concat(lit("<div><p>"), col("text"),
              lit("</p><script>var a=1;</script> &amp; tail</div>"))).as("clean"))
          .where(length(col("clean")) >= 0)),

      // nearest as-of: TWO window sorts over the same one keyed
      // shuffle — shuffle bytes must track j_asof_hourly's ∝ f, wall
      // may carry a constant-factor second-sort term, never a pair term
      "j_asof_nearest" -> (() => {
        val (ev, hourly) = asofInputs(f)
        graft.join.AsOfJoin.asof(ev, hourly,
          keys = Seq("user_id"), leftTsCol = "ts", rightTsCol = "h_end",
          direction = "nearest")
      }),

      // int8 ANN: candidates ×f against fixed queries — codes/decode
      // are map-only, the only growing shuffle is the slim (qid, cid,
      // approx) shortlist rank ∝ f
      "simsearch_int8" -> (() => {
        val e = embs(f)
        val p = graft.similarity.ScalarQuantizer.train(e, "embedding")
        graft.similarity.ScalarQuantizer.topK(
          e.where(col("vec_id") < 20), e, "vec_id", "embedding", k = 10,
          p, shortlist = 100)
      }),

      // binary ANN: candidates ×f against fixed queries — sign encode
      // and bit_count(xor) Hamming scan are map-only; the bounded
      // top-k shortlist cut ships ~Q·shortlist partials, so shuffle
      // stays ~constant while the scan grows ×f
      "simsearch_binary" -> (() => {
        val e = embs(f)
        val p = graft.similarity.BinaryQuantizer.train(e, "embedding")
        graft.similarity.BinaryQuantizer.topK(
          e.where(col("vec_id") < 20), e, "vec_id", "embedding", k = 10,
          p, shortlist = 100)
      }),

      // funnel: events ×f with ×f users (per-user density constant) —
      // two forward-as-of folds, shuffle ∝ f slim (user, ts) rows
      "events_funnel" -> (() =>
        graft.streaming.Funnel.earliestChain(events(f), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowMicros = 2L * 3600 * 1000000)
          .where(col("steps_reached") >= 1)),

      // expectations: the one-pass table rules + key/FK checks — all
      // map-side-combined aggregations and one anti-join; report rows
      // CONSTANT while both scans grow ×f
      "quality_expectations" -> (() => {
        val li = keyed("lineitem", "l_orderkey", f, 1000000000L)
          .withColumn("l_quantity", pmod(col("l_orderkey"), lit(50L)) + 1)
        val ords = keyed("orders", "o_orderkey", f, 1000000000L)
        graft.stats.Expectations.report(
          graft.stats.Expectations.tableRules(li, Seq(
            "q_in_1_50" -> !(col("l_quantity") >= 1 && col("l_quantity") <= 50),
            "q_in_1_10" -> !(col("l_quantity") >= 1 && col("l_quantity") <= 10))),
          graft.stats.Expectations.uniqueKey(ords, Seq("o_orderkey"), "o_pk"),
          graft.stats.Expectations.referential(li, Seq("l_orderkey"),
            ords, Seq("o_orderkey"), "li_fk"))
      }),

      // streaming phrase monitor (batch path): needle probes die
      // map-side; the dedup shuffle tracks flagged contents only
      "phrase_stream_flag" -> (() =>
        graft.text.PhraseSearch.flagged(docsPlain(f), "text", "ts",
          Seq("table hash", "slow hash batch"))
          .select(md5(col("text")).as("m"), col("phrase"))
          .where(length(col("m")) >= 0)),

      // SCD2: events ×f with ×f keys — one keyed shuffle, per-key
      // windows bounded by per-entity observations (constant here)
      "scd2_history" -> (() =>
        graft.curation.ChangeHistory.scd2(
          events(f).select("user_id", "ts", "event_type"),
          "user_id", "ts", Seq("event_type"))
          .where(col("version") >= 1L)),

      // streaming SCD2's batch fold on the same inflation: one keyed
      // exchange into the stateful operator, no window machinery
      "scd2_stream" -> (() =>
        graft.curation.ChangeHistory.scd2Stream(
          events(f).select("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type")
          .where(col("version") >= 1L)),

      // point-in-time join: scd2 build + backward as-of + residual —
      // facts AND history inflate ∝ f, slim tagged-union shuffle
      "j_pointintime" -> (() => {
        val ev = events(f)
        val hist = graft.curation.ChangeHistory.scd2(
          ev.select("user_id", "ts", "event_type"),
          "user_id", "ts", Seq("event_type"))
          .withColumnRenamed("event_type", "state")
        graft.curation.ChangeHistory.pointInTime(
          ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          hist, Seq("user_id"), "ts")
          .where(col("version") >= 1L)
      }),

      // hard negatives: the cosineTopK layout + per-query O(shortlist)
      // filter/re-rank — candidates ×f never shuffle, Q·N score rows
      "simsearch_hardneg" -> (() =>
        graft.similarity.Similarity.hardNegatives(
          embs(1).where(col("vec_id") < 20), embs(f),
          "vec_id", "embedding", k = 10, shortlist = 40,
          dupThreshold = 0.35)
          .where(col("rnk") >= 1)),

      // windowed trending grams: map-side distinct shingles, one
      // (window, gram) agg — shuffle bounded by windows × distinct
      // grams (docsPlain text repeats, so grams constant while docs ×f)
      "text_trending" -> (() =>
        graft.streaming.Trending.gramWindows(
          docsPlain(f).select(
            timestamp_micros(pmod(col("doc_id"), lit(100000L)) * 1000000L).as("ts"),
            col("text")),
          "ts", "text", n = 2, windowDur = "64 seconds", minDf = 5)
          .where(col("df") >= 0)),

      // z-score standardization: stats agg bounded by GROUP count
      // (constant) + join-back ∝ f — the quantileBins shuffle shape
      "q_zscore" -> (() =>
        graft.stats.GroupStats.standardize(
          docsFull(f).select(col("doc_id"), col("source"),
            col("n_chars").cast("int").as("n_chars")),
          Seq("source"), "n_chars")
          .where(col("z_micro").isNotNull)),

      // CDC merge-apply: snapshot ×f, log ×f (delta-sized per copy) —
      // the window runs over the LOG only; shuffle ∝ f of slim rows
      "cdc_apply" -> (() => {
        val snap = docsFull(f).select("doc_id", "source", "n_chars")
        val ups = docsFull(f).where(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), (col("doc_id") * 10).as("ts"),
            lit("upsert").as("op"), col("source"),
            (col("n_chars") + 1000).as("n_chars"))
        val dels = docsFull(f).where(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"), (col("doc_id") * 10 + 5).as("ts"),
            lit("delete").as("op"), lit(null).cast("string").as("source"),
            lit(0L).as("n_chars"))
        graft.curation.Cdc.applyLog(snap, ups.unionByName(dels),
          Seq("doc_id"), "ts", "op")
          .where(col("n_chars") >= 0)
      }),

      // quantile binning: histogram shuffle bounded by DISTINCT
      // values (constant here) + the one join-back of the input ∝ f
      "q_bins" -> (() =>
        graft.stats.GroupStats.quantileBins(
          docsFull(f).select(col("doc_id"), col("source"),
            pmod(col("n_chars"), lit(1000)).as("n_chars")),
          Seq("source"), "n_chars", numBins = 4)
          .where(col("bin") >= 0)),

      // A/B report: (variant, unit) dedup shuffle ∝ units, then 2
      // partials + a constant 2-row fold — output always 1 row
      "events_abtest" -> (() =>
        graft.stats.ABTest.twoProportions(
          events(f).withColumn("variant",
              pmod(col("user_id"), lit(2)).cast("string"))
            .withColumn("converted", col("event_type") === "purchase"),
          "user_id", "variant", "converted")
          .where(col("n_a") >= 0)),

      // trailing features: one RANGE window, per-key rows bounded by
      // per-user timeline density (constant) — shuffle ∝ f slim rows
      "events_trailing" -> (() =>
        graft.streaming.EventWindows.trailingCount(
          events(f).select("event_id", "user_id", "ts"), "user_id", "ts",
          windowMicros = 3600L * 1000000)
          .where(col("trail_cnt") >= 0)),

      // cohort retention: events ×f with ×f users — slim anchor agg +
      // equi-join + triple dedup; shuffle ∝ f, output matrix bounded
      // by cohorts × offsets (constant here)
      "events_retention" -> (() =>
        graft.streaming.Retention.cohorts(events(f),
          "user_id", "ts", "event_type", "signup")
          .where(col("n_users") >= 0)),

      // salted-vs-plain skew A/B on a half-hot key (key 0 holds half
      // of a ×f probe): same result set, the salted plan splits the
      // hot merge-join partition 8 ways — read the wall delta at ×16
      "j_skew_plain" -> (() =>
        skewProbe(f).hint("merge").join(skewBuild().hint("merge"), Seq("k"))
          .where(col("pay") >= 0)),
      "j_skew_salted" -> (() =>
        graft.join.SkewJoin.salted(
          skewProbe(f), skewBuild(), Seq("k"), saltFactor = 8,
          hotKeys = Some(skewBuild().where(col("k") === 0).select("k")),
          strategyHint = Some("merge"))
          .where(col("pay") >= 0)),

      // multi-join pricing rollup: facts ×f, dims constant (broadcast)
      // — shuffle tracks the fact equi-join, output rows constant
      "q_pricing" -> (() => {
        def infl(name: String, key: String, rest: Seq[String]) =
          spark.read.parquet(s"$sfDir/$name.parquet")
            .select((key +: rest).map(col): _*)
            .select(explode(sequence(lit(0), lit(f - 1))).as("__k") +:
              (key +: rest).map(col): _*)
            .select((col(key) + col("__k") * lit(1000000000L)).as(key) +:
              rest.map(col): _*)
        val li = infl("lineitem", "l_orderkey", Seq("l_extendedprice", "l_discount"))
        val ord = infl("orders", "o_orderkey", Seq("o_custkey", "o_orderpriority"))
        val cust = spark.read.parquet(s"$sfDir/customer.parquet")
          .select("c_custkey", "c_mktsegment")
        li.hint("merge").join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("o_orderpriority"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(38,8)")).as("r"), count(lit(1)).as("n"))
          .where(col("r") >= 0)
      }),

      // bucketed co-located join: the measured shuffle is the two
      // WRITE-time repartitions (∝ f, paid once per layout); the join
      // itself plans with no exchange (BucketedSpec pins the plan)
      "j_bucketed_colocated" -> (() => {
        val base = s"/tmp/graft_scale_bucketed_f$f"
        graft.layout.Bucketed.writeBucketed(
          keyed("orders", "o_custkey", f, 100000000L),
          s"scale_bkt_orders_$f", s"$base/orders", Seq("o_custkey"), 16)
        graft.layout.Bucketed.writeBucketed(
          keyed("customer", "c_custkey", f, 100000000L)
            .withColumnRenamed("c_custkey", "o_custkey"),
          s"scale_bkt_cust_$f", s"$base/customer", Seq("o_custkey"), 16)
        graft.layout.Bucketed.colocatedJoin(spark,
            s"scale_bkt_orders_$f", s"scale_bkt_cust_$f", Seq("o_custkey"))
          .where(col("o_custkey") >= 0)
      }),

      // sentence segmentation: map-only replace-then-split — zero
      // shuffle at every factor
      "text_sentences" -> (() =>
        docsPlain(f).select(col("doc_id"),
          posexplode(graft.text.TextFunctions.sentences(
            regexp_replace(col("text"), "table", "table."))))
          .where(length(col("col")) >= 0)),

      // URL extraction: map-only token filter + host key — zero
      // shuffle at every factor
      "text_urls" -> (() =>
        docsPlain(f).withColumn("tx", concat(col("text"),
            lit(" https://www.ex"), pmod(col("doc_id"), lit(9)).cast("string"),
            lit(".org/a b http://x.io/c")))
          .select(col("doc_id"),
            posexplode(graft.text.TextFunctions.urls(col("tx"))))
          .where(length(col("col")) >= 0)),

      // hot-value profile: distinct-value-sized count agg + TakeOrdered
      // — shuffle bounded by distinct values, never rows
      "profile_hotkeys" -> (() =>
        graft.stats.GroupStats.topValues(
          keyed("lineitem", "l_orderkey", f, 1000000000L)
            .withColumn("l_partkey", pmod(col("l_orderkey") * 17L, lit(200000L))),
          "l_partkey", k = 10)),

      // curation audit: profile projection + canonIds agg + join back —
      // digest-keyed shuffles ∝ f, verdicts for every row
      "pipeline_curate_audit" -> (() =>
        graft.api.PyFacade.curateAudit(docs(f), "doc_id", "text",
          "en", 5, 0.3)
          .where(col("kept") === col("kept"))),

      // PageRank: ×f disjoint copies of the purchase graph (both
      // endpoints offset per copy) — E and V grow ×f, iterations
      // constant, so total cost must be ∝ f with per-iteration shuffle
      // ∝ E slim rows; any super-linear term means the edge snapshot
      // is being recomputed or the rank join degenerated
      "graph_pagerank" -> (() =>
        graft.graph.PageRank.run(graphEdges(f), "src", "dst",
          iterations = 4)
          .where(col("pr_unit") >= 0L)),

      // hybrid RRF: corpus ×f on BOTH retrieval branches, queries
      // fixed — upstream retrieval shuffles grow ∝ f (their own
      // probes), but the fusion's union+sum+cut moves only O(Q·k·2)
      // rows at any f
      "search_hybrid_rrf" -> (() => {
        val d = docsPlain(f)
        val queries = docsPlain(1).where(pmod(col("doc_id"), lit(100)) === 0)
          .select(col("doc_id").as("qid"), concat_ws(" ",
            slice(graft.text.TextFunctions.tokens(col("text")), 1, 8)).as("qtext"))
        val lex = graft.text.Bm25.topK(queries, d,
            "qid", "qtext", "doc_id", "text", k = 10)
          .select("qid", "doc_id", "rnk")
        val e = embs(f)
        val dense = graft.similarity.Similarity.cosineTopK(
            embs(1).where(col("vec_id") < 5), e, "vec_id", "embedding", k = 10)
          .select(col("qid"), col("cid").as("doc_id"), col("rnk"))
        graft.similarity.Fusion.rrf(Seq(lex, dense), "qid", "doc_id", "rnk", k = 10)
      }),

      // triangles: pair list ∝ f (disjoint id-offset copies of the
      // base similarity graph — inflating the VECTORS would create
      // cross-copy cos=1.0 pairs and a ×f² edge set) — wedge join and
      // close both ∝ f under degree-ordered orientation
      "graph_triangles" -> (() => {
        val base = Dedup.embeddingPairs(embs(1), "vec_id", "embedding", tau = 0.3)
          .select("doc_i", "doc_j")
        val inflated = base
          .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
            col("doc_i"), col("doc_j"))
          .select((col("doc_i") + col("__k") * lit(10000000L)).as("doc_i"),
            (col("doc_j") + col("__k") * lit(10000000L)).as("doc_j"))
        graft.graph.Triangles.perNode(inflated, "doc_i", "doc_j")
          .where(col("tri_cnt") >= 1L)
      }),

      // walks: graph ×f disjoint copies, fixed steps/walksPerNode —
      // state rows ∝ nodes, two slim equi-joins per step, jobs constant
      "graph_walks" -> (() =>
        graft.graph.Walks.walks(graphEdges(f), "src", "dst",
          steps = 3, walksPerNode = 1)
          .where(col("step") >= 0L)),

      // one-mode projection: bipartite pairs ×f with per-copy offsets
      // on BOTH sides — fanout Σdeg² grows ∝ f (disjoint copies),
      // never ×f²; the hub cap is the documented valve for real skew
      "graph_copurchase" -> (() => {
        val pairs = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(spark.read.parquet(s"$sfDir/orders.parquet")
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
            col("o_custkey"), col("l_suppkey"))
          .select((col("o_custkey") + col("__k") * lit(100000000L)).as("cust"),
            (col("l_suppkey") + col("__k") * lit(100000000L)).as("supp"))
        graft.graph.Projection.coOccurrence(pairs, "cust", "supp")
          .where(col("w") >= 1L)
      }),

      // label propagation: graph ×f disjoint copies, seed pool ∝ f,
      // fixed rounds — per round one slim labeled join + (dst, label)
      // count, O(rounds·E), jobs constant
      "graph_label_prop" -> (() => {
        val seeds = keyed("supplier", "s_suppkey", f, 100000000L)
          .select(col("s_suppkey"), pmod(col("s_suppkey"), lit(25L)).as("nk"))
        graft.graph.LabelProp.propagate(graphEdges(f), seeds,
          "src", "dst", "s_suppkey", "nk", rounds = 3)
          .where(col("label") >= 0L)
      }),

      // tile stats: ×f BMP assets, map-only decode + per-tile integer
      // fold — zero shuffle at every factor, rows ∝ f tiles
      "multimodal_tile_stats" -> (() => {
        val assets = docsPlain(f)
          .withColumn("bh", (pmod(col("doc_id"), lit(5)) + 2).cast("int"))
          .withColumn("hx", concat(
            lit("424D"), lpad(hex(col("bh") * 24 + 54), 2, "0"), lit("000000"),
            lit("00000000"), lit("36000000"), lit("28000000"), lit("08000000"),
            lpad(hex(col("bh")), 2, "0"), lit("000000"), lit("0100"), lit("1800"),
            lit("00000000"), lpad(hex(col("bh") * 24), 2, "0"), lit("000000"),
            lit("130B0000"), lit("130B0000"), lit("00000000"), lit("00000000"),
            expr("""aggregate(sequence(0, bh - 1), '', (acc, r) -> acc ||
              aggregate(sequence(0, 7), '', (a2, x) ->
                a2 || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3, 256)), 2, '0')
                   || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3 + 85, 256)), 2, '0')
                   || lpad(hex(pmod(doc_id * 7 + (bh - 1 - r) * 31 + x * 3 + 170, 256)), 2, '0')))""")))
          .select(col("doc_id"), unhex(col("hx")).as("content"))
        graft.multimodal.Multimodal.imageTileStats(
          assets, "doc_id", "content", 4, 2,
          graft.multimodal.Multimodal.BmpCodec)
          .where(col("mean_b") >= 0L)
      }),

      // audio energy: ×f assets, map-only decode + per-window integer
      // fold — zero shuffle at every factor, rows ∝ f windows
      "multimodal_wav_energy" -> (() =>
        graft.multimodal.Multimodal.audioEnergy(
          wavProbeAssets(f), "doc_id", "content", 50,
          graft.multimodal.Multimodal.WavCodec)
          .where(col("mean_sq") >= 0L)),

      // k-core: same disjoint-copy pair inflation, FIXED peel rounds —
      // each round one degree agg + two semi-joins over O(E) slim rows,
      // so total cost ∝ rounds·f with no quadratic term
      "graph_kcore" -> (() => {
        val base = Dedup.embeddingPairs(embs(1), "vec_id", "embedding", tau = 0.3)
          .select("doc_i", "doc_j")
        val inflated = base
          .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
            col("doc_i"), col("doc_j"))
          .select((col("doc_i") + col("__k") * lit(10000000L)).as("doc_i"),
            (col("doc_j") + col("__k") * lit(10000000L)).as("doc_j"))
        graft.graph.KCore.kCore(inflated, "doc_i", "doc_j", k = 3, rounds = 6)
          .where(col("deg") >= 0L)
      }),

      // near-dup keep policy: pairs ∝ f (disjoint doc copies), CC
      // rounds log-diameter, selection one keyed argmax + join back —
      // everything ∝ f slim rows
      "dedup_cluster_best" -> (() => {
        val d = docs(f).withColumn("n_chars", length(col("text")).cast("long"))
        Dedup.clusterCanonBy(d, "doc_id", "n_chars",
          Dedup.jaccardPairs(d, "doc_id", "text", tau = 0.8))
          .where(col("canon_id") >= 0L)
      }),

      // normalized stream-dedup batch twin: one digest-keyed
      // map-side-combined agg — shuffle collapses to distinct
      // normalized keys ∝ f
      "dedup_stream_norm" -> (() =>
        graft.streaming.StreamingDedup.firstPerNormalized(
          docsPlain(f).withColumn("ts", col("doc_id")), "text", "ts")
          .where(col("doc_id") >= 0L)),

      // negative sampling: users ×f (keyed suppliers as items stay
      // fixed) — draw rows ∝ users·k·oversample, one rank equi-join +
      // one anti-join + bounded cut; shuffle ∝ f slim rows
      "sample_negatives" -> (() => {
        val pos = spark.read.parquet(s"$sfDir/orders.parquet")
          .select(explode(sequence(lit(0), lit(f - 1))).as("__k"),
            col("o_custkey"), col("o_orderkey"))
          .select((col("o_custkey") + col("__k") * lit(100000000L)).as("o_custkey"),
            pmod(col("o_orderkey"), lit(2000L)).as("p_partkey"))
        graft.curation.Sampling.negativeSamples(pos,
          spark.read.parquet(s"$sfDir/part.parquet").select(col("p_partkey")),
          "o_custkey", "p_partkey", k = 5)
          .where(col("neg_rank") >= 1L)
      }),

      // session lines: one keyed agg, per-group state bounded by
      // session LENGTH (timeline density constant per user) — events
      // ×f with ×f users, shuffle ∝ f slim (ts, tie, type) rows
      "events_session_lines" -> (() =>
        graft.streaming.EventWindows.sessionLines(events(f))
          .where(col("n_events") >= 1L)),

      // MMR: shortlist cut bounded (Q·k' partials), sims Q·k'² slim
      // rows, k greedy rounds of bounded joins — queries FIXED, so the
      // only ∝ f term is the brute-force scan feeding the shortlist
      "simsearch_mmr" -> (() =>
        graft.similarity.Similarity.mmrRerank(
          embs(1).where(col("vec_id") < 5), embs(f),
          "vec_id", "embedding", k = 5, shortlist = 20)
          .where(col("rnk") >= 1L)),

      // Gini: same histogram-rank machinery — tie windows ∝ f,
      // decimal Σr·x map-side-combined, output constant (strata fixed)
      "q_gini" -> (() =>
        graft.stats.GroupStats.gini(
          docsFull(f).select(col("source"),
            pmod(col("n_chars"), lit(97L)).as("v"), col("doc_id")),
          Seq("source"), "v", "doc_id")
          .where(col("n") >= 1L)),

      // per-group percentile: histogram base per (source, value) —
      // distinct values capped constant — + tie-group windows ∝ f
      "q_percent_rank" -> (() =>
        graft.stats.GroupStats.groupPercentRank(
          docsFull(f).select(col("source"),
            pmod(col("n_chars"), lit(97L)).as("v"), col("doc_id")),
          Seq("source"), "v", "doc_id")
          .where(col("pct_micro") >= 0L)),

      // global rank: histogram base (distinct values CONSTANT under
      // the pmod cap) + per-value row_number windows ∝ f tie rows —
      // the no-global-sort claim is the probe's whole point
      "q_global_rank" -> (() =>
        graft.stats.GroupStats.globalRank(
          docsFull(f).select(pmod(col("n_chars"), lit(97L)).as("score"),
            col("doc_id")),
          "score", "doc_id", "rank", descending = true)
          .where(col("rank") >= 0L)),

      // epoch plan: one map-side per-source token sum ∝ f scan, then
      // source-count-sized joins — output constant (strata fixed)
      "sample_epoch_plan" -> (() => {
        val w = spark.range(0, 20)
          .selectExpr("concat('src', id) s", "(id % 5) + 1 wt")
        graft.curation.Sampling.epochPlan(
          docsFull(f), "source", "n_chars", w, "s", "wt",
          targetTokens = 1000000L)
          .where(col("weight_ppm") >= 0L)
      }),

      // novelty: inverted-index discipline — ONE shingle-keyed shuffle
      // (min-id agg + credit join), then a map-side per-doc count;
      // docsPlain repeats text across copies so distinct shingles stay
      // constant while (doc, shingle) rows grow ∝ f
      "text_novelty" -> (() =>
        graft.text.TextFunctions.noveltyScores(
          docsPlain(f), "doc_id", "text", n = 2)
          .where(col("novelty_micro") >= 0L)),

      // winsorize: histogram-bounded quantile pass + one boundary
      // join-back ∝ f slim rows (the q_bins shuffle shape)
      "q_winsorize" -> (() =>
        graft.stats.GroupStats.winsorize(
          docsFull(f).select(col("doc_id"), col("source"),
            pmod(col("n_chars"), lit(1000L)).as("v")),
          Seq("source"), "v", 10, 90)
          .where(col("winsorized") >= 0L)),

      // shard export: one group-keyed exchange of slim (id, weight)
      // rows ∝ f, offsets window over ≤ targetGroups rows (constant),
      // one broadcast join back — the packSequences shuffle shape
      "export_shards" -> (() =>
        graft.curation.Shards.assign(
          docsFull(f).select(col("doc_id"),
            pmod(col("n_chars"), lit(500L)).as("w")),
          "doc_id", "w", numShards = 16)
          .where(col("shard") >= 0L)),

      // Spearman: rank maps come from per-(group, value) histograms —
      // distinct values are CONSTANT here (pmod caps both columns), so
      // the two rank windows stay flat while the two join-backs and
      // the ΣD² agg move ∝ f slim rows; any super-linear term means a
      // data-row sort window crept in
      "q_spearman" -> (() =>
        graft.stats.GroupStats.spearman(
          docsFull(f).select(col("source"),
            pmod(col("n_chars"), lit(997L)).as("x"),
            pmod(col("n_chars") * 7 + col("doc_id") % 13, lit(991L)).as("y")),
          Seq("source"), "x", "y")
          .where(col("n") >= 2L)),

      // tie-corrected variant (round 10): adds two tie-sum aggregations
      // over the SAME histograms (distinct-value-sized) plus two tiny
      // per-group joins — the whole tie-correction overlay must stay
      // histogram-bounded; data-row cost identical to q_spearman
      "q_spearman_tied" -> (() =>
        graft.stats.GroupStats.spearman(
          docsFull(f).select(col("source"),
            pmod(col("n_chars"), lit(97L)).as("x"),
            pmod(col("n_chars") * 7 + col("doc_id") % 13, lit(89L)).as("y")),
          Seq("source"), "x", "y", tieCorrected = true)
          .where(col("n") >= 2L)))

    // the multimodal_wav probe's asset builder, reused by the energy probe
    def wavProbeAssets(f: Int): DataFrame =
      docsPlain(f)
        .withColumn("n", (lit(120) + pmod(col("doc_id"), lit(5)) * 60).cast("int"))
        .withColumn("hx", concat(
          lit("52494646"),
          expr("lpad(hex((n*2 + 36) % 256), 2, '0') || lpad(hex((n*2 + 36) div 256), 2, '0')"),
          lit("0000"), lit("57415645"), lit("666D7420"), lit("10000000"),
          lit("0100"), lit("0100"), lit("E803"), lit("0000"),
          lit("D007"), lit("0000"), lit("0200"), lit("1000"), lit("64617461"),
          expr("lpad(hex((n*2) % 256), 2, '0') || lpad(hex((n*2) div 256), 2, '0')"),
          lit("0000"),
          expr("""concat_ws('', transform(sequence(0, n - 1), i ->
            lpad(hex(pmod(doc_id*13 + i*7, 65536) % 256), 2, '0') ||
            lpad(hex(pmod(doc_id*13 + i*7, 65536) div 256), 2, '0')))""")))
        .select(col("doc_id"), unhex(col("hx")).as("content"))

    // ×f disjoint copies of the gates' purchase graph, symmetrized
    def graphEdges(f: Int): DataFrame = {
      val pairs = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(spark.read.parquet(s"$sfDir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") + 100000L).as("c"), col("l_suppkey").as("sn"))
        .distinct()
        .select(explode(sequence(lit(0), lit(f - 1))).as("__k"), col("c"), col("sn"))
        .select((col("c") + col("__k") * lit(100000000L)).as("c"),
          (col("sn") + col("__k") * lit(100000000L)).as("sn"))
      pairs.select(col("c").as("src"), col("sn").as("dst"))
        .unionByName(pairs.select(col("sn").as("src"), col("c").as("dst")))
    }

    def isolate(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.gc()
    }

    // dev aid: SPARK_GRAFT_SCALE_ONLY=q1,q2 restricts to named queries
    // for a standalone re-measure (the recorded artifact is a full run)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    def selected(f: Int) = queries(f).filter {
      case (name, _) => only.isEmpty || only(name)
    }

    // unmeasured warmup at the smallest factor: JIT must not inflate the
    // factor-1 points of the growth curve (that would OVERSTATE linearity)
    selected(factors.min).foreach { case (_, q) => isolate(); q().count() }

    // SPARK_GRAFT_SCALE_REPEAT=N (default 1): measure every
    // (factor, query) N times, queries INTERLEAVED inside each repeat
    // pass so slow host drift (page cache, thermal, neighbor load) hits
    // all arms of an A/B alike — single runs on a pressured box flip
    // ×2+ either way (round-14 band A/B forensics). Rows carry a "rep"
    // field only when N > 1, keeping the recorded single-run artifact
    // format byte-stable.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPEAT", "1").toInt
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    for (f <- factors; rep <- 0 until repeat; (name, q) <- selected(f)) {
      isolate()
      org.apache.spark.graft.ListenerBridge.drain(sc)
      val (w0, r0, c0) = (shufWrite.get(), shufRead.get(), cpuNs.get())
      sc.setJobGroup(s"scale-$name-$f-$rep", s"$name x$f rep$rep")
      val t0 = System.nanoTime()
      val rows = q().count()
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBridge.drain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(s"scale-$name-$f-$rep").length
      val repField = if (repeat > 1) s""""rep":$rep,""" else ""
      val cpu = (cpuNs.get() - c0) / 1e9
      val line = f"""{"query":"$name","factor":$f,$repField"wall_sec":$wall%.3f,""" +
        f""""cpu_sec":$cpu%.3f,""" +
        s""""rows":$rows,"shuffle_write_bytes":${shufWrite.get() - w0},""" +
        s""""shuffle_read_bytes":${shufRead.get() - r0},"jobs":$jobs}"""
      System.err.println(s"[scale] $line")
      lines += line
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_RESULT.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
