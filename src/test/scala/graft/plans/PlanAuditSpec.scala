package graft.plans

import graft.SparkTestKit.spark
import graft.transformer.BroadcastSpatialJoin
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/**
 * Plan-quality audit over real parquet: the properties that make the
 * library scale are visible in the physical plan, so pin them —
 * a refactor that silently breaks filter pushdown or column pruning
 * fails HERE, not as a 100x slowdown in production.
 */
class PlanAuditSpec extends AnyFlatSpec with Matchers {

  private val dir = "/root/testdata/sf0.001"

  private def supplierView(name: String): Unit = {
    assume(new java.io.File(s"$dir/supplier.parquet").exists(), "testdata not present")
    spark.read.parquet(s"$dir/supplier.parquet").createOrReplaceTempView(name)
  }

  behavior of "transformer physical plans"

  it should "push the dataset filter down to the parquet scan" in {
    supplierView("audit_sup_filter")
    val input = graft.SparkEntry.customerPoints(spark, dir).select("c_custkey", "lon", "lat")
    val out = new BroadcastSpatialJoin()
      .setDataset("audit_sup_filter").setDataColumns("s_suppkey as sk")
      .setDatasetPoint("s_suppkey, s_nationkey") // any numeric pair works as coords here
      .setInputPoint("lon, lat")
      .setDatasetFilter("s_acctbal > 0.0")
      .transform(input)
    val scan = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    // the filter must reach the scan as a pushed predicate, not survive
    // as a post-scan Filter over full rows
    scan should include ("PushedFilters: [IsNotNull(s_acctbal), GreaterThan(s_acctbal,0.0)")
  }

  it should "prune unused external columns from the parquet scan" in {
    supplierView("audit_sup_prune")
    val input = graft.SparkEntry.customerPoints(spark, dir).select("c_custkey", "lon", "lat")
    val out = new BroadcastSpatialJoin()
      .setDataset("audit_sup_prune").setDataColumns("s_suppkey as sk")
      .setDatasetPoint("s_suppkey, s_nationkey")
      .setInputPoint("lon, lat")
      .transform(input)
    val scan = out.queryExecution.executedPlan.toString
      .linesIterator.filter(s => s.contains("FileScan") && s.contains("supplier"))
      .mkString("\n")
    // only the two geometry source columns are read; the wide columns
    // (s_name, s_address, s_comment, ...) never leave the parquet reader
    scan should include ("ReadSchema: struct<s_suppkey:bigint,s_nationkey:int>")
  }

  it should "keep the scoring pipeline inside whole-stage codegen" in {
    supplierView("audit_sup_codegen")
    val input = graft.SparkEntry.customerPoints(spark, dir).select("c_custkey", "lon", "lat")
    val out = new BroadcastSpatialJoin()
      .setDataset("audit_sup_codegen").setDataColumns("s_suppkey as sk")
      .setDatasetPoint("s_suppkey, s_nationkey")
      .setInputPoint("lon, lat")
      .transform(input)
    // the custom spatial-join exec's input projections (WKB construction
    // included) run inside whole-stage codegen spans — rendered as the
    // `*(n)` stage markers — rather than falling back to interpreted rows
    val plan = out.queryExecution.executedPlan.toString
    plan.linesIterator.count(_.trim.matches("[:+\\- ]*\\*\\(\\d+\\).*")) should be >= 3
  }

  behavior of "pipeline-operator physical plans"

  it should "prune the documents scan to the referenced columns" in {
    // documents carries 5 columns (doc_id, text, lang, source, n_chars);
    // the text/dedup operators reference only (doc_id, text) — the other
    // three must never leave the parquet reader
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (q <- Seq(
        graft.api.PyFacade.textProfile(docs, "doc_id", "text"),
        graft.dedup.Dedup.exactCanon(docs, "doc_id", "text"))) {
      val scan = q.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("FileScan")).mkString("\n")
      withClue(scan) {
        scan should include("ReadSchema: struct<doc_id:bigint,text:string>")
      }
    }
  }

  it should "run the text profile as a narrow map-only plan (no shuffle)" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.api.PyFacade.textProfile(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    withClue(plan) { plan should not include "Exchange" }
  }

  it should "share ONE shuffle across the substring run-index self-join (ReuseExchange)" in {
    // the run-digest index feeds both sides of the candidate join; the
    // canonical plans must be identical so the second side reads the
    // first side's exchange instead of recomputing tokenize+hash+shuffle
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.dedup.Dedup.substringPairs(docs, "doc_id", "text", minSpan = 20, k = 8)
    q.collect() // drive THIS QueryExecution: AQE reuses stages at runtime
    val plan = q.queryExecution.executedPlan.toString
    withClue(plan.linesIterator.filter(l => l.contains("Exchange") || l.contains("QueryStage"))
        .mkString("\n")) {
      (plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")) shouldBe true
    }
  }

  it should "pack sequences with a broadcast prefix join — no second corpus-wide exchange" in {
    // the offsets side is <= targetGroups rows: it must come back as a
    // broadcast, and the corpus itself shuffles exactly once (the local
    // cumsum window's hashpartitioning on the group key)
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.text.TextFunctions.packSequences(docs, "doc_id", "text", budget = 256)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("BroadcastHashJoin")
      // every exchange is either keyed on the group id (__g — the local
      // cumsum window's corpus shuffle, plus the group-TOTALS aggregate
      // whose partial aggregation collapses to <= targetGroups rows per
      // task before shuffling) or the prefix window's constant key (_w0,
      // <= targetGroups rows). Anything else is a corpus-sized shuffle
      // this operator must not have.
      val stray = plan.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning")
          && !l.contains("__g#") && !l.contains("_w0#")).toSeq
      withClue(stray.mkString("\n")) { stray shouldBe empty }
    }
  }

  it should "prune the decontamination corpus scan and keep gram extraction codegen'd" in {
    // the corpus side reads exactly (doc_id, text) — a scan dragging
    // lang/source/n_chars through the digest explode multiplies scan
    // bytes at 100 TB for nothing; and the RunDigests window loop must
    // sit inside a WholeStageCodegen span, not an interpreted project
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.dedup.Dedup.decontaminate(
      docs, "doc_id", "text",
      docs.where(org.apache.spark.sql.functions.col("doc_id") % 10 === 0), "text", k = 8)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(s =>
      s.contains("FileScan") && s.contains("documents")).toSeq
    withClue(scans.mkString("\n")) {
      scans should not be empty
      scans.foreach { s =>
        s should not include "lang"
        s should not include "n_chars"
      }
    }
    withClue(plan) { plan should include ("run_digests") }
  }

  it should "shuffle the repetition profile exactly once at corpus size (the tagged gram exchange)" in {
    // gram counting shuffles (doc, n, gram) once; everything after is
    // output-sized (per-doc reductions + the unique-key left join).
    // A second corpus-sized exchange means map-side combine broke.
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.text.TextFunctions.repetitionProfile(docs, "doc_id", "text")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the gram exchange is keyed (doc, n, g); per-doc stages key on doc
    // alone — both appear, but nothing may shuffle on anything else
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    withClue(exchanges.mkString("\n")) {
      exchanges.foreach(_ should include ("doc#"))
    }
  }

  it should "prune the segment-dedup scan and probe the bucket score table as a broadcast" in {
    // segmentDedup reads exactly (doc_id, text); importanceWeights'
    // <= B-row score table must reach the gram stream as a BROADCAST
    // hash join — a shuffled join there re-exchanges the corpus-sized
    // gram stream for a 4096-row table
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val sd = graft.dedup.Dedup.segmentDedup(docs, "doc_id", "text", seg = 8)
    sd.collect()
    val sdScans = sd.queryExecution.executedPlan.toString.linesIterator
      .filter(s => s.contains("FileScan") && s.contains("documents")).toSeq
    withClue(sdScans.mkString("\n")) {
      sdScans should not be empty
      sdScans.foreach { s => s should not include "lang"; s should not include "source" }
    }
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val iw = graft.curation.Sampling.importanceWeights(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text",
      docs.where(pmod(col("doc_id"), lit(10)) === 0), "text")
    iw.collect()
    val iwPlan = iw.queryExecution.executedPlan.toString
    withClue(iwPlan) {
      iwPlan should include ("BroadcastHashJoin")
      // the only hash exchanges carry bucket partials or per-doc sums
      iwPlan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { e =>
        assert(e.contains("__b#") || e.contains("doc#"), e)
      }
    }
  }

  it should "rewrite layout through exactly one data-sized exchange — the z range partition" in {
    // zorderBy = scan + range exchange; the min/max stats ride a 1-row
    // broadcast. A hashpartitioning exchange of the data means the
    // stats join or the sort degenerated into a second full shuffle.
    assume(new java.io.File(s"$dir/lineitem.parquet").exists(), "testdata not present")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val z = graft.layout.ZOrder.zorderBy(li, Seq("l_orderkey", "l_partkey"),
      partitions = 4, bits = 12)
    z.collect()
    // AQE's toString prints the initial plan too — audit the FINAL one
    val plan = z.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan.linesIterator.count(_.contains("Exchange rangepartitioning")) shouldBe 1
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq shouldBe empty
      plan should include ("BroadcastNestedLoopJoin") // the 1-row stats ride
    }
  }

  it should "run the round-7c map-only operators without a data exchange" in {
    // stripHtml is a pure codegen chain and the phrase-search digest
    // probe must be a BROADCAST join (misses die inside the scan stage)
    // — any hash exchange of corpus data breaks the scale contract
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val stripped = docs.select(graft.text.TextFunctions.stripHtml(
      concat(lit("<p>"), col("text"), lit("</p>"))).as("clean"))
    stripped.collect()
    val sPlan = stripped.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(sPlan) {
      sPlan.linesIterator.filter(_.contains("Exchange")).toSeq shouldBe empty
      // the codegen'd stage marker: toString renders WholeStageCodegen
      // spans as a "*(n)" prefix on their operators
      sPlan should include ("*(1) Project")
    }
    val hits = graft.text.PhraseSearch.phraseHits(docs, "doc_id", "text",
      Seq("table hash", "slow hash batch"))
    hits.collect()
    val hPlan = hits.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(hPlan) {
      hPlan should include ("BroadcastHashJoin")
      // the only hash exchanges aggregate the HIT set per (doc, phrase)
      hPlan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { e =>
        assert(e.contains("doc#") && e.contains("phrase#"), e)
      }
    }
  }

  it should "keep the CMS aggregation sketch-sized and the diff shuffle digest-slim" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, when}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // cmsBuild: exactly one hash exchange, keyed (r, bucket) — the
    // depth-by-width partial rows, never tokens
    val sk = graft.text.CorpusSketch.cmsBuild(docs, "text", depth = 4, width = 64)
    sk.collect()
    val cPlan = sk.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(cPlan) {
      val ex = cPlan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      ex should have size 1
      // the bucket key may print as its pushed-down grouping alias
      assert(ex.head.contains("r#") &&
        (ex.head.contains("bucket#") || ex.head.contains("_groupingexpression#")), ex.head)
      cPlan should include ("partial_count") // map-side combine before it
    }
    // snapshot diff: the full-outer join exchanges id+digest projections
    // only — a scan that still carries text into the exchange loses the
    // 16-bytes-per-row contract (text appears in NO exchange line)
    val diff = graft.curation.SnapshotDiff.diff(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" r"))).otherwise(col("text")))
        .where(pmod(col("doc_id"), lit(10)) =!= 1),
      "doc_id", "text")
    diff.collect()
    val dPlan = diff.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(dPlan) {
      dPlan should include ("SortMergeJoin") // full-outer: no broadcast side
      dPlan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { e =>
        e should not include "text#"
      }
    }
  }

  it should "evaluate all expectation table rules in ONE aggregation pass" in {
    // N rules over one table must not become N scans: exactly one
    // FileScan of lineitem and one pair of hash aggregates
    assume(new java.io.File(s"$dir/lineitem.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.{col, lit}
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val rep = graft.stats.Expectations.tableRules(li, Seq(
      "a" -> !(col("l_quantity") >= 1), "b" -> !(col("l_quantity") <= 50),
      "c" -> !(col("l_extendedprice") > 0), "d" -> (col("l_orderkey") < lit(0))))
    rep.collect()
    val plan = rep.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan.linesIterator.count(_.contains("FileScan")) shouldBe 1
      plan.linesIterator.count(_.contains("HashAggregate")) shouldBe 2 // partial + final
    }
  }

  it should "fold the funnel without a per-user timeline window over raw events" in {
    // each as-of step is a keyed shuffle + window over the tagged
    // union; the plan must contain NO join of events against events
    // (no pair blow-up) — only the slim chained as-of machinery
    assume(new java.io.File(s"$dir/events.parquet").exists(), "testdata not present")
    val ev = graft.SparkEntry.microTs(spark.read.parquet(s"$dir/events.parquet"))
    val fu = graft.streaming.Funnel.earliestChain(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowMicros = 3600000000L)
    fu.collect()
    val plan = fu.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      // the only joins are the left-outer union-backs of the as-of
      // machinery; a pair-generating inner join of two event scans
      // would print as a non-outer SortMergeJoin/ShuffledHashJoin
      plan.linesIterator.filter(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).foreach { l =>
        l should not include "Inner"
      }
      plan should include ("Window") // the carry windows are the engine
    }
  }

  it should "run pointInTime on the as-of machinery with no pair-generating join" in {
    // the point-in-time join must be windows + equi-joins only: a
    // BETWEEN-style inequality join of facts against episodes would
    // plan as a nested-loop/cartesian pair generator and melt at scale
    assume(new java.io.File(s"$dir/events.parquet").exists(), "testdata not present")
    val ev = graft.SparkEntry.microTs(spark.read.parquet(s"$dir/events.parquet"))
    val hist = graft.curation.ChangeHistory.scd2(
      ev.select("user_id", "ts", "event_type"), "user_id", "ts", Seq("event_type"))
      .withColumnRenamed("event_type", "state")
    val pit = graft.curation.ChangeHistory.pointInTime(
      ev.select("event_id", "user_id", "ts"), hist, Seq("user_id"), "ts")
    pit.collect()
    val plan = pit.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      plan should include ("Window") // episode build + as-of carry
    }
  }

  it should "plan the salted join as a merge join keyed by the salt" in {
    import spark.implicits._
    val probe = (1 to 500).map(i => (i.toLong % 40, i.toLong)).toDF("k", "pay")
    val build = (0 to 39).map(i => (i.toLong, s"b$i")).toDF("k", "bpay")
    val hot = Seq(Tuple1(0L)).toDF("k")
    val out = graft.join.SkewJoin.salted(probe, build, Seq("k"), 8,
      Some(hot), strategyHint = Some("merge"))
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      // the strategy hint survives to the FINAL join and the salt is a
      // join key (that is what spreads the hot partition); the hot-key
      // tag joins stay broadcast
      plan.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("__salt")) shouldBe true
      plan should include ("BroadcastHashJoin")
    }
  }

  it should "broadcast the pricing dimension and push the revenue sum to partials" in {
    assume(new java.io.File(s"$dir/lineitem.parquet").exists(), "testdata not present")
    val q = graft.SparkEntry.queries("q_pricing")(spark, dir)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      // dim side broadcast; map-side partial_sum before the one
      // group-key exchange — the fact rows cross the wire pre-reduced
      plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("c_custkey")) shouldBe true
      plan should include ("partial_sum")
      plan should not include "CartesianProduct"
    }
  }

  it should "keep URL extraction exchange-free" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.{col, posexplode}
    val q = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), posexplode(
        graft.text.TextFunctions.urls(col("text"))))
    val plan = q.queryExecution.executedPlan.toString
    withClue(plan) { plan should not include "Exchange" }
  }

  it should "bin quantiles without a global range sort (no ntile shape)" in {
    // the whole point of quantileBins is avoiding the per-group DATA
    // sort; an ntile/window-over-rows formulation plans an Exchange
    // rangepartitioning — its absence IS the operator's contract
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"g${i % 3}", i % 97)).toDF("grp", "v")
    val q = graft.stats.GroupStats.quantileBins(df, Seq("grp"), "v", 4)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan should not include "Exchange rangepartitioning"
      plan should include ("Window") // the distinct-value cumsum
    }
  }

  it should "window the CDC log only, never the snapshot" in {
    import spark.implicits._
    val snap = (1 to 1000).map(k => (k.toLong, s"v$k")).toDF("k", "v")
    val log = (1 to 50).map(k => (k.toLong, k.toLong, "upsert", s"w$k"))
      .toDF("k", "ts", "op", "v")
    val out = graft.curation.Cdc.applyLog(snap, log, Seq("k"), "ts", "op")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      // every Window partitions by the LOG key and carries the log's
      // ts/op ordering — the snapshot subtree contributes scans and
      // joins only (the winners subtree appears once per consumer
      // branch, un-reused: both instances are over the delta-sized log)
      val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
      windows should not be empty
      windows.foreach { w => w should include ("ts") }
      plan should not include "CartesianProduct"
      plan should not include "Exchange rangepartitioning"
    }
  }

  it should "keep the retention and left-overlap plans free of pair generators" in {
    assume(new java.io.File(s"$dir/events.parquet").exists(), "testdata not present")
    val ev = graft.SparkEntry.microTs(spark.read.parquet(s"$dir/events.parquet"))
    val ret = graft.streaming.Retention.cohorts(ev, "user_id", "ts",
      "event_type", "signup")
    ret.collect()
    val retPlan = ret.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(retPlan) {
      retPlan should not include "CartesianProduct"
      retPlan should not include "BroadcastNestedLoopJoin"
    }
    val q = graft.SparkEntry.queries("j_range_overlap_left")(spark, dir)
    q.collect()
    val olPlan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(olPlan) {
      // the bucketed channel carries the volume: an EQUI join on the
      // bucket id (broadcast at this SF, shuffled at scale) — never a
      // cartesian of the two interval sets
      olPlan should not include "CartesianProduct"
      olPlan.linesIterator.exists(l =>
        l.contains("Join [__oj_b") || (l.contains("Join") && l.contains("__oj_b"))
      ) shouldBe true
    }
  }

  it should "preserve snapshot partitioning across localCheckpoint when AQE is off (iterative-join contract)" in {
    // Dedup.clusterPairs pre-partitions its long-lived snapshots. On
    // AQE-OFF sessions that makes every
    // per-round join read the snapshot exchange-free (localCheckpoint's
    // LogicalRDD keeps outputPartitioning); under AQE — the default —
    // the snapshot side is re-planned with its own exchange each round.
    // Pin BOTH behaviors: a Spark upgrade that drops
    // the AQE-off preservation silently re-shuffles big static snapshots
    // every round on clusters that disable AQE, and one that STARTS
    // preserving under AQE means the operators' comments (and possibly
    // their layout choices) should be revisited — fail HERE either way.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    def exchangesInJoinPlan(aqe: Boolean): Int = {
      val prevB = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.getOption("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      try {
        val base = (1 to 1000).toDF("id").withColumn("payload", col("id") * 2)
        val snap = base.repartition(col("id")).localCheckpoint(false)
        val agg = base.groupBy("id").agg(count(lit(1)).as("n"))
        val joined = agg.join(snap, Seq("id"))
        joined.count() // let AQE finalize before reading the plan
        joined.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("Exchange hashpartitioning"))
      } finally {
        def restore(k: String, v: Option[String]): Unit =
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        restore("spark.sql.autoBroadcastJoinThreshold", prevB)
        restore("spark.sql.adaptive.enabled", prevA)
      }
    }
    // AQE off: only the agg side exchanges — the snapshot side is read
    // in place. AQE on: both sides exchange (current Spark behavior).
    exchangesInJoinPlan(aqe = false) shouldBe 1
    exchangesInJoinPlan(aqe = true) shouldBe 2
  }

  it should "serve the vocab-scale tokenizers map-only inside whole-stage codegen" in {
    // the round-8 model-as-data serves: BPE merge replay and the
    // unigram Viterbi must plan as ONE codegen'd projection with no
    // exchange and — the vocab-scale point — no model literal in the
    // plan text (a typedlit map/fold would print the pieces)
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ms = graft.text.Bpe.train(docs, "text", rounds = 8)
    val um = graft.text.Unigram.train(docs, "text", vocabSize = 64, maxPieceLen = 4)
    val served = docs.select(col("doc_id"),
      graft.text.Bpe.tokenCount(col("text"), ms).as("n_bpe"),
      graft.text.Unigram.tokenCount(col("text"), um).as("n_uni"))
    served.collect()
    val plan = served.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan.linesIterator.filter(_.contains("Exchange")).toSeq shouldBe empty
      plan should include ("*(1) Project")
      plan should include ("bpe_tokens")
      plan should include ("unigram_token_count")
      // no piece strings leaked into the plan as literals
      (plan should not).include("keys: [")
    }
  }

  it should "run the real-codec multimodal pipeline as a pure narrow plan" in {
    assume(new java.io.File(s"$dir/documents.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.col
    val assets = graft.SparkEntry.queries("multimodal_real_histogram")(
      spark, dir)
    assets.collect()
    val plan = assets.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      // decode/resize/histogram are mapPartitions — narrow end to end
      // AFTER the payloads exist. The only exchange allowed is the
      // pre-generation doc-id spread (r15, spreadDocIds): a round-robin
      // of the slim id spine BELOW asset assembly — binary content
      // never crosses an exchange (no keyed shuffle anywhere).
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      exchanges.filterNot(_.contains("RoundRobinPartitioning")) shouldBe empty
      exchanges.size should be <= 1
      plan should not include "Exchange hashpartitioning"
    }
  }

  it should "plan the compacted bucketed aggregation with zero exchange" in {
    // the layout_compact gate computes this pin in-query (oracle-checked
    // boolean); this spec repeats it at test scale so a planner change
    // is caught before the gate runs
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong % 20, i.toLong)).toDF("k", "v")
    val dirT = java.nio.file.Files.createTempDirectory("audit_compact").toString
    graft.layout.Bucketed.writeBucketed(rows, "audit_compact_t", s"$dirT/v1", Seq("k"), 4)
    rows.repartition(3).write.format("parquet").bucketBy(4, "k").sortBy("k")
      .mode("append").saveAsTable("audit_compact_t")
    graft.layout.Compact.compactBucketed(spark, "audit_compact_t", s"$dirT/v2")
    val agg = spark.table("audit_compact_t").groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan.linesIterator.filter(_.contains("Exchange")).toSeq shouldBe empty
    }
  }

  it should "plan IVF+PQ with broadcast probes and zero candidate exchange before the cut" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.similarity.Similarity.trainCentroids(e, "vec_id", "embedding", 4, iters = 1)
    val cb = graft.similarity.ProductQuantizer.train(e, "vec_id", "embedding", m = 8, ksub = 8, iters = 1)
    val q = graft.similarity.IvfPq.topK(e.where(col("vec_id") < 5), e, cents,
      "vec_id", "embedding", k = 3, cb, nprobe = 2, shortlist = 20)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan should include ("BroadcastHashJoin")
      // the only hash exchanges carry the bounded shortlist aggregation
      // (qid-keyed partials), never candidate rows keyed by cid/cell
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { x =>
        assert(x.contains("qid#"), x)
      }
    }
  }

  it should "plan binary-Hamming top-k with map-only encode and qid-bounded exchanges" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(), "testdata not present")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.similarity.BinaryQuantizer.train(e, "embedding")
    val q = graft.similarity.BinaryQuantizer.topK(e.where(col("vec_id") < 5), e,
      "vec_id", "embedding", k = 3, p, shortlist = 20)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      // queries broadcast into the Hamming scan; the shortlist re-rank
      // broadcasts Q·shortlist pairs — candidates never hash-shuffle
      plan should include ("BroadcastNestedLoopJoin")
      plan should include ("BroadcastHashJoin")
      // the only hash exchanges carry the bounded shortlist aggregation
      // (qid-keyed partials), never candidate rows keyed by cid
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { x =>
        assert(x.contains("qid#"), x)
      }
    }
  }

  it should "iterate PageRank with keyed slim-row exchanges and no pair generator" in {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // materialize = identity keeps every round in ONE visible plan
    // (production localCheckpoint would hide all but a snapshot scan)
    val pr = graft.graph.PageRank.run(edges, "src", "dst", iterations = 2,
      materialize = identity)
    pr.collect()
    val plan = pr.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan should not include "CartesianProduct"
      // the Σcontrib aggregation must combine map-side (partial+final)
      plan.linesIterator.count(_.contains("HashAggregate")) should be >= 2
      // every hash exchange carries node-keyed slim rows (node/dst/src),
      // never a data-wide or unkeyed repartition
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { x =>
        assert(x.contains("node#") || x.contains("dst#") || x.contains("src#"), x)
      }
    }
  }

  it should "fuse RRF lists with qid-bounded exchanges only" in {
    import spark.implicits._
    val l1 = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("qid", "id", "rnk")
    val l2 = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "id", "rnk")
    val f = graft.similarity.Fusion.rrf(Seq(l1, l2), "qid", "id", "rnk", k = 2)
    f.collect()
    val plan = f.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    withClue(plan) {
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      // the fused-sum and cut exchanges are keyed by qid (± id) — the
      // operator never re-keys by anything corpus-sized
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { x =>
        assert(x.contains("qid#"), x)
      }
    }
  }

  behavior of "partitioned spatial join physical plans"

  it should "compute the withindist distance inside the one partitioned exec" in {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val input = (0 until 40).map(i =>
      (s"i$i", (i * 37 % 300) / 100.0, (i * 53 % 300) / 100.0)).toDF("id", "lon", "lat")
    (0 until 25).map(i => (s"d$i", (i * 41 % 300) / 100.0, (i * 29 % 300) / 100.0))
      .toDF("poi_id", "lon", "lat").createOrReplaceTempView("audit_poi_withindist")
    val out = new BroadcastSpatialJoin().setDataset("audit_poi_withindist")
      .setDatasetPoint("lon, lat").setInputPoint("lon, lat").setDataColumns("poi_id")
      .setBroadcast("none").setPredicate("withindist 80000").setDistColAlias("dm")
      .transform(input)
    out.collect() should not be empty
    val root = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val execs = root.collect { case e: PartitionedSpatialJoinExec => e }
    withClue(root.toString) {
      execs should have size 1
      // every node above the exec: its ancestors
      def above(p: SparkPlan): Seq[SparkPlan] =
        if ((p eq execs.head) || p.find(_ eq execs.head).isEmpty) Nil
        else p +: p.children.flatMap(above)
      above(root).flatMap(_.expressions).map(_.toString)
        .filter(e => e.contains("geodesic_meters") || e.contains("wkb_point")) shouldBe empty
    }
  }

  behavior of "grid nearest physical plans"

  it should "plan k = 1 and k = 3 as one partitioned exec with no object or sort aggregate" in {
    // the per-probe winners come out of each leaf's index and one merge
    // inside the exec: no aggregate at all, so neither an object aggregate
    // (sort-based past 128 groups per task) nor a sort aggregate
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.functions.GeoExpressions
    import graft.join.GridNearestJoin
    val probes = (0 until 200).map(i =>
      (s"p$i", (i * 37 % 300) / 100.0, (i * 53 % 300) / 100.0)).toDF("id", "lon", "lat")
    val sites = (0 until 60).map(i =>
      (s"s$i", (i * 41 % 300) / 100.0, (i * 29 % 300) / 100.0)).toDF("sid", "plon", "plat")
    val lw = GeoExpressions.wkbPoint(col("lon"), col("lat"))
    val rw = GeoExpressions.wkbPoint(col("plon"), col("plat"))
    for ((k, out) <- Seq(
        1 -> GridNearestJoin.nearest(probes, sites, lw, rw, tieBreak = Some(col("sid"))),
        3 -> GridNearestJoin.knearest(probes, sites, lw, rw, k = 3, tieBreak = Some(col("sid"))))) {
      out.count() shouldBe 200 * k
      val plan = out.queryExecution.executedPlan.toString
      withClue(s"k=$k: $plan") {
        plan should include("PartitionedSpatialJoin")
        plan should not include "ObjectHashAggregate"
        plan should not include "SortAggregate"
      }
    }
  }
}
