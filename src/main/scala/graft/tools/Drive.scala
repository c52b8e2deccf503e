package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.transformer.BroadcastSpatialJoin

/** Manual end-to-end drive of the spatial join engine over real testdata
  * parquet — the library's runtime surface, used for verification. */
object Drive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-drive")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      // the adaptive timestamp-read contract every harness session pins
      // (Bench/Verify/ScaleBench/SparkTestKit): nanos-encoded events read
      // as ns longs instead of throwing, micros-encoded events read as
      // plain TimestampType on a UTC session so epoch arithmetic is
      // value-preserving whichever encoding the data generator shipped
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"

    println("=== 1. flagship entry(): nearest supplier per customer, distance_m ===")
    val flagship = SparkEntry.entry(spark)
    flagship.show(5, truncate = false)
    println(s"rows=${flagship.count()} (customers=150, expect 150)")

    val customers = SparkEntry.customerPoints(spark, dir)
    SparkEntry.supplierPoints(spark, dir).createOrReplaceTempView("drive_sup")

    println("=== 2. withindist 2000000 (2000 km), distance col, broadcast=dataset ===")
    val wd = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey").setBroadcast("dataset")
      .setPredicate("withindist 2000000").setDistColAlias("dist_m")
      .transform(customers)
    wd.show(5)
    val maxD = wd.agg(org.apache.spark.sql.functions.max("dist_m")).head.getInt(0)
    println(s"rows=${wd.count()}, max dist_m=$maxD (must be <= 2000000)")

    println("=== 3. contains: supplier grid-cell polygons (WKT) contain customer points ===")
    import org.apache.spark.sql.functions._
    spark.sql("select * from drive_sup")
      .withColumn("wkt", concat(
        lit("POLYGON(("),
        round(col("lon") - 5, 4), lit(" "), round(col("lat") - 5, 4), lit(","),
        round(col("lon") + 5, 4), lit(" "), round(col("lat") - 5, 4), lit(","),
        round(col("lon") + 5, 4), lit(" "), round(col("lat") + 5, 4), lit(","),
        round(col("lon") - 5, 4), lit(" "), round(col("lat") + 5, 4), lit(","),
        round(col("lon") - 5, 4), lit(" "), round(col("lat") - 5, 4), lit("))")))
      .createOrReplaceTempView("drive_sup_poly")
    val cont = new BroadcastSpatialJoin()
      .setDataset("drive_sup_poly").setDatasetWKT("wkt").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey as cell_owner").setBroadcast("input")
      .setPredicate("contains")
      .transform(customers.limit(20))
    cont.show(5)
    println(s"rows=${cont.count()}")

    println("=== 4. filter + condition + aliases combined ===")
    val cond = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey as sk, s_acctbal as bal")
      .setBroadcast("dataset").setPredicate("nearest")
      .setDatasetFilter("s_acctbal > 0")
      .setJoinCondition("right.s_nationkey != left.c_nationkey")
      .transform(customers)
    cond.show(5)
    val bad = cond.filter("bal <= 0").count()
    println(s"rows=${cond.count()}, rows violating filter=$bad (expect 0)")

    println("=== 5. probe: garbage numPartitions (reference: silent no-op) ===")
    val np = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey").setNumPartitions("not-a-number")
      .transform(customers)
    println(s"rows=${np.count()} (no exception expected)")

    println("=== 6. probe: bad condition string must throw IllegalArgumentException ===")
    try {
      new BroadcastSpatialJoin()
        .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("s_suppkey").setJoinCondition("left.zorp ==== right.blag")
        .transform(customers).count()
      println("ERROR: no exception thrown")
    } catch {
      case e: IllegalArgumentException => println(s"OK threw: ${e.getMessage.take(120)}")
    }

    println("=== 7. probe: missing geometry params must throw ===")
    try {
      new BroadcastSpatialJoin().setDataset("drive_sup")
        .setDataColumns("s_suppkey").setInputPoint("lon, lat")
        .transform(customers).count()
      println("ERROR: no exception thrown")
    } catch {
      case e: IllegalArgumentException => println(s"OK threw: ${e.getMessage.take(120)}")
    }

    println("=== 8. grid join (broadcast=none): same results as broadcast kernel ===")
    val bcast = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey").setPredicate("withindist 500000")
      .setBroadcast("dataset").transform(customers)
      .collect().map(_.mkString("|")).toSet
    val grid = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey").setPredicate("withindist 500000")
      .setBroadcast("none").transform(customers)
      .collect().map(_.mkString("|")).toSet
    println(s"rows=${grid.size}, equal to broadcast kernel: ${grid == bcast} (expect true)")

    println("=== 9. pipeline ops: dedup + text + simsearch over testdata ===")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val jac = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
    println(s"rows=${jac.count()} near-dup pairs (jaccard>=0.8)")
    val mh = graft.dedup.Dedup.minhashPairs(docs, "doc_id", "text", 0.8)
    println(s"rows=${mh.count()} via minhash-LSH (must equal jaccard count)")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val topk = graft.similarity.Similarity.cosineTopK(
      emb.where("vec_id < 5"), emb, "vec_id", "embedding", 5)
    println(s"rows=${topk.count()} similarity results (expect 25)")

    println("=== 10. SQL function surface (GraftExtensions.register) ===")
    graft.GraftExtensions.register(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    val sqlRow = spark.sql(
      "SELECT geodesic_meters(wkb_point(1D,1D), wkb_point(1.1D,1.1D)) m, " +
      "size(word_shingles('a b c d e', 3)) ns, " +
      "vector_dot(array(1D,2D), array(3D,4D)) d").head
    println(s"rows=1, geodesic=${sqlRow.getInt(0)} (expect 15689), shingles=${sqlRow.getInt(1)}, dot=${sqlRow.getDouble(2)}")

    println("=== 11. probe: nonexistent dataset table ===")
    try {
      new BroadcastSpatialJoin().setDataset("no_such_table")
        .setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns("x").transform(customers).count()
      println("ERROR: no exception thrown")
    } catch {
      case e: Exception => println(s"OK threw ${e.getClass.getSimpleName}: ${e.getMessage.take(100)}")
    }

    println("=== 12. grid nearest: extra condition + WKT input (round-2 parity) ===")
    val gridCond = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey").setPredicate("nearest").setBroadcast("none")
      .setJoinCondition("right.s_nationkey != left.c_nationkey")
      .transform(customers)
    val bcastCond = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
      .setDataColumns("s_suppkey").setPredicate("nearest").setBroadcast("dataset")
      .setJoinCondition("right.s_nationkey != left.c_nationkey")
      .transform(customers)
    val gSet = gridCond.select("c_custkey", "s_suppkey").collect().map(_.mkString("|")).toSet
    val bSet = bcastCond.select("c_custkey", "s_suppkey").collect().map(_.mkString("|")).toSet
    println(s"rows=${gSet.size}, grid==broadcast under condition: ${gSet == bSet} (expect true)")
    val wktIn = customers.select(col("c_custkey"),
      concat(lit("POINT("), col("lon"), lit(" "), col("lat"), lit(")")).as("wkt"))
    val gridWkt = new BroadcastSpatialJoin()
      .setDataset("drive_sup").setDatasetPoint("lon, lat").setInputWKT("wkt")
      .setDataColumns("s_suppkey").setPredicate("nearest").setBroadcast("none")
      .transform(wktIn)
    println(s"rows=${gridWkt.count()} grid nearest over WKT input (expect ${customers.count()})")

    println("=== 13. LSH-bucketed embedding dedup vs exact (round-2) ===")
    val exactPairs = graft.dedup.Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.5)
      .collect().map(_.mkString("|")).toSet
    val lshPairs = graft.dedup.Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", 0.5,
      planes = 5, tables = 24).collect().map(_.mkString("|")).toSet
    println(s"rows=${lshPairs.size}, lsh subset of exact: ${lshPairs.subsetOf(exactPairs)} " +
      s"(expect true), full recall here: ${lshPairs == exactPairs}")

    println("=== 14. md5-simhash pairs (oracle-replayable fingerprints) ===")
    val sh = graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text",
      hasher = graft.functions.Md5Simhash.md5Simhash)
    val shBad = sh.filter("hamming > 3 OR doc_i >= doc_j").count()
    println(s"rows=${sh.count()} simhash pairs, malformed=$shBad (expect 0)")

    println("=== 15. streaming dedup, batch parity (round-3) ===")
    val sd = graft.streaming.StreamingDedup.firstPerContent(
      docs.select("doc_id", "text").withColumn("ts", org.apache.spark.sql.functions.col("doc_id")),
      "text", "ts")
    val sdCanon = graft.dedup.Dedup.exactCanon(docs, "doc_id", "text")
      .filter("doc_id = canon_id").count()
    println(s"rows=${sd.count()} first-per-content (must equal ${sdCanon} canonical docs)")

    println("=== 16. IVF ANN: exact at nprobe=nlist, subset below (round-3) ===")
    val embIvf = spark.read.parquet(s"$dir/embeddings.parquet")
    val qs = embIvf.where("vec_id < 5")
    val exactTk = graft.similarity.Similarity.cosineTopK(qs, embIvf, "vec_id", "embedding", 5)
      .collect().map(_.mkString("|")).toSet
    val ivfAll = graft.similarity.Similarity.ivfTopK(qs, embIvf, "vec_id", "embedding", 5,
      nlist = 6, nprobe = 6).collect().map(_.mkString("|")).toSet
    println(s"rows=${ivfAll.size} IVF full-probe results, exact match: ${ivfAll == exactTk} (expect true)")

    println("=== 17. trained IVF quantizer: k-means centroids, exact at full probe (round-4) ===")
    val cents = graft.similarity.Similarity.trainCentroids(
      embIvf, "vec_id", "embedding", nlist = 6, iters = 2)
    val ivfTrained = graft.similarity.Similarity.ivfTopKWith(qs, embIvf, cents,
      "vec_id", "embedding", 5, nprobe = 6).collect().map(_.mkString("|")).toSet
    println(s"rows=${cents.count()} trained centroids (expect 6), " +
      s"full-probe exact match: ${ivfTrained == exactTk} (expect true)")

    println("=== 18. as-of join: latest at-or-before per key vs brute force (round-5) ===")
    locally {
      import org.apache.spark.sql.functions._
      val ev = docs.select(col("doc_id").as("eid"),
        (col("doc_id") % 7).as("k"), (col("doc_id") * 13 % 101).as("ets"))
      // deterministic dedup (min sid per (k, sts)): dropDuplicates keeps
      // an ARBITRARY survivor and the plan re-executes for each of the
      // two collects below — a different survivor per run would make
      // this check flaky
      val st = docs.where("doc_id % 3 = 0").select(
        (col("doc_id") % 7).as("k"), (col("doc_id") * 29 % 101).as("sts"),
        col("doc_id").as("sid"))
        .groupBy("k", "sts").agg(min(col("sid")).as("sid"))
      val asof = graft.join.AsOfJoin.asof(ev, st, Seq("k"), "ets", "sts")
        .select("eid", "sts", "sid").collect().map(_.mkString("|")).toSet
      val brute = ev.join(st, "k").where(col("sts") <= col("ets"))
        .groupBy("eid").agg(max(struct(col("sts"), col("sid"))).as("b"))
        .select(col("eid"), col("b.sts"), col("b.sid"))
        .collect().map(_.mkString("|")).toSet
      println(s"rows=${asof.size} as-of matches, equals brute force: ${asof == brute} (expect true)")
      // interval join (batch path of the stream-stream operator) vs the
      // raw inequality pair over the same synthetic timelines
      val l = ev.select(col("eid").as("l_id"), col("k"),
        timestamp_seconds(col("ets") * 60).as("lts"))
      val r = ev.select(col("eid").as("r_id"), col("k"),
        timestamp_seconds(col("ets") * 60 + 30).as("rts"))
      val ij = graft.streaming.EventWindows.intervalJoin(
        l, r, "k", "lts", "rts", upper = "10 minutes")
        .select("l_id", "r_id").collect().map(_.mkString("|")).toSet
      val ibrute = l.join(r, "k")
        .where(col("rts") >= col("lts") && col("rts") <= col("lts") + expr("INTERVAL 10 minutes"))
        .select("l_id", "r_id").collect().map(_.mkString("|")).toSet
      println(s"rows=${ij.size} interval-join pairs, equals brute force: ${ij == ibrute} (expect true)")
    }

    println("=== 19. range join: bucketed BETWEEN vs brute force (round-5) ===")
    locally {
      import org.apache.spark.sql.functions._
      val pts = customers.select(col("c_custkey"), col("lon").as("v"))
      val ivs = SparkEntry.supplierPoints(spark, dir).select(col("s_suppkey"),
        (col("lon") - 1.5).as("lo"), (col("lon") + 1.5).as("hi"))
      val w = graft.join.RangeJoin.autoWidth(ivs, col("lo"), col("hi"))
      val rj = graft.join.RangeJoin.pointInInterval(pts, ivs, col("v"), col("lo"), col("hi"), w)
        .select("c_custkey", "s_suppkey").collect().map(_.mkString("|")).toSet
      val bruteR = pts.crossJoin(ivs).where(col("v") >= col("lo") && col("v") <= col("hi"))
        .select("c_custkey", "s_suppkey").collect().map(_.mkString("|")).toSet
      println(s"rows=${rj.size} range matches (autoWidth=$w), equals brute force: ${rj == bruteR} (expect true)")
      // interval×interval overlap on the same data: customer ±1.0 bands
      // against supplier ±1.5 bands, vs brute force
      val cIv = customers.select(col("c_custkey"),
        (col("lon") - 1.0).as("alo"), (col("lon") + 1.0).as("ahi"))
      val oj = graft.join.RangeJoin.overlapJoin(cIv, ivs.withColumnsRenamed(
          Map("lo" -> "blo", "hi" -> "bhi")),
        col("alo"), col("ahi"), col("blo"), col("bhi"), bucketWidth = 2.0)
        .select("c_custkey", "s_suppkey").collect().map(_.mkString("|")).toSet
      val bruteO = cIv.crossJoin(ivs).where(col("alo") <= col("hi") && col("lo") <= col("ahi"))
        .select("c_custkey", "s_suppkey").collect().map(_.mkString("|")).toSet
      println(s"rows=${oj.size} overlap matches, equals brute force: ${oj == bruteO} (expect true)")
    }

    println("=== 20. containment dedup + corpus vocabulary (round-5) ===")
    locally {
      import org.apache.spark.sql.functions._
      // containment must be a superset of jaccard at the same tau
      // (|A∩B|/min is never below |A∩B|/union)
      val jp = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
        .select("doc_i", "doc_j").collect().map(_.mkString("|")).toSet
      val cp = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text", 0.8)
        .select("doc_i", "doc_j").collect().map(_.mkString("|")).toSet
      println(s"rows=${cp.size} containment pairs, jaccard subset: ${jp.subsetOf(cp)} (expect true)")
      val vocab = graft.text.TextFunctions.vocabulary(docs, "doc_id", "text")
      val bad = vocab.where(col("doc_freq") > col("total_freq")).count()
      println(s"rows=${vocab.count()} vocabulary tokens, doc_freq>total_freq=$bad (expect 0)")
    }

    println("=== 21. exact-substring dedup: verbatim span that Jaccard misses (round-6) ===")
    locally {
      import org.apache.spark.sql.functions._
      // a 40-token quote inside a 10x-longer host: Jaccard ~0.1, but the
      // span is verbatim — substringPairs must report exactly 40
      import spark.implicits._
      val q = (0 until 40).map(i => s"q$i")
      val host = (0 until 180).map(i => s"h$i") ++ q ++ (0 until 180).map(i => s"z$i")
      val sdf = Seq((1L, q.mkString(" ")), (2L, host.mkString(" ")))
        .toDF("doc_id", "text")
      val sp = graft.dedup.Dedup.substringPairs(sdf, "doc_id", "text", minSpan = 20, k = 8)
        .collect().map(_.mkString("|")).toSeq
      println(s"rows=${sp.size} substring pairs, span exact: ${sp == Seq("1|2|40")} (expect true)")
      val jac = graft.dedup.Dedup.jaccardPairs(sdf, "doc_id", "text", 0.3).count()
      println(s"rows=$jac jaccard pairs at tau=0.3 on the same docs (expect 0)")
      // winnowed variant: same pair through the 2/(w+1)-density
      // fingerprint index; span_lb in [40 - 2(w-1), 40] = [34, 40]
      val wn = graft.dedup.Dedup.winnowedSubstringPairs(
        sdf, "doc_id", "text", minSpanLb = 20, k = 8, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val lbOk = wn.size == 1 && wn.head._1 == 1L && wn.head._2 == 2L &&
        wn.head._3 >= 34L && wn.head._3 <= 40L
      println(s"rows=${wn.size} winnowed pairs, span_lb in [34,40]: $lbOk (expect true)")
    }

    println("=== 22. tf-idf / redaction / chunking / packing (round-6) ===")
    locally {
      import org.apache.spark.sql.functions._
      val tfidf = graft.text.TextFunctions.tfidfTopM(docs, "doc_id", "text", 5)
      val badRnk = tfidf.where(col("rnk") > 5 || col("rnk") < 1).count()
      println(s"rows=${tfidf.count()} tfidf terms, out-of-range ranks=$badRnk (expect 0)")
      import spark.implicits._
      val red = Seq("mail a@b.co ip 10.1.2.3 card 4111 1111 1111 1111").toDF("text")
        .select(graft.text.TextFunctions.redactPii(col("text")).as("r"))
        .head.getString(0)
      println(s"rows=1 redacted, placeholders present: ${
        red == "mail <EMAIL> ip <IP> card <NUM>"} (expect true)")
      val chunks = docs
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("ws"))
        .select(col("doc_id"), posexplode(graft.text.TextFunctions.tokenChunks(col("ws"), 16, 4)))
      println(s"rows=${chunks.count()} chunks (16/4 windows over ${docs.count()} docs)")
      val packed = graft.text.TextFunctions.packSequences(docs, "doc_id", "text", 256)
      val overBudget = packed.where(col("bin_offset") >= 256).count()
      println(s"rows=${packed.count()} packed docs, offsets past budget=$overBudget (expect 0)")
    }

    println("=== 23. decontamination / repetition filter / sampling (round-6) ===")
    locally {
      import org.apache.spark.sql.functions._
      // every 10th doc plays the eval suite; flagged corpus docs carry
      // exact hit counts and the longest contaminated token run
      val bench = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val dirty = graft.dedup.Dedup.decontaminate(
        corpus, "doc_id", "text", bench, "text", k = 8)
      val clean = corpus.join(dirty.withColumnRenamed("doc", "doc_id"),
        Seq("doc_id"), "left_anti")
      println(s"rows=${dirty.count()} contaminated docs, clean corpus=${clean.count()} " +
        s"of ${corpus.count()}")
      val rep = graft.text.TextFunctions.repetitionProfile(docs, "doc_id", "text")
      val bad = rep.where(col("top_frac") < 0 || col("top_frac") > 1
        || col("dup_frac") < 0 || col("dup_frac") > 1).count()
      println(s"rows=${rep.count()} repetition profiles (= ${docs.count()} docs), " +
        s"out-of-range fractions=$bad (expect 0)")
      val quota = graft.curation.Sampling.quotaTopK(
        docs, Seq("source"), "n_chars", "doc_id", k = 3)
      println(s"rows=${quota.count()} quota picks (3 per source, " +
        s"${docs.select("source").distinct().count()} sources)")
      val kept = graft.curation.Sampling.hashSample(docs, "text", "source",
        (0 until 20).map(i => s"src$i" -> "8000").toMap)
      println(s"rows=${kept.count()} hash-sampled of ${docs.count()} (~50% nominal)")
      // incremental dedup: odd docs = incoming snapshot, even = ingested
      val cross = graft.dedup.Dedup.minhashPairsAcross(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", tau = 0.8)
      val sameSide = cross.where((col("doc_i") % 2) === (col("doc_j") % 2)).count()
      println(s"rows=${cross.count()} cross-corpus near-dup pairs, same-side leaks=$sameSide (expect 0)")
    }

    println("=== 24. PQ ANN / logistic quality model / corpus profile (round-6b) ===")
    locally {
      import org.apache.spark.sql.functions._
      // PQ: codebooks on the document embeddings, exact re-rank contract
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cb = graft.similarity.ProductQuantizer.train(
        emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
      val q = emb.where(col("vec_id") < 5)
      val pq = graft.similarity.ProductQuantizer.topK(
        q, emb, "vec_id", "embedding", k = 5, cb, shortlist = Int.MaxValue)
      val exact = graft.similarity.Similarity.cosineTopK(
        q, emb, "vec_id", "embedding", k = 5)
      val diff = pq.select("qid", "cid", "rnk")
        .exceptAll(exact.select("qid", "cid", "rnk")).count()
      println(s"rows=${pq.count()} pq top-5, diff vs exact=$diff (expect 0)")
      // logistic: train on a derived label (is-English), score with the model
      val feats = docs
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("ws"))
        .select(col("doc_id"),
          array(coalesce(graft.text.TextFunctions.stopwordRatio(col("ws")), lit(0.0)),
            coalesce(graft.text.TextFunctions.distinctTokenRatio(col("ws")), lit(0.0))).as("f"),
          (graft.text.TextFunctions.langId(col("ws")) === "en").cast("double").as("y"))
      val model = graft.ml.Logistic.train(feats, "f", "y", iters = 10, lr = 1.0)
      val lossDown = model.losses.last < model.losses.head
      val scoredRows = feats.select(model.scoreCol(col("f"))).count()
      println(s"rows=$scoredRows scored docs, loss ${model.losses.head} -> " +
        s"${model.losses.last} decreasing=$lossDown (expect true)")
      // corpus profile: quantile ordering sanity
      val prof = graft.text.CorpusProfile.profile(docs, "text")
      val badQ = prof.where(col("p50_tokens") > col("p90_tokens")
        || col("p90_tokens") > col("max_tokens")).count()
      println(s"rows=${prof.count()} language profiles, quantile inversions=$badQ (expect 0)")
      // mixture sampling: 3:1:1 target over three sources, rest dropped
      val mixed = graft.curation.Sampling.mixtureSample(
        docs, "text", "source", Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0))
      val bySrc = mixed.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"rows=${mixed.count()} mixture-sampled " +
        s"(src0=${bySrc.getOrElse("src0", 0L)} src1=${bySrc.getOrElse("src1", 0L)} " +
        s"src2=${bySrc.getOrElse("src2", 0L)}, others dropped=${bySrc.size == 3}) (expect true)")
      // bigram-LM scoring: self-trained corpus model; every doc scored,
      // scores are negative log-probs (0.0 only for < 2-token docs)
      val lmScores = graft.text.NgramLm.score(docs, "doc_id", "text",
        graft.text.NgramLm.train(docs, "text", minCount = 2L)).cache()
      val badLm = lmScores.where(col("n_bigrams") >= 1 && col("bi_logp_r6") >= 0.0).count()
      println(s"rows=${lmScores.count()} LM-scored docs (expect 500), " +
        s"nonneg logp on scoreable docs=$badLm (expect 0)")
      lmScores.unpersist()
      // BM25 retrieval (query-by-example over a 31-token vocabulary:
      // prefixes are NOT discriminative, so rank-1 self-retrieval is not
      // an invariant here — the structural contract is: k hits per
      // query, contiguous ranks, scores non-increasing in rank)
      val bmQueries = docs.where(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id").as("qid"), concat_ws(" ",
          slice(graft.text.TextFunctions.tokens(col("text")), 1, 8)).as("qtext"))
      val bm = graft.text.Bm25.topK(
        bmQueries, docs, "qid", "qtext", "doc_id", "text", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val byQ = bm.groupBy(_._1).values
      val ranksOk = byQ.forall(_.map(_._4).sorted.sameElements(1L to 5L))
      val monoOk = byQ.forall { h =>
        val s = h.sortBy(_._4).map(_._3); s.zip(s.tail).forall { case (a, c) => a >= c } }
      println(s"rows=${bm.length} BM25 hits for ${bmQueries.count()} queries, " +
        s"ranks contiguous=$ranksOk scores monotone=$monoOk (expect true true)")
    }

    println("=== 25. hot-phrase mining: per-source boilerplate discovery (round-6c) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val hot = graft.text.TextFunctions.hotPhrases(
        docs, "source", "text", n = 3, k = 5, minDf = 2L).cache()
      val strata = hot.select("source").distinct().count()
      // df can never exceed the stratum's document count
      val sizes = docs.groupBy("source").count().withColumnRenamed("count", "n")
      val badDf = hot.join(sizes, "source").where(col("df") > col("n")).count()
      println(s"rows=${hot.count()} hot phrases over $strata sources, " +
        s"df>stratum-size=$badDf (expect 0)")
      hot.unpersist()
    }

    println("=== 26. deterministic train/val/test split (round-6c) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val split = graft.curation.Sampling.splitByHash(docs, "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).cache()
      val n = split.count()
      val parts = split.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val partitionOk = parts.values.sum == n
      println(s"rows=$n split docs (train=${parts.getOrElse("train", 0L)} " +
        s"val=${parts.getOrElse("val", 0L)} test=${parts.getOrElse("test", 0L)}), " +
        s"exact partition=$partitionOk (expect true)")
      split.unpersist()
    }

    println("=== 27. group-wise exact quantiles + left-outer as-of (round-6c) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val q = graft.stats.GroupStats.quantiles(
        docs, Seq("source"), "n_chars", Seq(50, 90)).cache()
      // order statistics must be monotone and inside [min, max]
      val bad = q.where(col("p50") > col("p90") ||
        col("p50") < col("min_n_chars") || col("p90") > col("max_n_chars")).count()
      println(s"rows=${q.count()} per-source quantile rows, violations=$bad (expect 0)")
      q.unpersist()
      val ev = graft.SparkEntry.microTs(spark.read.parquet(s"$dir/events.parquet"))
        .select(col("event_id"), col("user_id"), col("ts"))
      val hourly = ev.groupBy(col("user_id"),
          org.apache.spark.sql.functions.window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("h_cnt"))
        .select(col("user_id"), col("window.end").as("h_end"), col("h_cnt"))
      val inner = graft.join.AsOfJoin.asof(ev, hourly,
        Seq("user_id"), "ts", "h_end").count()
      val leftJ = graft.join.AsOfJoin.asof(ev, hourly,
        Seq("user_id"), "ts", "h_end", joinType = "left").count()
      println(s"rows=$leftJ left-asof (inner=$inner, left keeps all=" +
        s"${leftJ == ev.count()}) (expect true)")
    }

    println("=== 28. trained-state persistence: save/load/serve round-trips (round-7) ===")
    locally {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val base = java.nio.file.Files.createTempDirectory("graft-drive-models-").toString
      // IVF: reloaded centroids serve the same rows as fresh ones
      val cents = graft.similarity.Similarity.trainCentroids(
        emb, "vec_id", "embedding", nlist = 4, iters = 2)
      graft.ml.ModelStore.saveCentroids(cents, s"$base/ivf")
      val q = emb.where(col("vec_id") < 5)
      val fresh = graft.similarity.Similarity.ivfTopKWith(
        q, emb, cents, "vec_id", "embedding", k = 5, nprobe = 4)
      val served = graft.similarity.Similarity.ivfTopKWith(
        q, emb, graft.ml.ModelStore.loadCentroids(spark, s"$base/ivf"),
        "vec_id", "embedding", k = 5, nprobe = 4)
      val ivfDiff = served.exceptAll(fresh).count() + fresh.exceptAll(served).count()
      println(s"rows=${served.count()} ivf-from-artifact (diff vs fresh=$ivfDiff, expect 0)")
      // bigram LM: reloaded tables reproduce fresh scores exactly
      val lm = graft.text.NgramLm.train(docs, "text", minCount = 2L)
      graft.ml.ModelStore.saveBigramLm(lm, s"$base/lm")
      val lmFresh = graft.text.NgramLm.score(docs, "doc_id", "text", lm)
      val lmServed = graft.text.NgramLm.score(docs, "doc_id", "text",
        graft.ml.ModelStore.loadBigramLm(spark, s"$base/lm"))
      val lmDiff = lmServed.exceptAll(lmFresh).count() + lmFresh.exceptAll(lmServed).count()
      println(s"rows=${lmServed.count()} lm-from-artifact (diff vs fresh=$lmDiff, expect 0)")
      // logistic: weights/bias/losses bit-exact through parquet
      val model = graft.ml.Logistic.Model(Array(2.0, 1.5, 0.5), -1.0, Array(0.693))
      graft.ml.ModelStore.saveLogistic(spark, model, s"$base/logit")
      val re = graft.ml.ModelStore.loadLogistic(spark, s"$base/logit")
      val ok = re.weights.sameElements(model.weights) && re.bias == model.bias &&
        re.losses.sameElements(model.losses)
      if (ok) println("OK logistic artifact bit-exact round-trip")
      else println("ERROR logistic artifact mismatch")
    }

    println("=== 30. join-type surface: left / semi / anti on both strategies (round-7) ===")
    locally {
      val cust = SparkEntry.customerPoints(spark, dir).select("c_custkey", "lon", "lat")
      SparkEntry.supplierPoints(spark, dir).createOrReplaceTempView("drive_sup30")
      def t(jt: String, mode: String) = new BroadcastSpatialJoin()
        .setDataset("drive_sup30").setDatasetPoint("lon, lat").setInputPoint("lon, lat")
        .setDataColumns(if (jt == "left") "s_suppkey" else "")
        .setBroadcast(mode).setPredicate("withindist 300000").setJoinType(jt)
        .transform(cust)
      val leftK = t("left", "external")
      val total = cust.count()
      val unmatched = leftK.where(col("s_suppkey").isNull)
        .select("c_custkey").distinct().count()
      println(s"rows=${leftK.count()} left rows (distinct inputs kept=" +
        s"${leftK.select("c_custkey").distinct().count() == total}) (expect true)")
      val semiN = t("semi", "external").count()
      val antiN = t("anti", "none").count()
      println(s"rows=$semiN semi + $antiN anti = ${semiN + antiN} " +
        s"(partition of $total=${semiN + antiN == total}, anti==left-nulls=" +
        s"${antiN == unmatched}) (expect true true)")
    }

    println("=== 31. HLL sketch report: per-source corpus statistics (round-7) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val sk = graft.text.CorpusSketch.sketch(docs, Seq("source"), "text").cache()
      val nSrc = sk.count()
      val exact = docs.groupBy("source")
        .agg(org.apache.spark.sql.functions.countDistinct(col("text")).as("uc"))
      val offBound = sk.join(exact, "source")
        .where(!graft.text.CorpusSketch.withinBound(
          col("approx_distinct_content"), col("uc"), 0.15)).count()
      println(s"rows=$nSrc source strata, estimates off 3-sigma bound=$offBound (expect 0)")
      sk.unpersist()
    }

    println("=== 29. corpus-trained BPE: merges, lossless segmentation, budget packing (round-7) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val ms = graft.text.Bpe.train(docs, "text", rounds = 12)
      println(s"rows=${ms.size} learned merges, counts non-increasing=" +
        s"${ms.sliding(2).forall { case Seq(a, b) => a.count >= b.count; case _ => true }} (expect true)")
      val bad = docs
        .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("w")).distinct()
        .where(concat_ws("", graft.text.Bpe.segment(col("w"), ms)) =!= col("w")).count()
      println(s"rows=$bad lossy segmentations (expect 0)")
      val packed = graft.text.TextFunctions.packSequencesBy(
        docs, "doc_id", "text", budget = 512,
        t => graft.text.Bpe.tokenCount(t, ms))
      val overBudget = packed.where(col("bin_offset") >= 512).count()
      println(s"rows=${packed.count()} bpe-packed docs, offsets past budget=$overBudget (expect 0)")
    }

    println("=== 32. segment dedup / overlap + bloom decontamination (round-7b) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val sd = graft.dedup.Dedup.segmentDedup(docs, "doc_id", "text", seg = 8).cache()
      val nDocs = sd.count()
      val inDocs = docs.count()
      val dropped = sd.agg(sum(col("n_dropped"))).head().getLong(0)
      // conservation: kept + dropped segments = total segments
      val keptPlusDropped = sd.agg(sum(col("n_kept") + col("n_dropped"))).head().getLong(0)
      val totalSegs = docs
        .select(explode(graft.text.TextFunctions.tokenChunks(
          graft.text.TextFunctions.tokens(col("text")), 8, 0)).as("s"))
        .where(col("s") =!= "").count()
      println(s"rows=$nDocs docs out of $inDocs (all present=${nDocs == inDocs}), " +
        s"$dropped segments dropped, conservation=${keptPlusDropped == totalSegs} (expect true ... true)")
      sd.unpersist()
      val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val bench = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val ov = graft.dedup.Dedup.decontamOverlap(corpus, "doc_id", "text", bench, "text",
        n = 5, theta = 0.1).cache()
      val nOv = ov.count()
      val badFrac = ov.where(col("frac") < 0 || col("frac") > 1
        || (col("contaminated") =!= (col("frac") >= 0.1))).count()
      println(s"rows=$nOv overlap reports, invalid fractions/flags=$badFrac (expect 0)")
      ov.unpersist()
      val exact = graft.dedup.Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", k = 8)
        .select(col("doc")).collect().map(_.getLong(0)).toSet
      val bloom = graft.dedup.Dedup.decontaminateBloom(corpus, "doc_id", "text", bench, "text",
        k = 8, expectedItems = 1000L, fpp = 0.3).collect().map(_.getLong(0)).toSet
      println(s"rows=${bloom.size} bloom-flagged docs, equals exact set=${bloom == exact} (expect true)")
      // error path: invalid k rejects loudly
      val err = try { graft.dedup.Dedup.decontaminateBloom(corpus, "doc_id", "text", bench, "text", k = 1); "no-error" }
      catch { case e: IllegalArgumentException => "IllegalArgumentException" }
      println(s"OK k=1 rejected with $err (expect IllegalArgumentException)")
    }

    println("=== 33. record linkage + approximate quantiles (round-7b) ===")
    locally {
      val parts = spark.read.parquet(s"$dir/part.parquet")
      val pairs = graft.link.RecordLinkage.blockedPairs(parts, "p_partkey", "p_name",
        split(col("p_name"), " ").getItem(0), maxDist = 3).cache()
      val nPairs = pairs.count()
      val badOrder = pairs.where(col("id_i") >= col("id_j")).count()
      val badDist = pairs.where(col("dist") < 0 || col("dist") > 3).count()
      println(s"rows=$nPairs linked pairs, order violations=$badOrder, " +
        s"out-of-threshold distances=$badDist (expect 0 0)")
      val capped = graft.link.RecordLinkage.blockedPairs(parts, "p_partkey", "p_name",
        split(col("p_name"), " ").getItem(0), maxDist = 3, maxBlock = Some(5)).count()
      println(s"rows=$capped pairs under maxBlock=5 (subset=${capped <= nPairs}) (expect true)")
      pairs.unpersist()
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val aq = graft.stats.GroupStats.approxQuantiles(
        docs, Seq("source"), "n_chars", Seq(50, 90), accuracy = 100)
      val exact = graft.stats.GroupStats.quantiles(
        docs, Seq("source"), "n_chars", Seq(50, 90))
      val off = aq.join(exact, "source")
        // accuracy far above group sizes at sf0.001: GK is exact here
        .where(col("ap50") =!= col("p50") || col("ap90") =!= col("p90")).count()
      println(s"rows=${aq.count()} approx-quantile strata, diffs vs exact at " +
        s"accuracy>>n=$off (expect 0)")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val sd = graft.dedup.Dedup.semanticDedup(emb, "vec_id", "embedding",
        k = 8, tau = 0.3).cache()
      val n = sd.count(); val nIn = emb.count()
      val dups = sd.where(col("is_dup")).count()
      // the minimum id of every cell can have no smaller-id neighbour
      val badMin = sd.groupBy(col("cluster"))
        .agg(min(col("doc")).as("m")).join(sd, col("m") === col("doc"))
        .where(col("is_dup")).count()
      println(s"rows=$n semantic verdicts over $nIn vectors (all present=${n == nIn}), " +
        s"$dups flagged, flagged cell-minima=$badMin (expect true ... 0)")
      sd.unpersist()
    }

    println("=== 34. temperature sampling + DSIR importance weights (round-7b) ===")
    locally {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val temp = graft.curation.Sampling.temperatureSample(docs, "text", "source", 0.5).cache()
      val kept = temp.count()
      val total = docs.count()
      // sqrt rebalance keeps every stratum's rows <= its supply and the
      // binding stratum whole
      val perStratum = temp.groupBy("source").count()
        .join(docs.groupBy("source").count().withColumnRenamed("count", "supply"), "source")
      val over = perStratum.where(col("count") > col("supply")).count()
      val whole = perStratum.where(col("count") === col("supply")).count()
      println(s"rows=$kept of $total kept, over-supply strata=$over (expect 0), " +
        s"whole strata>=1=${whole >= 1} (expect true)")
      temp.unpersist()
      val iw = graft.curation.Sampling.importanceWeights(
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text",
        docs.where(pmod(col("doc_id"), lit(10)) === 0), "text").cache()
      val nScored = iw.count()
      val badFeats = iw.where(col("n_feats") <= 0).count()
      println(s"rows=$nScored importance-scored docs, nonpositive feature counts=$badFeats (expect 0)")
      iw.unpersist()
      // saved minhash index: probe-vs-artifact must equal recompute-both
      val even = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val odd = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      val path = java.nio.file.Files.createTempDirectory("graft-drive-mhidx-").toString
      graft.ml.ModelStore.saveMinhashIndex(
        graft.dedup.Dedup.buildMinhashIndex(even, "doc_id", "text"), path)
      val viaIx = graft.dedup.Dedup.minhashPairsVsIndex(odd, "doc_id", "text",
        graft.ml.ModelStore.loadMinhashIndex(spark, path), tau = 0.8)
        .collect().map(_.toSeq).toSet
      val direct = graft.dedup.Dedup.minhashPairsAcross(odd, even,
        "doc_id", "text", tau = 0.8).collect().map(_.toSeq).toSet
      println(s"rows=${viaIx.size} index-probed pairs, equals recompute=${viaIx == direct} (expect true)")
    }

    println("=== 35. z-order layout clustering (round-7b) ===")
    locally {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val z = graft.layout.ZOrder.zorderBy(li, Seq("l_orderkey", "l_partkey"),
        partitions = 8, bits = 16).cache()
      val nIn = li.count(); val nOut = z.count()
      val missing = li.exceptAll(z).count()
      // partkey-band pruning: how many of the 8 files would min/max
      // stats skip for a narrow l_partkey range?
      val hit = z.select(org.apache.spark.sql.functions.spark_partition_id().as("p"), col("l_partkey"))
        .groupBy("p").agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
        .where(col("lo") <= 120L && col("hi") >= 100L).count()
      println(s"rows=$nOut z-ordered (preserved=${nOut == nIn && missing == 0}), " +
        s"partkey-band hits $hit of 8 partitions (expect true, < 8)")
      z.unpersist()
      val docsT = spark.read.parquet(s"$dir/documents.parquet")
      val half1 = docsT.where(pmod(col("doc_id"), lit(2)) === 1)
      val half2 = docsT.where(pmod(col("doc_id"), lit(2)) === 0)
      val same = graft.text.CorpusDrift.summary(half1, "text", half1, "text")
        .collect().head
      val drift = graft.text.CorpusDrift.summary(half1, "text", half2, "text")
        .collect().head
      println(s"rows=1 drift summary: self-KL=${same.getLong(2)} (expect 0), " +
        s"cross-KL=${drift.getLong(2)} micro-nats, tvd=${drift.getDouble(4)}")
      // unigram tokenizer: coverage (every word scored, pieces >= 1) and
      // artifact round-trip equality
      val um = graft.text.Unigram.train(docsT, "text", vocabSize = 64, maxPieceLen = 4)
      val words = docsT
        .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("w")).distinct()
      val scored = words.select(graft.text.Unigram.wordScore(col("w"), um).as("s"))
        .select(col("s.n_pieces").as("np")).cache()
      val nw = scored.count(); val bad = scored.where(col("np") < 1).count()
      val upath = java.nio.file.Files.createTempDirectory("graft-drive-unigram-").toString
      graft.text.Unigram.piecesDF(spark, um).write.mode("overwrite").parquet(upath)
      val um2 = graft.text.Unigram.piecesFrom(spark.read.parquet(upath))
      println(s"rows=$nw unigram-scored words, uncovered=$bad (expect 0), " +
        s"artifact round-trip equal=${um2 == um} (expect true)")
      scored.unpersist()
    }

    println("=== 36. prefix-filtered set-similarity join (round-7c) ===")
    locally {
      val docsT = spark.read.parquet(s"$dir/documents.parquet")
      val exact = graft.dedup.Dedup.jaccardPairs(docsT, "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = graft.dedup.Dedup.jaccardPairsPrefix(docsT, "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      println(s"rows=${pref.size} prefix-filtered jaccard pairs, " +
        s"equal to exact join=${pref == exact} (expect true)")
      // phrase search: every reported first_pos must actually hold the
      // phrase at that token offset (cross-checked by re-slicing)
      val hits = graft.text.PhraseSearch.phraseHits(
        docsT, "doc_id", "text", Seq("table hash", "slow hash batch"))
      val bad = hits.join(docsT.select(col("doc_id").as("doc"), col("text")), "doc")
        .where(concat_ws(" ",
          slice(graft.text.TextFunctions.tokens(col("text")),
            (col("first_pos") + 1).cast("int"),
            size(split(col("phrase"), " ")))) =!= col("phrase"))
        .count()
      println(s"rows=${hits.count()} phrase hits, misplaced first_pos=$bad (expect 0)")
      // snapshot diff: a self-diff is empty; a shifted diff partitions
      // into the three statuses with no unchanged leakage
      val selfDiff = graft.curation.SnapshotDiff.diff(docsT, docsT, "doc_id", "text").count()
      val shifted = docsT.withColumn("text", concat(col("text"), lit(" v2")))
        .where(col("doc_id") < 450)
      val byStatus = graft.curation.SnapshotDiff
        .diffSummary(docsT.where(col("doc_id") >= 50), shifted, "doc_id", "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"rows=$selfDiff self-diff rows (expect 0), shifted diff: " +
        s"added=${byStatus.getOrElse("added", 0L)} removed=${byStatus.getOrElse("removed", 0L)} " +
        s"changed=${byStatus.getOrElse("changed", 0L)} (expect 50 50 400)")
      // count-min sketch: never undercounts at a collision-forcing width
      val ex = docsT.select(explode(graft.text.TextFunctions.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("exact"))
      val cms = graft.text.CorpusSketch.cmsBuild(docsT, "text", depth = 4, width = 16)
      val under = graft.text.CorpusSketch
        .cmsEstimate(cms, ex.select("term"), "term", depth = 4, width = 16)
        .join(ex, "term").where(col("est") < col("exact")).count()
      println(s"rows=${ex.count()} CMS-probed terms, undercounts=$under (expect 0)")
      // hashing-trick features: occurrence conservation per doc
      val hv = graft.text.TextFunctions.hashedFeatures(docsT, "doc_id", "text", dim = 64)
      val tot = hv.agg(sum("cnt")).head.getLong(0)
      val grams = docsT.select(explode(concat(
          graft.functions.WordShingles.wordGrams(col("text"), 1),
          graft.functions.WordShingles.wordGrams(col("text"), 2))).as("g")).count()
      println(s"rows=${hv.count()} hashed-feature rows, " +
        s"occurrences conserved=${tot == grams} (expect true)")
      // HTML strip: wrapping corpus text in markup and stripping must
      // round-trip to the original (corpus text is already clean)
      val roundTrip = docsT.select(col("text"),
          graft.text.TextFunctions.stripHtml(
            concat(lit("<div><p>"), col("text"), lit("</p><script>x</script></div>")))
            .as("clean"))
        .where(col("clean") =!= col("text")).count()
      println(s"rows=${docsT.count()} html-stripped docs, round-trip mismatches=$roundTrip (expect 0)")
      // as-of directions over real events: forward matches are at-or-
      // after, nearest row count is the union coverage (>= either side)
      val ev = graft.SparkEntry.microTs(spark.read.parquet(s"$dir/events.parquet"))
        .select(col("event_id"), col("user_id"), col("ts"))
      val hr = ev.groupBy(col("user_id"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("window.end").as("h_end"), col("n"))
      val fwd = graft.join.AsOfJoin.asof(ev, hr, Seq("user_id"), "ts", "h_end",
        direction = "forward")
      val fwdBad = fwd.where(col("h_end") < col("ts")).count()
      val nearRows = graft.join.AsOfJoin.asof(ev, hr, Seq("user_id"), "ts", "h_end",
        direction = "nearest").count()
      println(s"rows=${fwd.count()} forward as-of matches, before-left violations=$fwdBad " +
        s"(expect 0); nearest rows=$nearRows (expect ${ev.count()})")
      // int8 quantization: unbounded shortlist == exact brute force
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val p8 = graft.similarity.ScalarQuantizer.train(emb, "embedding")
      val q8 = emb.where(col("vec_id") < 3)
      val sqTop = graft.similarity.ScalarQuantizer.topK(
        q8, emb, "vec_id", "embedding", k = 5, p8, shortlist = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      val exTop = graft.similarity.Similarity.cosineTopK(
        q8, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      println(s"rows=${sqTop.size} int8 top-k rows, equal to exact=${sqTop == exTop} (expect true)")
      // rollup: level sums must reconcile (grand total == sum of leaves)
      val ru = spark.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag")).agg(sum(col("l_quantity")).cast("long").as("s"),
          grouping_id().as("g"))
      val leaves = ru.where(col("g") === 0).agg(sum("s")).head.getLong(0)
      val total = ru.where(col("g") === 1).head.getAs[Long]("s")
      println(s"rows=${ru.count()} rollup rows, grand total reconciles=${leaves == total} (expect true)")
      // incremental composition: delta-vs-old pairs must involve a
      // delta doc on the left side ONLY (no old x old work leaks in)
      val oldSnap = docsT.where(pmod(col("doc_id"), lit(10)) =!= 0).select("doc_id", "text")
      val neuSnap = docsT.withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" r")))
            .otherwise(col("text")))
        .where(pmod(col("doc_id"), lit(10)) =!= 1).select("doc_id", "text")
      val deltaIds = graft.curation.SnapshotDiff.diff(oldSnap, neuSnap, "doc_id", "text")
        .where(col("status") =!= "removed").select(col("id").as("doc_id"))
      val incPairs = graft.dedup.Dedup.minhashPairsAcross(
        neuSnap.join(deltaIds, Seq("doc_id"), "left_semi"), oldSnap,
        "doc_id", "text", tau = 0.8).cache()
      val offDelta = incPairs.join(deltaIds.withColumnRenamed("doc_id", "doc_i"),
        Seq("doc_i"), "left_anti").count()
      println(s"rows=${incPairs.count()} incremental delta-vs-old pairs, " +
        s"non-delta left sides=$offDelta (expect 0)")
      incPairs.unpersist()
      // phrase monitor (batch path): every flag's text must contain its
      // phrase verbatim as a token subsequence
      val flags = graft.text.PhraseSearch.flagged(docsT, "text", "ts",
        Seq("table hash", "slow hash batch"))
      val badFlag = flags.where(
        !concat(lit(" "), concat_ws(" ", graft.text.TextFunctions.tokens(col("text"))), lit(" "))
          .contains(concat(lit(" "), col("phrase"), lit(" ")))).count()
      println(s"rows=${flags.count()} phrase flags, phrase-not-in-text=$badFlag (expect 0)")
      // funnel: monotone non-increasing step reachability
      val fu = graft.streaming.Funnel.earliestChain(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowMicros = 2L * 3600 * 1000000).cache()
      val n1 = fu.count(); val n2 = fu.where(col("steps_reached") >= 2).count()
      val n3 = fu.where(col("steps_reached") === 3).count()
      val conv = fu.where(col("converted")).count()
      println(s"rows=$n1 funnel users, monotone=${n1 >= n2 && n2 >= n3 && n3 >= conv} " +
        s"(expect true), converted=$conv")
      fu.unpersist()
      // expectations: TPC-H referential integrity must hold
      val expReport = graft.stats.Expectations.report(
        graft.stats.Expectations.referential(
          spark.read.parquet(s"$dir/lineitem.parquet"), Seq("l_orderkey"),
          spark.read.parquet(s"$dir/orders.parquet"), Seq("o_orderkey"), "li_fk"),
        graft.stats.Expectations.uniqueKey(
          spark.read.parquet(s"$dir/orders.parquet"), Seq("o_orderkey"), "o_pk"))
      val failing = expReport.where(!col("pass")).count()
      println(s"rows=${expReport.count()} expectation rows, failing=$failing (expect 0)")
      // SCD2 + as-of composition: attaching history "as of" each
      // event's time must land inside the matched validity range
      val hist = graft.curation.ChangeHistory.scd2(
        ev.join(spark.read.parquet(s"$dir/events.parquet")
            .select(col("event_id"), col("event_type")), "event_id")
          .select("user_id", "ts", "event_type"),
        "user_id", "ts", Seq("event_type"))
        .select(col("user_id"), col("event_type").as("h_type"), col("valid_from"))
      val pit = graft.join.AsOfJoin.asof(
        ev.select("event_id", "user_id", "ts"), hist,
        Seq("user_id"), "ts", "valid_from")
      val outside = pit.where(col("valid_from") > col("ts")).count()
      println(s"rows=${pit.count()} point-in-time rows, range violations=$outside (expect 0)")
      // the first-class pointInTime operator: every matched episode
      // must COVER the fact ts, and on gapless history built from the
      // facts themselves the inner join keeps every fact
      val histFull = graft.curation.ChangeHistory.scd2(
        ev.join(spark.read.parquet(s"$dir/events.parquet")
            .select(col("event_id"), col("event_type")), "event_id")
          .select("user_id", "ts", "event_type"),
        "user_id", "ts", Seq("event_type"))
        .withColumnRenamed("event_type", "h_state")
      val pit2 = graft.curation.ChangeHistory.pointInTime(
        ev.select("event_id", "user_id", "ts"), histFull, Seq("user_id"), "ts")
      val uncovered = pit2.where(col("valid_from") > col("ts") ||
        (col("valid_to").isNotNull && col("ts") >= col("valid_to"))).count()
      println(s"rows=${pit2.count()} pointInTime rows (facts=${ev.count()}, " +
        s"coverage violations=$uncovered; expect equal and 0)")
      // sentences reassemble to the source text; audit partitions input
      val sentBad = docsT
        .select(col("doc_id"), col("text"),
          concat_ws(" ", graft.text.TextFunctions.sentences(
            regexp_replace(col("text"), "table", "table."))).as("re"))
        .where(col("re") =!= regexp_replace(col("text"), "table", "table.")).count()
      val audit = graft.api.PyFacade.curateAudit(docsT, "doc_id", "text", "en", 5, 0.3)
      val keptMismatch = audit.where(col("kept") =!= (col("reason") === "kept")).count()
      println(s"rows=${audit.count()} audited docs (sentence-reassembly mismatches=$sentBad, " +
        s"kept/reason mismatches=$keptMismatch; expect 0 0)")
      // streaming SCD2 batch path == batch twin's closed episodes
      val evT = ev.join(spark.read.parquet(s"$dir/events.parquet")
          .select(col("event_id"), col("event_type")), "event_id")
        .select("user_id", "ts", "event_type")
      val closedStream = graft.curation.ChangeHistory.scd2Stream(
          evT, "user_id", "ts", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val closedBatch = graft.curation.ChangeHistory.scd2(
          evT.selectExpr("cast(user_id as string) user_id", "unix_micros(ts) us", "event_type"),
          "user_id", "us", Seq("event_type"))
        .where(col("valid_to").isNotNull)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      println(s"rows=${closedStream.size} stream-fold closed episodes, " +
        s"equal to batch twin=${closedStream == closedBatch} (expect true)")

      // bucketed layout: write once, join with zero exchange
      val bktBase = java.nio.file.Files.createTempDirectory("drive_bkt").toString
      graft.layout.Bucketed.writeBucketed(
        spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey", "o_custkey"),
        "drive_bkt_orders", s"$bktBase/orders", Seq("o_custkey"), 4)
      graft.layout.Bucketed.writeBucketed(
        spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("o_custkey"), col("c_name")),
        "drive_bkt_cust", s"$bktBase/customer", Seq("o_custkey"), 4)
      val bj = graft.layout.Bucketed.colocatedJoin(
        spark, "drive_bkt_orders", "drive_bkt_cust", Seq("o_custkey"))
      val bjPlan = bj.queryExecution.executedPlan.toString
      println(s"rows=${bj.count()} co-located join rows " +
        s"(exchange-free=${!bjPlan.contains("Exchange")}; expect true)")

      // salted skew join: result-identical to the plain join
      val sjLeft = spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber")
      val sjRight = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val sjHot = sjRight.where(pmod(col("l_orderkey"), lit(7)) === 0)
        .select("l_orderkey")
      val sjOut = graft.join.SkewJoin.salted(
          sjLeft, sjRight, Seq("l_orderkey"), 4, Some(sjHot))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      val sjPlain = sjLeft.join(sjRight, Seq("l_orderkey"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      println(s"rows=${sjOut.length} salted-join rows, equal to plain " +
        s"join=${sjOut.sameElements(sjPlain)} (expect true)")

      // CDC apply: applying a snapshot's own diff reproduces the target
      val cdcOld = docsT.select("doc_id", "text")
      val cdcNew = docsT.where(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      val cdcLog = cdcNew.join(cdcOld.withColumnRenamed("text", "__o"), Seq("doc_id"), "left")
        .where(col("__o").isNull || col("__o") =!= col("text"))
        .select(col("doc_id"), lit(1L).as("ts"), lit("upsert").as("op"), col("text"))
        .unionByName(cdcOld.join(cdcNew.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(1L).as("ts"), lit("delete").as("op"),
            lit(null).cast("string").as("text")))
      val cdcGot = graft.curation.Cdc.applyLog(cdcOld, cdcLog, Seq("doc_id"), "ts", "op")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val cdcWant = cdcNew.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      println(s"rows=${cdcGot.size} cdc-applied docs, reproduces target " +
        s"snapshot=${cdcGot == cdcWant} (expect true)")

      // hard negatives: no emitted pair exceeds the dup threshold, and
      // no emitted cosine beats an EXCLUDED (above-threshold) one from
      // the same query's shortlist
      val hnEmb = spark.read.parquet(s"$dir/embeddings.parquet")
      val hn = graft.similarity.Similarity.hardNegatives(
        hnEmb.where(col("vec_id") < 10), hnEmb, "vec_id", "embedding",
        k = 5, shortlist = 20, dupThreshold = 0.35)
      val hnBad = hn.where(col("cos_r6") > 0.35).count()
      println(s"rows=${hn.count()} hard negatives, above-threshold leaks=" +
        s"$hnBad (expect 0)")

      // trending: every emitted df respects minDf and windows tile
      val tr = graft.streaming.Trending.gramWindows(
        docsT.select(timestamp_micros(col("doc_id") * 1000000L).as("ts"),
          col("text")),
        "ts", "text", n = 2, windowDur = "64 seconds", minDf = 3)
      val trBad = tr.where(col("df") < 3 ||
        unix_micros(col("w_end")) - unix_micros(col("w_start")) =!= 64000000L).count()
      println(s"rows=${tr.count()} trending grams, contract violations=$trBad (expect 0)")

      // z-scores: per-group mean of scores ~ 0 (micro-units)
      val zs = graft.stats.GroupStats.standardize(
        docsT.withColumn("len", length(col("text")).cast("int"))
          .withColumn("__g", lit("all")).select("doc_id", "__g", "len"),
        Seq("__g"), "len")
      val zMean = zs.agg(avg(col("z_micro"))).head.getDouble(0)
      println(f"rows=${zs.count()} z-scored docs, mean z=$zMean%.1f micro " +
        "(expect ~0 within one unit of 1e6)")

      // quantile bins: every doc binned in [0,4)
      val qbOut = graft.stats.GroupStats.quantileBins(
        docsT.withColumn("len", length(col("text")))
          .withColumn("__g", lit("all")).select("doc_id", "__g", "len"),
        Seq("__g"), "len", 4)
      val qbBad = qbOut.where(col("bin").isNull ||
        col("bin") < 0 || col("bin") > 3).count()
      println(s"rows=${qbOut.count()} binned docs, out-of-range bins=$qbBad (expect 0)")

      // A/B report: counts reconcile against direct distinct counts
      val abEv = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("variant", pmod(col("user_id"), lit(2)).cast("string"))
        .withColumn("converted", col("event_type") === "purchase")
      val ab = graft.stats.ABTest.twoProportions(
        abEv, "user_id", "variant", "converted").head()
      val totUnits = abEv.select("user_id").distinct().count()
      println(s"rows=1 ab-test report, units ${ab.getLong(1)}+${ab.getLong(4)}" +
        s"=${ab.getLong(1) + ab.getLong(4)} of $totUnits (expect equal), " +
        s"z_micro=${if (ab.isNullAt(6)) "null" else ab.getLong(6)}")

      // trailing features: count never exceeds the user's total events
      // minus one, and is zero for each user's earliest event
      val tw = graft.streaming.EventWindows.trailingCount(
        ev.select("event_id", "user_id", "ts"), "user_id", "ts",
        windowMicros = 3600L * 1000000)
      val twFirstBad = tw.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
        .where(col("rn") === 1 && col("trail_cnt") =!= 0).count()
      println(s"rows=${tw.count()} trailing-feature rows, " +
        s"nonzero-first-event violations=$twFirstBad (expect 0)")

      // retention: matrix is triangular-consistent — every (cohort,
      // offset>0) count <= its cohort's offset-0 count
      val ret = graft.streaming.Retention.cohorts(
        ev.join(spark.read.parquet(s"$dir/events.parquet")
            .select(col("event_id"), col("event_type")), "event_id")
          .select("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", "signup")
      val retBase = ret.where(col("period_offset") === 0)
        .select(col("cohort_period"), col("n_users").as("base"))
      val retViol = ret.join(retBase, Seq("cohort_period"), "left")
        .where(col("base").isNull || col("n_users") > col("base")).count()
      println(s"rows=${ret.count()} retention cells, triangular violations=" +
        s"$retViol (expect 0)")

      // left range join: every customer present, real misses exist
      val rlPts = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_acctbal").cast("double").as("c_bal"))
      val rlIvs = spark.read.parquet(s"$dir/supplier.parquet")
        .where(pmod(col("s_suppkey"), lit(20)) === 0)
        .select(col("s_suppkey"),
          (col("s_acctbal").cast("double") - 100.0).as("lo"),
          (col("s_acctbal").cast("double") + 100.0).as("hi"))
      val rl = graft.join.RangeJoin.pointInInterval(rlPts, rlIvs,
        col("c_bal"), col("lo"), col("hi"), 200.0, joinType = "left")
      val rlCoverage = rl.select("c_custkey").distinct().count()
      val rlMisses = rl.where(col("s_suppkey").isNull).count()
      println(s"rows=${rl.count()} left-range rows, coverage=$rlCoverage of " +
        s"${rlPts.count()} customers, misses=$rlMisses (expect full coverage, > 0)")

      // left overlap join: every left band present, real misses exist
      val olLeft = spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"),
          (col("c_acctbal").cast("double") - 200.0).as("alo"),
          (col("c_acctbal").cast("double") + 200.0).as("ahi"))
      val olRight = spark.read.parquet(s"$dir/supplier.parquet")
        .where(pmod(col("s_suppkey"), lit(20)) === 0)
        .select(col("s_suppkey"),
          (col("s_acctbal").cast("double") - 300.0).as("blo"),
          (col("s_acctbal").cast("double") + 300.0).as("bhi"))
      val ol = graft.join.RangeJoin.overlapJoinLeft(olLeft, olRight,
        col("alo"), col("ahi"), col("blo"), col("bhi"), 500.0)
      println(s"rows=${ol.count()} left-overlap rows, coverage=" +
        s"${ol.select("c_custkey").distinct().count()} of ${olLeft.count()} " +
        s"customers, misses=${ol.where(col("s_suppkey").isNull).count()} " +
        "(expect full coverage)")

      // URL extraction: two injected URLs per doc, domains non-empty
      val urls = graft.api.PyFacade.extractUrls(
        docsT.withColumn("text", concat(col("text"),
          lit(" https://www.u"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".org/a http://v.io/b"))), "doc_id", "text")
      val badDomain = urls.where(col("domain") === "" ||
        col("domain").startsWith("www.")).count()
      println(s"rows=${urls.count()} extracted urls (expect ${2 * docsT.count()}), " +
        s"bad domains=$badDomain (expect 0)")

      // pricing rollup: revenue reconciles against the unjoined sum
      // over orders that HAVE lineitems and customers
      val priced = SparkEntry.queries("q_pricing")(spark, dir)
      val revTot = priced.agg(sum(col("revenue"))).head.getDouble(0)
      println(s"rows=${priced.count()} pricing groups, total revenue=" +
        f"$revTot%.2f (expect > 0)")
    }

    println("=== 37. round-8: fuzz smoke, compaction, BMP codec, vocab-scale BPE ===")
    locally {
      // differential-fuzz generator: one case per pattern plans + runs
      // (the DuckDB replay is tools/fuzz.sh; FUZZ_RESULT.json records it)
      val fuzzRows = graft.tools.Fuzz.smoke(spark, dir, n = 9, seed = 20260814L)
      println(s"rows=${fuzzRows.map(_._2).sum} across ${fuzzRows.size} fuzz smoke " +
        s"cases, empty cases=${fuzzRows.count(_._2 == 0)} (expect 0)")

      // small-file compaction: fragment, compact, verify invariants
      val base = java.nio.file.Files.createTempDirectory("drive_compact").toString
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey")
      graft.layout.Bucketed.writeBucketed(
        orders.where(pmod(col("o_orderkey"), lit(2)) === 0),
        "drive_compact_t", s"$base/v1", Seq("o_custkey"), 4)
      orders.where(pmod(col("o_orderkey"), lit(2)) === 1).repartition(3)
        .write.format("parquet").bucketBy(4, "o_custkey").sortBy("o_custkey")
        .mode("append").saveAsTable("drive_compact_t")
      val cstats = graft.layout.Compact.compactBucketed(
        spark, "drive_compact_t", s"$base/v2")
      val total = spark.table("drive_compact_t").count()
      println(s"rows=$total compacted orders (expect ${orders.count()}), files " +
        s"${cstats.filesBefore}->${cstats.filesAfter} (expect 4 after), spec=" +
        s"${graft.layout.Bucketed.bucketSpecOf(spark, "drive_compact_t").contains((4, Seq("o_custkey")))} (expect true)")

      // BMP codec: encode -> resize -> decode on real bytes
      val bmp = graft.multimodal.Multimodal.BmpCodec.encode(8, 6,
        (x, y) => (x * 30 << 16) | (y * 40 << 8) | (x + y))
      val rz = graft.multimodal.Multimodal.BmpCodec.resizeImage(bmp, 4, 4)
      val meta = graft.multimodal.Multimodal.BmpCodec.decode(rz)
      println(s"rows=1 bmp resize ${meta.getInt(1)}x${meta.getInt(2)} " +
        s"(expect 4x4), kind=${meta.getString(0)} (expect image)")

      // vocab-scale BPE: 64 merges on bigram words through the native
      // runtime; segmentation must be lossless
      val docsT = spark.read.parquet(s"$dir/documents.parquet")
      val derived = docsT
        .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("ws"))
        .select(col("doc_id"), concat_ws(" ", expr(
          "transform(slice(ws, 1, greatest(size(ws) - 1, 0)), (w, i) -> concat(w, '_', ws[i + 1]))"))
          .as("btext"))
      val ms = graft.text.Bpe.train(derived, "btext", rounds = 64)
      val badSeg = derived
        .select(explode(graft.text.TextFunctions.tokens(col("btext"))).as("w")).distinct()
        .where(concat_ws("", graft.text.Bpe.segment(col("w"), ms)) =!= col("w"))
        .count()
      println(s"rows=${ms.size} vocab-scale merges (expect 64), lossy " +
        s"segmentations=$badSeg (expect 0)")
    }

    println("=== 38. round-8: binary (1-bit) quantization ANN ===")
    locally {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val p = graft.similarity.BinaryQuantizer.train(emb, "embedding")
      val q = emb.where(col("vec_id") < 5)
      val exact = graft.similarity.Similarity
        .cosineTopK(q, emb, "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      val bq = graft.similarity.BinaryQuantizer
        .topK(q, emb, "vec_id", "embedding", k = 5, p, shortlist = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      println(s"rows=${bq.size} binary top-k (expect ${exact.size}), " +
        s"exact-equal=${bq == exact} (expect true), words=${p.words} (expect 1)")
      // error path: undersized shortlist must fail loudly
      val failed =
        try { graft.similarity.BinaryQuantizer.topK(q, emb, "vec_id",
          "embedding", k = 5, p, shortlist = 2); false }
        catch { case _: IllegalArgumentException => true }
      println(s"OK shortlist<k rejected=$failed (expect true)")
    }

    println("=== 39. round-8: leakage-safe group split ===")
    locally {
      val docsT = spark.read.parquet(s"$dir/documents.parquet")
      val pairs = graft.dedup.Dedup.minhashPairs(docsT, "doc_id", "text", tau = 0.8)
      val split = graft.curation.Sampling.groupSplit(docsT, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val n = split.count()
      // the contract: no near-dup pair straddles the split
      val straddles = pairs
        .join(split.select(col("doc_id").as("doc_i"), col("split").as("si")), "doc_i")
        .join(split.select(col("doc_id").as("doc_j"), col("split").as("sj")), "doc_j")
        .where(col("si") =!= col("sj")).count()
      println(s"rows=$n group-split docs (expect ${docsT.count()}), " +
        s"straddling near-dup pairs=$straddles (expect 0)")
    }

    println("=== 40. round-8: WAV audio codec (real bytes) ===")
    locally {
      import graft.multimodal.Multimodal
      // encode -> decimate -> decode on real PCM bytes
      val wav = Multimodal.WavCodec.encode(8000,
        Array.tabulate(1600)(i => (i * 37 % 65536 - 32768).toShort))
      val ds = Multimodal.WavCodec.resampleAudio(wav, 4)
      val meta = Multimodal.WavCodec.decode(ds)
      println(s"rows=1 wav decimate rate=${meta.getInt(3)} (expect 2000), " +
        s"duration=${meta.getLong(4)}ms (expect 200), kind=${meta.getString(0)} (expect audio)")
      // operator path over a mixed frame: audio decimates, text passes
      val docsT = spark.read.parquet(s"$dir/documents.parquet").limit(20)
      val assets = docsT.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit(wav)).otherwise(encode(col("text"), "UTF-8")).as("content"))
      val out = Multimodal.withDecodedMeta(
        Multimodal.downsampleAudio(assets, "content", 4, Multimodal.WavCodec),
        "content", Multimodal.WavCodec)
      val rates = out.select("meta.sample_rate").distinct().collect()
        .flatMap(r => Option(r.get(0))).map(_.toString).sorted.toSeq
      val unknowns = out.where(col("meta.kind") === "unknown").count()
      println(s"rows=${out.count()} mixed assets, decimated rates=$rates " +
        s"(expect List(2000)), pass-through=$unknowns (expect 10)")
    }

    println("=== 41. round-8: BPE merges.txt interop ===")
    locally {
      val docsT = spark.read.parquet(s"$dir/documents.parquet")
      val merges = graft.text.Bpe.train(docsT, "text", rounds = 8)
      val txt = java.nio.file.Files.createTempDirectory("drive_bpe").toString + "/merges.txt"
      graft.ml.ModelStore.exportBpeMerges(spark, merges, txt)
      val re = graft.ml.ModelStore.importBpeMerges(spark, txt)
      val same = docsT
        .select(graft.text.Bpe.tokenCount(col("text"), merges).as("a"),
          graft.text.Bpe.tokenCount(col("text"), re).as("b"))
        .where(col("a") =!= col("b")).count()
      println(s"rows=${re.size} merges through merges.txt (expect ${merges.size}), " +
        s"count mismatches vs fresh=$same (expect 0)")
      // error path: malformed line fails loudly
      val bad = java.nio.file.Files.createTempDirectory("drive_bpe_bad").toString + "/m.txt"
      java.nio.file.Files.write(java.nio.file.Paths.get(bad), "a b c\n".getBytes("UTF-8"))
      val rejected =
        try { graft.ml.ModelStore.importBpeMerges(spark, bad); false }
        catch { case _: IllegalArgumentException => true }
      println(s"OK malformed merges.txt rejected=$rejected (expect true)")
    }

    println("=== 41b. round-8: per-window audio energy ===")
    locally {
      val wav = graft.multimodal.Multimodal.WavCodec.encode(1000,
        Array[Short](3, -4, 5, 100))
      import spark.implicits._
      val df = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")))
        .toDF("id", "content")
      val en = graft.multimodal.Multimodal.audioEnergy(df, "id", "content", 2,
          graft.multimodal.Multimodal.WavCodec)
        .collect().map(r => (r.getInt(1), r.getLong(3))).sortBy(_._1).toSeq
      println(s"rows=${en.size} energy windows=$en (expect List((0,12), (1,5012)))")
    }

    println("=== 42. round-8: PageRank, RRF fusion, cluster keep-policy ===")
    locally {
      import spark.implicits._
      // PageRank on a 4-node ring with a hub: hub must outrank leaves
      val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (1L, 3L), (1L, 4L))
        .toDF("src", "dst")
      val pr = graft.graph.PageRank.run(edges, "src", "dst", iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"rows=${pr.size} pagerank nodes, hub>leaf=${pr(1L) > pr(3L)} (expect true)")
      val ppr = graft.graph.PageRank.personalized(edges, Seq(3L).toDF("id"),
          "src", "dst", "id", iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"OK ppr seed-mass=${ppr(3L) > ppr(4L)} (expect true — 3 is the seed)")
      // error path: zero iterations rejected
      val rej =
        try { graft.graph.PageRank.run(edges, "src", "dst", iterations = 0); false }
        catch { case _: IllegalArgumentException => true }
      println(s"OK iterations=0 rejected=$rej (expect true)")

      // RRF fusion of two disagreeing lists
      val l1 = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("qid", "id", "rnk")
      val l2 = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "id", "rnk")
      val fused = graft.similarity.Fusion.rrf(Seq(l1, l2), "qid", "id", "rnk", k = 3)
        .orderBy("rnk").collect().map(_.getLong(1)).toSeq
      println(s"rows=${fused.size} fused, order=$fused (expect List(20, 10, 30))")

      // near-dup keep policy over real docs
      val docsT = spark.read.parquet(s"$dir/documents.parquet")
      val canon = graft.dedup.Dedup.clusterCanonBy(docsT, "doc_id", "n_chars",
        graft.dedup.Dedup.jaccardPairs(docsT, "doc_id", "text", tau = 0.8))
      val n = canon.count()
      val nonSelf = canon.where(col("doc_id") =!= col("canon_id")).count()
      println(s"rows=$n canon mappings (expect ${docsT.count()}), displaced=$nonSelf")

      // weighted PageRank: heavier edge pulls more mass
      val we = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
        .toDF("src", "dst", "w")
      val wpr = graft.graph.PageRank.runWeighted(we, "src", "dst", "w",
          iterations = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"OK weighted pagerank heavy-edge=${wpr(2L) > wpr(3L)} (expect true)")

      // triangle counts on K4
      val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
        .toDF("i", "j")
      val tri = graft.graph.Triangles.perNode(k4, "i", "j")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"rows=${tri.size} triangle nodes, all-3=${tri.values.forall(_ == 3L)} (expect true)")

      // clustering coefficient + k-core on K4-with-tail
      val tail = k4.unionByName(Seq((4L, 5L), (5L, 6L)).toDF("i", "j"))
      val coef = graft.graph.Triangles.clusteringCoef(tail, "i", "j")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      println(s"OK coef clique-node=${coef(1L)} (expect 1000000), leaf=${coef(6L)} (expect 0)")
      val core = graft.graph.KCore.kCore(tail, "i", "j", k = 3)
        .collect().map(_.getLong(0)).sorted.toSeq
      println(s"rows=${core.size} k-core nodes=$core (expect List(1, 2, 3, 4))")

      // bipartite projection + deterministic walks
      val bip = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L)).toDF("l", "r")
      val co = graft.graph.Projection.coOccurrence(bip, "l", "r")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      println(s"OK co-occurrence w=${co.get((1L, 2L))} (expect Some(2))")
      val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
      val wk = graft.graph.Walks.walks(cyc, "s", "d", steps = 3)
        .where(col("walk_id") === "1#0").orderBy("step")
        .collect().map(_.getLong(3)).toSeq
      println(s"rows=${wk.size} walk from 1=$wk (expect List(1, 2, 3, 1))")

      // label propagation along a chain: one hop per round
      val lp = graft.graph.LabelProp.propagate(
          Seq((1L, 2L), (2L, 3L)).toDF("s", "d"),
          Seq((1L, 7L)).toDF("n", "lb"), "s", "d", "n", "lb", rounds = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"rows=${lp.size} labeled nodes, all-7=${lp.values.forall(_ == 7L)} (expect true)")
    }

    println("=== 43. round-8: perceptual signatures (aHash, audio fp, keyCanon) ===")
    locally {
      import spark.implicits._
      val M = graft.multimodal.Multimodal
      def gray(vs: Seq[Seq[Int]]) = M.BmpCodec.encode(vs.head.length, vs.length,
        (x, y) => (vs(y)(x) << 16) | (vs(y)(x) << 8) | vs(y)(x))
      val a = gray(Seq(Seq(0, 30), Seq(60, 90)))
      val df = Seq((1L, a), (2L, a.clone()), (3L, "not an image".getBytes))
        .toDF("id", "content")
      val hs = M.imageHash(df, "id", "content", side = 2, codec = M.BmpCodec)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
      println(s"rows=${hs.size} hashes=$hs (expect List((1,0,12), (2,0,12)) — text emits none)")
      val canon = graft.dedup.Dedup.keyCanon(
          M.imageHash(df, "id", "content", side = 2, codec = M.BmpCodec),
          "asset_id", Seq("hash_hi", "hash_lo"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"OK phash canon=${canon} (expect Map(1 -> 1, 2 -> 1))")
      val wav = M.WavCodec.encode(1000, Array[Short](0, 0, 10, 10, 0, 0))
      val fp = M.audioFingerprint(Seq((9L, wav)).toDF("id", "content"),
          "id", "content", windowSamples = 2, codec = M.WavCodec).head
      println(s"OK audio fp=(${fp.getInt(1)},${fp.getLong(2)},${fp.getLong(3)}) (expect (3,33,2))")
      // error path: side out of range
      val rej = try { M.imageHash(df, "id", "content", side = 0, codec = M.BmpCodec); false }
        catch { case _: IllegalArgumentException => true }
      println(s"OK side=0 rejected=$rej (expect true)")
    }

    println("=== 44. round-8: semantic decontam, robust outliers, decayed sums ===")
    locally {
      import spark.implicits._
      val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
        (3L, Seq(0.6f, 0.8f))).toDF("id", "vec")
      val bench = Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(0.8f, 0.6f)))
        .toDF("bid", "bvec")
      val hits = graft.dedup.Dedup.decontamSemantic(corpus, "id", "vec",
          bench, "bid", "bvec", tau = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      println(s"rows=${hits.size} semantic hits=$hits (expect List((1,1,10), (3,1,11)))")
      val rejTau =
        try { graft.dedup.Dedup.decontamSemantic(corpus, "id", "vec", bench, "bid", "bvec", 2.0); false }
        catch { case _: IllegalArgumentException => true }
      println(s"OK tau=2 rejected=$rejTau (expect true)")

      val vals = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 100L))
        .toDF("grp", "id", "v")
      val fl = graft.stats.GroupStats.robustOutliers(vals, Seq("grp"), "v", k = 3)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("is_outlier")).toMap
      println(s"rows=${fl.size} outlier flags, only-100=${fl == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true)} (expect true)")

      val ev = Seq((1L, 7L, 10L, 1L), (2L, 7L, 20L, 2L), (3L, 7L, 30L, 3L))
        .toDF("event_id", "user_id", "us", "v")
      val ds = graft.streaming.EventWindows.decayedSum(ev, "user_id", "us",
          "event_id", "v", steps = 2)
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("decay_sum")).toMap
      println(s"OK decayed sums=${ds.toSeq.sortBy(_._1)} (expect List((1,2), (2,5), (3,8)))")

      // integer k-means: two obvious blobs separate whatever the seeds
      val pts = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(0.01f, 0.0f)),
        (11L, Seq(1.0f, 1.0f)), (12L, Seq(0.99f, 1.0f))).toDF("id", "vec")
      val km = graft.ml.IntKMeans.assign(pts, "id", "vec", k = 2, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val split = km(1L) == km(2L) && km(11L) == km(12L) && km(1L) != km(11L)
      println(s"rows=${km.size} kmeans assignments, blobs-split=$split (expect true)")
      val rejK =
        try { graft.ml.IntKMeans.assign(pts, "id", "vec", k = 9, rounds = 1); false }
        catch { case _: IllegalArgumentException => true }
      println(s"OK k>N rejected=$rejK (expect true)")

      // 1-NN label agreement on a clean two-class layout
      val lab = Seq((1L, Seq(1.0f, 0.0f), "a"), (2L, Seq(0.9f, 0.1f), "a"),
        (3L, Seq(0.0f, 1.0f), "b"), (4L, Seq(0.1f, 0.9f), "b"))
        .toDF("id", "vec", "lbl")
      val acc = graft.ml.Eval.knnLabelAccuracy(lab, "id", "vec", "lbl")
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      println(s"rows=${acc.size} knn-eval classes, all-perfect=${acc.values.forall(_ == 1000000L)} (expect true)")
    }

    println("=== 45. round-8: classifier-eval metrics (confusion/PRF1/kappa/AUC) ===")
    locally {
      import spark.implicits._
      // 1-NN predictions feed the metric chain end-to-end
      val lab = Seq((1L, Seq(1.0f, 0.0f), "a"), (2L, Seq(0.9f, 0.1f), "a"),
        (3L, Seq(0.0f, 1.0f), "b"), (4L, Seq(0.1f, 0.9f), "b"),
        (5L, Seq(0.8f, 0.75f), "b")).toDF("id", "vec", "lbl")
      val pred = graft.ml.Eval.knnPredict(lab, "id", "vec", "lbl")
      val cm = graft.ml.Eval.confusion(pred, "actual", "predicted")
        .collect().map(r => (r.getString(0) + r.getString(1)) -> r.getLong(2)).toMap
      println(s"rows=${cm.size} confusion=$cm (expect Map(aa -> 2, bb -> 2, ba -> 1))")

      val rep = graft.ml.Eval.classificationReport(
          Seq(("a", "a"), ("a", "b"), ("a", "b"), ("b", "c")).toDF("act", "prd"),
          "act", "prd")
        .collect().map(r => r.getString(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      println(s"rows=${rep.size} report tp/fp/fn=$rep " +
        "(expect a->(1,0,2), b->(0,2,1), c->(0,1,0))")

      val kap = graft.ml.Eval.cohenKappa(
          (Seq.fill(45)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
           Seq.fill(25)(("b", "b")) ++ Seq.fill(25)(("b", "a"))).toDF("x", "y"),
          "x", "y").collect().head
      println(s"OK kappa_micro=${kap.getLong(4)} (expect 400000)")

      val auc = graft.ml.Eval.rocAuc(
          Seq((1, 4L), (1, 2L), (1, 2L), (0, 3L), (0, 2L), (0, 1L)).toDF("y", "sc"),
          "y", "sc").collect().head
      println(s"OK auc_micro=${auc.getLong(2)} pos=${auc.getLong(0)} neg=${auc.getLong(1)} (expect 666666, 3, 3)")
    }

    println("=== 46. round-9: per-group Spearman rank correlation ===")
    locally {
      import spark.implicits._
      // g1 is a perfect monotone pair (rho = 1), g2 a perfect inverse
      // (rho = -1), g3 has one swap: d² = (0,2,2,0) on doubled ranks
      // -> Σd²=2, rho = 1 - 12/(4·15) = 0.8
      val df = Seq(
        ("g1", 1L, 10L), ("g1", 2L, 20L), ("g1", 3L, 30L),
        ("g2", 1L, 30L), ("g2", 2L, 20L), ("g2", 3L, 10L),
        ("g3", 1L, 1L), ("g3", 2L, 3L), ("g3", 3L, 2L), ("g3", 4L, 4L))
        .toDF("g", "x", "y")
      val rho = graft.stats.GroupStats.spearman(df, Seq("g"), "x", "y")
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      println(s"OK spearman=$rho (expect g1 -> 1000000, g2 -> -1000000, g3 -> 800000)")
    }

    println("=== 47. round-9: compaction vacuum + training-shard export ===")
    locally {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i.toLong % 20, i.toLong, s"p$i"))
        .toDF("k", "id", "pay")
      def tmpd() = java.nio.file.Files.createTempDirectory("drive_vacuum").toString
      graft.layout.Bucketed.writeBucketed(
        rows.where($"id" % 2 === 0), "drive_vac_t", tmpd(), Seq("k"), 4)
      rows.where($"id" % 2 === 1).repartition(2)
        .write.format("parquet").bucketBy(4, "k").sortBy("k")
        .mode("append").saveAsTable("drive_vac_t")
      val cs = graft.layout.Compact.compactBucketed(spark, "drive_vac_t", tmpd())
      val vs = graft.layout.Compact.vacuum(spark, cs.previousLocation)
      val gone = !new java.io.File(
        java.net.URI.create(cs.previousLocation)).exists()
      println(s"OK vacuum removed files=${vs.filesRemoved} bytes>0=${vs.bytesRemoved > 0} " +
        s"oldGone=$gone liveRows=${spark.table("drive_vac_t").count()} (expect oldGone=true, liveRows=200)")
      val refused = try { graft.layout.Compact.vacuum(spark,
        graft.layout.Compact.tableLocation(spark, "drive_vac_t").toString); "NO"
      } catch { case e: IllegalArgumentException
          if e.getMessage.contains("currently live") => "refused" }
      println(s"OK live-location vacuum $refused (expect refused)")

      val sh = graft.curation.Shards.assign(
        rows.select($"id", ($"id" % 7 + 1).as("w")), "id", "w", 4)
      val man = graft.curation.Shards.manifest(sh)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      println(s"OK shards manifest=$man rows=${sh.count()} " +
        "(expect 4 shards, masses within one doc of total/4)")
      val ws = graft.curation.Shards.writeShards(sh,
        java.nio.file.Files.createTempDirectory("drive_shards").toString, 4)
      println(s"OK writeShards=$ws (expect shards=4, dataFiles=4, rows=200)")
    }

    println("=== 48. round-9: novelty scoring + winsorization ===")
    locally {
      import spark.implicits._
      val nov = graft.text.TextFunctions.noveltyScores(
        Seq((1L, "a b c"), (2L, "b c d"), (3L, "a b c d"))
          .toDF("doc_id", "text"), "doc_id", "text", n = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      println(s"OK novelty=$nov (expect 1 -> 1000000, 2 -> 500000, 3 -> 0)")
      val win = graft.stats.GroupStats.winsorize(
        (1 to 10).map(v => ("g", v.toLong)).toDF("grp", "v"),
        Seq("grp"), "v", 10, 90, "w")
        .collect().map(_.getLong(2)).sorted.toList
      println(s"OK winsorized=$win (expect 1..9 then 9)")
    }

    println("=== 49. round-9: global rank + mixture epoch plan ===")
    locally {
      import spark.implicits._
      val gini = graft.stats.GroupStats.gini(
        Seq(("g", 0L, 1L), ("g", 0L, 2L), ("g", 0L, 3L), ("g", 4L, 4L))
          .toDF("g", "v", "id"), Seq("g"), "v", "id")
        .collect().head.getLong(3)
      println(s"OK gini_micro=$gini (expect 750000 — one row holds all mass)")

      val pr = graft.stats.GroupStats.groupPercentRank(
        Seq(("a", 10L, 1L), ("a", 20L, 2L), ("a", 30L, 3L))
          .toDF("g", "v", "id"), Seq("g"), "v", "id")
        .collect().map(r => r.getLong(2) -> r.getLong(4)).toMap
      println(s"OK percentRank=$pr (expect 1 -> 0, 2 -> 500000, 3 -> 1000000)")

      val gr = graft.stats.GroupStats.globalRank(
        Seq((5L, 1L), (5L, 2L), (9L, 3L), (1L, 4L)).toDF("s", "id"),
        "s", "id", "rank", descending = true)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      println(s"OK globalRank=$gr (expect 3 -> 0, 1 -> 1, 2 -> 2, 4 -> 3)")
      val plan = graft.curation.Sampling.epochPlan(
        Seq(("a", 50L), ("a", 50L), ("b", 400L)).toDF("src", "tok"),
        "src", "tok",
        Seq(("a", 3L), ("b", 1L), ("ghost", 4L)).toDF("s", "wt"),
        "s", "wt", targetTokens = 800L)
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
      println(s"OK epochPlan=$plan (expect a -> 3000000, b -> 250000, ghost -> -1/NULL)")
      val refused = try { graft.curation.Sampling.epochPlan(
        Seq(("a", 1L)).toDF("src", "tok"), "src", "tok",
        Seq(("a", 0L)).toDF("s", "wt"), "s", "wt", 100L).collect(); "NO"
      } catch { case e: Exception
          if e.getMessage.contains("sum to zero") => "refused" }
      println(s"OK zero-weight plan $refused (expect refused)")

      val norm = graft.streaming.StreamingDedup.firstPerNormalized(
        Seq((2L, "HELLO world", 5L), (1L, "hello, world!", 0L),
          (3L, "bbb", 1L)).toDF("id", "text", "ts"), "text", "ts")
        .collect().map(_.getLong(0)).sorted.toList
      println(s"OK firstPerNormalized=$norm (expect List(1, 3))")

      val negs = graft.curation.Sampling.negativeSamples(
        Seq((1L, 10L), (1L, 11L)).toDF("u", "it"),
        (10L to 19L).toDF("it"), "u", "it", k = 3)
        .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toList
      println(s"OK negatives=$negs rows=${negs.size} " +
        "(expect 3 deterministic non-positive items, ranks 1..3)")

      val lines = graft.streaming.EventWindows.sessionLines(
        Seq(("2024-01-01 10:00:00", "a", 1L, "view"),
          ("2024-01-01 10:10:00", "a", 2L, "click"),
          ("2024-01-01 12:30:00", "a", 3L, "purchase"))
          .toDF("t", "user_id", "event_id", "event_type")
          .selectExpr("timestamp(t) ts", "user_id", "event_id", "event_type"),
        gap = "1 hour")
        .collect().map(_.getString(4)).sorted.toList
      println(s"OK sessionLines=$lines (expect List(purchase, view click))")

      val mmr = graft.similarity.Similarity.mmrRerank(
        Seq((100L, Seq(0.8f, 0.6f))).toDF("id", "vec"),
        Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.14f)),
          (3L, Seq(0.7f, 0.71f))).toDF("id", "vec"),
        "id", "vec", k = 3, shortlist = 3, lambdaPpm = 500000L)
        .orderBy("rnk").collect().map(_.getLong(2)).toList
      println(s"OK mmr order=$mmr (expect List(3, 1, 2) — rank 2 trades " +
        "relevance for distance)")
    }

    println("=== 50. round-10: tie-corrected Spearman + bounded BPE default ===")
    locally {
      import spark.implicits._
      // x and y tie in the SAME rows -> average ranks coincide ->
      // tie-corrected rho reaches exactly 1e6 (the no-tie normalizer
      // cannot); mixed ties -> hand value 948683 (see GroupStatsSpec)
      val tied = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 2L, 20L),
        ("g", 4L, 40L)).toDF("g", "x", "y")
      val r1 = graft.stats.GroupStats.spearman(tied, Seq("g"), "x", "y",
        tieCorrected = true).collect().head.getLong(2)
      println(s"OK tieCorrected rho(perfect-tied)=$r1 (expect 1000000)")
      val mixed = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 2L, 30L),
        ("g", 4L, 40L)).toDF("g", "x", "y")
      val r2 = graft.stats.GroupStats.spearman(mixed, Seq("g"), "x", "y",
        tieCorrected = true).collect().head.getLong(2)
      println(s"OK tieCorrected rho(mixed)=$r2 (expect 948683)")
      // bounded BPE default: cut to the single most frequent word
      val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
      val cut = graft.text.Bpe.train(docs, "text", rounds = 1, maxWords = 1)
      println(s"OK bpe maxWords=1 top merge count=${cut.head.count} " +
        s"(expect 3 — only `low` survives the cut; default cap=" +
        s"${graft.text.Bpe.DefaultMaxWords})")
    }

    println("=== 51. round-11: real MJPEG-in-AVI demux (RIFF walk) ===")
    locally {
      import spark.implicits._
      import graft.multimodal.Multimodal
      import Multimodal.AviCodec
      def fr(i: Int, len: Int): Array[Byte] =
        Array.tabulate(len)(j => ((i * 17 + j * 7) % 256).toByte)
      val avi = AviCodec.encode(320, 240, 25, Seq(fr(0, 15), fr(1, 16), fr(2, 17)))
      val meta = AviCodec.decode(avi)
      println(s"OK avi meta=(${meta.getString(0)},${meta.getInt(1)}x${meta.getInt(2)}," +
        s"${meta.getLong(4)}ms,${meta.getInt(5)}f) (expect (video,320x240,120ms,3f))")
      val rows = Seq((1L, avi), (2L, "not a video".getBytes)).toDF("id", "content")
      val frames = Multimodal.demuxFrames(rows, "id", "content", everyN = 2,
        codec = AviCodec)
        .select($"asset_id", $"frame_index", length($"frame"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toList
      println(s"OK demuxFrames=$frames (expect List((1,0,15), (1,1,17)) — " +
        "kept-frame indexing, non-video emits nothing)")
      val bad = AviCodec.decode("garbage".getBytes)
      println(s"OK garbage decode=${bad.getString(0)} (expect unknown)")
    }

    println("=== 52. round-12: MP4 metadata walk + video demux→decode tiles ===")
    locally {
      import spark.implicits._
      import graft.multimodal.Multimodal
      val mp4 = Multimodal.Mp4Codec.encode("vide", 1280, 720, 600, 3600)
      val m = Multimodal.Mp4Codec.decode(mp4)
      println(s"OK mp4 meta=(${m.getString(0)},${m.getInt(1)}x${m.getInt(2)}," +
        s"${m.getLong(4)}ms) (expect (video,1280x720,6000ms))")
      println(s"OK mp4 garbage=${Multimodal.Mp4Codec.decode("junk".getBytes).getString(0)} " +
        "(expect unknown)")
      // container of real BMP frames: demux → decode → per-frame tiles
      val bmp0 = Multimodal.BmpCodec.encode(8, 4, (x, y) => (x * 30 + y * 60) << 16)
      val bmp1 = Multimodal.BmpCodec.encode(8, 2, (_, _) => 0x102030)
      val avi = Multimodal.AviCodec.encode(8, 4, 10, Seq(bmp0, bmp1))
      val frames = Multimodal.demuxFrames(Seq((3L, avi)).toDF("id", "content"),
          "id", "content", everyN = 1, codec = Multimodal.AviCodec)
        .select((col("asset_id") * 16 + col("frame_index")).as("fid"), col("frame"))
      val tiles = Multimodal.imageTileStats(frames, "fid", "frame",
          tileW = 4, tileH = 2, Multimodal.BmpCodec)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(6)).toMap
      // frame 1 (fid 49) is uniform R=0x10=16: every tile mean_r = 16
      println(s"OK videoTiles frame1 meanR=${tiles((49L, 0, 0))},${tiles((49L, 1, 0))} " +
        s"nTiles=${tiles.size} (expect 16,16, nTiles=6)")
      // per-frame aHash: a uniform frame has gray == mean everywhere →
      // all 64 bits set (hi = lo = 0xFFFFFFFF)
      val hashes = Multimodal.imageHash(frames, "fid", "frame",
          side = 8, codec = Multimodal.BmpCodec)
        .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
      println(s"OK videoPhash frame1=${hashes(49L)} nFrames=${hashes.size} " +
        "(expect (4294967295,4294967295), nFrames=2)")
    }

    println("=== 53. round-12: unigram EM trajectory + artifact ===")
    locally {
      import graft.text.Unigram
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val m0 = Unigram.train(docs, "text", vocabSize = 32, maxPieceLen = 4)
      val r = Unigram.emTrain(docs, "text", m0, rounds = 2)
      val mono = r.llMicro.sliding(2).forall { case Array(a, b) => b >= a }
      println(s"OK emTrain llMicro=${r.llMicro.mkString(",")} monotone=$mono " +
        "(expect 3 entries, monotone=true)")
      val path = java.nio.file.Files.createTempDirectory("drv_unigram").toString + "/m"
      graft.ml.ModelStore.saveUnigram(spark, r, path)
      val back = graft.ml.ModelStore.loadUnigram(spark, path)
      val rt = back.model.pieces == r.model.pieces &&
        back.llMicro.toSeq == r.llMicro.toSeq
      println(s"OK unigram artifact roundtrip=$rt (expect true)")
    }

    println("=== 54. round-13: tolerant ISO-BMFF walk + factoring breadth ===")
    locally {
      import graft.multimodal.Multimodal.Mp4Codec
      // non-canonical layout: free before ftyp, trak before mvhd, udta
      // padding — the tolerant walk must read the same fields
      def u32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def bx(t: String, p: Array[Byte]) = u32(8L + p.length) ++ t.getBytes ++ p
      val moov = bx("moov",
        bx("udta", "pad".getBytes) ++
          bx("trak", bx("tkhd", new Array[Byte](76) ++ u32(640L << 16) ++ u32(360L << 16)) ++
            bx("mdia", bx("mdhd", new Array[Byte](12) ++ u32(48000) ++ new Array[Byte](8)) ++
              bx("hdlr", new Array[Byte](8) ++ "vide".getBytes ++ new Array[Byte](13)))) ++
          bx("mvhd", new Array[Byte](12) ++ u32(600) ++ u32(1500) ++ new Array[Byte](80)))
      val f = bx("free", new Array[Byte](4)) ++
        bx("ftyp", "isom".getBytes ++ u32(0x200)) ++ moov
      val m = Mp4Codec.decode(f)
      println(s"OK shuffled mp4=(${m.getString(0)},${m.getInt(1)}x${m.getInt(2)}," +
        s"${m.getLong(4)}ms) (expect (video,640x360,2500ms))")
      println(s"OK trailing-garbage mp4=${Mp4Codec.decode(f ++ Array[Byte](1, 2, 3)).getString(0)} " +
        "(expect unknown)")
      // factoring breadth on the public transformer surface: <=> keys
      // (null matches null) and a right-only IN-list restriction
      import spark.implicits._
      Seq((1L, Option(10L), 0.0, 0.0), (2L, Option.empty[Long], 1.0, 0.0),
        (3L, Option(30L), 2.0, 0.0))
        .toDF("poi_id", "cat", "plon", "plat").createOrReplaceTempView("drv_eq_poi")
      val inp = Seq((101L, Option(10L), 0.1, 0.0), (102L, Option.empty[Long], 1.1, 0.0))
        .toDF("cid", "ccat", "lon", "lat")
      val ns = new graft.transformer.BroadcastSpatialJoin()
        .setDataset("drv_eq_poi").setDatasetPoint("plon, plat").setInputPoint("lon, lat")
        .setDataColumns("poi_id").setBroadcast("dataset").setPredicate("nearest")
        .setJoinCondition("right.cat <=> left.ccat")
        .transform(inp).collect().map(r => (r.getLong(0), r.getLong(4))).sorted.toSeq
      println(s"OK nullsafe join=$ns (expect List((101,1), (102,2)) — null key matched)")
      val inl = new graft.transformer.BroadcastSpatialJoin()
        .setDataset("drv_eq_poi").setDatasetPoint("plon, plat").setInputPoint("lon, lat")
        .setDataColumns("poi_id").setBroadcast("dataset").setPredicate("nearest")
        .setJoinCondition("right.cat in (30)")
        .transform(inp).collect().map(r => (r.getLong(0), r.getLong(4))).sorted.toSeq
      println(s"OK in-list join=$inl (expect List((101,3), (102,3)) — index restricted)")
    }

    println("=== 55. round-14: left-outer grid kNN (k>1) + ANSI-safe factoring ===")
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, expr}
      import graft.functions.GeoExpressions
      // "top-2 nearest, keep the matchless": grp 9 probe matches nothing
      val inp = Seq((1L, 0.1, 0.1, 0), (2L, 0.2, 0.3, 1), (3L, 5.0, 5.0, 9))
        .toDF("cid", "lon", "lat", "grp")
      val poi = Seq((10L, 0.15, 0.12, 0), (11L, 0.3, 0.2, 0),
        (12L, 0.22, 0.28, 1), (13L, 0.4, 0.4, 1))
        .toDF("poi_id", "plon", "plat", "pgrp")
      val knnL = graft.join.GridNearestJoin.knearest(
        inp, poi,
        GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbPoint(col("plon"), col("plat")),
        k = 2, tieBreak = Some(col("poi_id")),
        condition = Some(col("grp") === col("pgrp")), joinType = "left")
        .select("cid", "poi_id", "knn_rank").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
      println(s"rows=${knnL.size} left-outer knn=$knnL " +
        "(expect 5: cid 1/2 ranked twice, cid 3 once all-null)")
      // ANSI-safe factoring: the far bad candidate's CAST never pairs →
      // never throws (pre-r14 the eager ekey stamp failed the query)
      val badr = Seq(("p1", 0.15, 0.12, "1"), ("badp", 50.0, 50.0, "xx"))
        .toDF("poi_id2", "plon", "plat", "pcode")
      val ansiOk = graft.join.GridNearestJoin.nearest(
        Seq(("a", 0.1, 0.1, 1)).toDF("id", "lon", "lat", "code"), badr,
        GeoExpressions.wkbPoint(col("lon"), col("lat")),
        GeoExpressions.wkbPoint(col("plon"), col("plat")),
        condition = Some(expr("CAST(pcode AS INT) = code")))
        .select("id", "poi_id2").collect().map(_.getString(1)).toSeq
      println(s"OK ansi-safe grid factoring=$ansiOk (expect List(p1), no CAST throw)")
    }

    println("=== 56. round-14: tolerant RIFF/WAV walk + fragmented MP4 ===")
    locally {
      import graft.multimodal.Multimodal.{Mp4Codec, WavCodec}
      // WAV with shuffled/padded chunks: JUNK between fmt and data,
      // trailing LIST — must decode like the canonical twin
      def le(v: Int, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
      def chunk(id: String, p: Array[Byte]) =
        id.getBytes ++ le(p.length, 4) ++ p ++ (if (p.length % 2 == 1) Array[Byte](0) else Array[Byte]())
      val fmt = le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++ le(16000, 4) ++ le(2, 2) ++ le(16, 2)
      val body = chunk("fmt ", fmt) ++ chunk("JUNK", le(7, 3)) ++
        chunk("data", le(11, 2) ++ le(22, 2)) ++ chunk("LIST", "INFOab".getBytes)
      val wav = "RIFF".getBytes ++ le(4 + body.length, 4) ++ "WAVE".getBytes ++ body
      val wm = WavCodec.decode(wav)
      println(s"OK shuffled wav=(${wm.getString(0)},${wm.getInt(3)}Hz," +
        s"samples=${WavCodec.audioSamples(wav).toSeq}) (expect (audio,8000Hz,Vector(11, 22)))")
      // fragmented MP4: mvhd duration 0 + moof → fragmented=true, NULL duration
      def u32be(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def bx(t: String, p: Array[Byte]) = u32be(8L + p.length) ++ t.getBytes ++ p
      val frag = bx("ftyp", "isom".getBytes ++ u32be(0x200)) ++
        bx("moov", bx("mvhd", new Array[Byte](12) ++ u32be(600) ++ u32be(0) ++ new Array[Byte](80)) ++
          bx("mvex", new Array[Byte](8)) ++
          bx("trak", bx("tkhd", new Array[Byte](76) ++ u32be(320L << 16) ++ u32be(240L << 16)) ++
            bx("mdia", bx("mdhd", new Array[Byte](12) ++ u32be(600) ++ new Array[Byte](8)) ++
              bx("hdlr", new Array[Byte](8) ++ "vide".getBytes ++ new Array[Byte](13))))) ++
        bx("moof", new Array[Byte](16))
      val fm = Mp4Codec.decode(frag)
      println(s"OK fragmented mp4=(${fm.getString(0)},${fm.getInt(1)}x${fm.getInt(2)}," +
        s"durNull=${fm.isNullAt(4)},frag=${fm.getBoolean(6)}) " +
        "(expect (video,320x240,durNull=true,frag=true))")
    }

    println("=== 57. round-14: tolerant BMP header walk ===")
    locally {
      import graft.multimodal.Multimodal.BmpCodec
      // V4 header, 32 bpp BGRA, TOP-DOWN, BI_BITFIELDS with canonical
      // masks — must decode pixel-identically to the canonical 24 bpp
      // bottom-up encoding of the same logical image
      def le(v: Int, n: Int) = (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
      def pix(x: Int, y: Int) = ((x * 50) << 16) | ((y * 60) << 8) | (x + y * 3)
      val (w, h) = (3, 2)
      val canon = BmpCodec.encode(w, h, pix)
      val hdr = "BM".getBytes ++ le(14 + 108 + w * h * 4, 4) ++ le(0, 4) ++ le(122, 4) ++
        le(108, 4) ++ le(w, 4) ++ le(-h, 4) ++ le(1, 2) ++ le(32, 2) ++ le(3, 4) ++
        le(w * h * 4, 4) ++ le(2835, 4) ++ le(2835, 4) ++ le(0, 4) ++ le(0, 4) ++
        le(0xFF0000, 4) ++ le(0xFF00, 4) ++ le(0xFF, 4) ++ le(0xFF000000.toInt, 4) ++
        new Array[Byte](52)
      val pxTd = (0 until h).flatMap(y => (0 until w).flatMap { x =>
        val p = pix(x, y)
        Seq(p.toByte, (p >> 8).toByte, (p >> 16).toByte, 0xFF.toByte)
      }).toArray
      val v4 = hdr ++ pxTd
      val m = BmpCodec.decode(v4)
      val same = BmpCodec.imageBgr(v4).bgr.toSeq == BmpCodec.imageBgr(canon).bgr.toSeq
      println(s"OK v4-topdown-32bpp bmp=(${m.getString(0)},${m.getInt(1)}x${m.getInt(2)}," +
        s"pixelsMatchCanonical=$same) (expect (image,3x2,pixelsMatchCanonical=true))")
      // swapped masks stay outside the whitelist
      val swapped = v4.clone()
      System.arraycopy(le(0xFF, 4), 0, swapped, 54, 4)
      System.arraycopy(le(0xFF0000, 4), 0, swapped, 62, 4)
      println(s"OK swapped-mask bmp=${BmpCodec.decode(swapped).getString(0)} (expect unknown)")
    }

    spark.stop()
  }
}
