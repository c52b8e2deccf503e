package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.WordShingles
import graft.text.TextFunctions

/**
 * Document deduplication operators for training-data pipelines:
 *
 *  - [[exactCanon]]: exact duplicate grouping (hash-groupBy semantics);
 *  - [[jaccardPairs]]: exact word-n-gram Jaccard near-dup pairs via a
 *    shingle inverted-index join — the exact-answer path;
 *  - [[minhashPairs]]: MinHash + LSH banding candidate generation with
 *    exact Jaccard verification — the 100 TB path (candidates shrink the
 *    quadratic pair space to near-linear; every emitted pair is exact).
 *
 * All plans are pure DataFrame ops plus two codegen'd native expressions
 * (WordShingles, MinhashSignature): narrow maps + shuffles keyed on
 * digests/shingles, no driver-side collection, no UDFs. Emitted pair
 * results are exact Jaccard values — single IEEE divisions of integer
 * counts, reproducible bit-for-bit by an external SQL oracle.
 *
 * Scale notes (100 TB):
 *  - exactCanon shuffles 16-byte digests, never full texts;
 *  - jaccardPairs is quadratic per hot shingle — cap blowup with
 *    `maxDocFreq` (drops shingles shared by more than that many docs;
 *    high-Jaccard pairs always share rarer shingles too) or prefer
 *    minhashPairs, whose band join is linear in candidates;
 *  - minhashPairs verification joins shingle *arrays* (bounded per doc),
 *    not the inverted index, so the verify stage is linear in candidates.
 */
object Dedup {

  /** For every row: the minimum id among rows with byte-identical text.
    * Shuffles md5 digests (16 bytes/row), not text payloads.
    *
    * Shape: groupBy(digest).agg(min(id)) + equi-join back — NOT a
    * min-over-window-partitionBy(digest). The window form sends every row
    * of a duplicate cluster to ONE task and sorts it there (no partial
    * aggregation, and AQE cannot split a window partition), so a
    * 100M-copy boilerplate cluster at 100 TB becomes a single straggler
    * task. The aggregate form collapses a hot digest to one row per map
    * task before the shuffle, and the join back is a plain equi-join
    * that AQE's skewed-join split CAN break into mapper-range chunks
    * (pinned by DedupSkewSpec with a pathological single-text cluster).
    *
    * The aggregation groups by (digest, prefix-of-digest). The derived
    * second key changes nothing semantically (it is constant within a
    * digest) but keeps the agg's output partitioning from satisfying the
    * join's requirement, so the canon side re-shuffles its AGGREGATED
    * rows (one per distinct digest — negligible) through a join-owned
    * ENSURE_REQUIREMENTS exchange. Without it, Spark fuses the final
    * aggregate into the join stage and OptimizeSkewedJoin's
    * Sort+ShuffleRead pattern never matches — the hot probe partition
    * would run as one giant task after all. */
  def exactCanon(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // unhex: a true 16-byte binary digest, not the 32-char hex string —
    // ~40% narrower rows through both digest shuffles. NULL text maps to
    // the EMPTY binary (no md5 is ever empty), so null-text rows form
    // their own group and survive the join back — a bare null digest
    // would silently drop them (equi-join keys never match on null),
    // whereas the window form this replaced kept them.
    val digest =
      coalesce(unhex(md5(col(textCol).cast("binary"))), lit(Array.emptyByteArray))
    val digests = df.select(col(idCol), digest.as("__digest"))
    val canon = digests
      .groupBy(col("__digest"), substring(col("__digest"), 1, 2))
      .agg(min(col(idCol)).as("canon_id"))
      .select(col("__digest"), col("canon_id"))
    digests.join(canon, "__digest").select(col(idCol), col("canon_id"))
  }

  /**
   * [[exactCanon]] with a KEEP POLICY: the canonical row per distinct
   * text is the one with the best `scoreCol` (largest when
   * `descending`, the default — "keep the freshest recrawl", "keep the
   * highest-quality copy"), ties broken by ascending id. Output:
   * `(idCol, canon_id)` — same contract and same skew-safe
   * agg+join-back shape as [[exactCanon]]; rows with a NULL score are
   * excluded from keeper SELECTION but still map to their digest's
   * keeper (a null-scored copy never wins, never disappears). If every
   * copy of a text has a null score the group keeps the minimum id.
   */
  def exactCanonBy(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, descending: Boolean = true): DataFrame = {
    val digest =
      coalesce(unhex(md5(col(textCol).cast("binary"))), lit(Array.emptyByteArray))
    val digests = df.select(col(idCol), col(scoreCol).as("__score"), digest.as("__digest"))
    val ord = if (descending) negate(col("__score")) else col("__score")
    val canon = digests
      .groupBy(col("__digest"), substring(col("__digest"), 1, 2))
      .agg(
        min(when(col("__score").isNotNull, struct(ord.as("s"), col(idCol).as("i"))))
          .as("__best"),
        min(col(idCol)).as("__minid"))
      .select(col("__digest"),
        coalesce(col("__best.i"), col("__minid")).as("canon_id"))
    digests.join(canon, "__digest").select(col(idCol), col("canon_id"))
  }

  /** Canonical-survivor ids only: the minimum id per distinct text. One
    * map-side-combined aggregation, no join back — the right operand for
    * "keep canonical rows" compositions ([[graft.api.PyFacade.curate]]),
    * which semi-join the input against this instead of computing
    * [[exactCanon]]'s full row→canon mapping and filtering id == canon. */
  def canonIds(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), unhex(md5(col(textCol).cast("binary"))).as("__digest"))
      .groupBy(col("__digest")).agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /**
   * [[exactCanon]] on arbitrary PRE-COMPUTED key columns — the consumer
   * for signature-style dedup where equality of a derived fingerprint
   * (not of the payload) defines "duplicate": perceptual image hashes
   * ([[graft.multimodal.Multimodal.imageHash]]), audio energy
   * fingerprints ([[graft.multimodal.Multimodal.audioFingerprint]]),
   * normalized-field tuples. Output: every input id mapped to the
   * minimum id sharing its whole key tuple, `(idCol, canon_id)`.
   *
   * Same skew-safe agg+join-back shape as [[exactCanon]] (map-side
   * combine collapses a hot key before the shuffle; the join back is
   * AQE-splittable). Keys join back NULL-SAFELY (`<=>`), so rows whose
   * key tuple contains nulls form ordinary groups instead of silently
   * dropping — the [[exactCanon]] empty-digest convention generalized.
   * At 100 TB only (id, keys) slim rows shuffle; the payload never moves.
   */
  def keyCanon(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCanon needs at least one key column")
    require(!keyCols.contains(idCol), s"id column $idCol cannot also be a key")
    val keys = df.select((idCol +: keyCols).map(col): _*)
    // the agg side renames its keys before the join back: a same-name
    // self-join would resolve both sides to one attribute (trivially
    // true), and fresh names sidestep the ambiguity entirely
    val canon = keys.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("canon_id"))
      .select(keyCols.zipWithIndex.map { case (k, i) => col(k).as(s"__k$i") } :+
        col("canon_id"): _*)
    keys.join(canon,
        keyCols.zipWithIndex.map { case (k, i) => col(k) <=> col(s"__k$i") }
          .reduce(_ && _))
      .select(col(idCol), col("canon_id"))
  }

  /** (docId, shingleArray) projection shared by the dedup operators.
    * Tokens materialize as a column first: higher-order lambdas over a bound
    * array column evaluate it once per row, whereas inlining the tokenizer
    * expression would re-tokenize per shingle position (O(tokens²)). */
  private def shingled(df: DataFrame, idCol: String, textCol: String, n: Int) =
    df.select(col(idCol).as("doc"), col(textCol).as("txt"))
      // spread docs across the cluster before the expensive fan-out stages:
      // a small input file would otherwise pin explode/join work to its few
      // scan partitions (shuffles only (id, text) pairs). Kept as the keyed
      // repartition after an r14 A/B: swapping it for the pair kernels'
      // spreadCompute (round-robin, AQE-uncoalescible) measured NET WORSE
      // across the shingle family (×1.08 — the round-robin pre-sort plus
      // pinned 32-task stages cost more than parallel shingling saves at
      // this per-row weight; the vector kernels' per-row work is heavier)
      .repartition(col("doc"))
      // codegen'd native expression — the composed higher-order built-ins
      // run interpreted and cost ~10x more (see graft.functions.WordShingles)
      .select(col("doc"), WordShingles.wordShingles(col("txt"), n).as("sh"))

  /** Exact Jaccard: one IEEE division of exact integer counts — identical
    * in any engine. */
  private def jaccard(inter: Column, na: Column, nb: Column): Column =
    inter.cast("double") / (na + nb - inter).cast("double")

  /**
   * All pairs (i < j) with word-n-gram Jaccard similarity >= tau, exactly.
   * Inverted-index join on shingles → per-pair intersection counts →
   * Jaccard filter. Output: (doc_i, doc_j, jac).
   *
   * @param maxDocFreq if set, shingles occurring in more than this many
   *        documents are dropped before the pair join (skew guard; exact
   *        results require it unset).
   */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double, n: Int = 3, maxDocFreq: Option[Int] = None): DataFrame =
    shinglePairCounts(df, idCol, textCol, n, maxDocFreq)
      .select(col("doc_i"), col("doc_j"), jaccard(col("c"), col("ni"), col("nj")).as("jac"))
      .where(col("jac") >= tau)

  /**
   * All pairs (i < j) whose word-n-gram MAX-CONTAINMENT
   * `|A ∩ B| / min(|A|, |B|)` >= tau, exactly — near-superset detection.
   * A document QUOTING or boilerplate-wrapping another shares nearly all
   * of the smaller side's shingles while Jaccard (÷ union) stays low
   * (a 10x-longer wrapper caps Jaccard near 0.1), so threshold-based
   * Jaccard dedup misses exactly the containment cases training-data
   * curation cares about. Same single-shuffle inverted-index shape, skew
   * cap, and exact-IEEE-division contract as [[jaccardPairs]].
   * Output: (doc_i, doc_j, cont).
   */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double, n: Int = 3, maxDocFreq: Option[Int] = None): DataFrame =
    shinglePairCounts(df, idCol, textCol, n, maxDocFreq)
      .select(col("doc_i"), col("doc_j"),
        (col("c").cast("double") / least(col("ni"), col("nj")).cast("double")).as("cont"))
      .where(col("cont") >= tau)

  /**
   * [[jaccardPairs]] through PREFIX FILTERING (SSJoin/PPJoin family,
   * Chaudhuri et al. ICDE 2006, Xiao et al. WWW 2008): identical exact
   * output — all pairs (i < j) with word-n-gram Jaccard >= tau — but
   * the quadratic pair join runs over each document's rarity-ordered
   * PREFIX only, |prefix| = |sh| − ceil(tau·|sh|) + 1, instead of the
   * full inverted index.
   *
   * Why the result is still exact: jac(A,B) >= tau forces
   * |A∩B| >= ceil(tau·max(|A|,|B|)) (intersection over a union that is
   * at least the larger set, and the count is integral). Under ANY
   * global total order on shingles, if two sets must share alpha
   * elements, their prefixes of length |X| − alpha + 1 must intersect
   * (all shared elements past BOTH prefixes leaves at most alpha − 1 of
   * them). The per-doc prefix uses the weakest partner bound
   * alpha = ceil(tau·|X|) <= the true pair bound, so every qualifying
   * pair collides on >= 1 prefix shingle; [[verifyJaccard]] then
   * recomputes the exact Jaccard on the full shingle arrays, discarding
   * false candidates. The ordering is (global document frequency asc,
   * shingle asc) — rarest first, so hot boilerplate shingles fall OUT
   * of prefixes and the hot-key pair blowup [[jaccardPairs]] needs
   * `maxDocFreq` for never reaches the join. A size filter
   * (tau·|A| <= |B| <= |A|/tau, necessary for jac >= tau) prunes at
   * the join, before any aggregation.
   *
   * Cost vs [[jaccardPairs]] at 100 TB: both shuffle the full index
   * once (here: the docfreq join); the pair-join input shrinks from all
   * index rows to prefix rows (at tau = 0.8: ~20% of them, skewed AWAY
   * from hot shingles), and the per-pair work drops from one row per
   * SHARED SHINGLE (then a count aggregation) to one row per shared
   * PREFIX shingle followed by a bounded array intersect — no
   * quadratic-in-docfreq term survives without any lossy cap.
   */
  def jaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double, n: Int = 3,
      materialize: DataFrame => DataFrame = _.localCheckpoint(false)): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    // snapshot: consumed by the inverted index (twice — dfreq + prefix)
    // and both verify sides; see minhashPairs (r14)
    val sh = materialize(shingled(df, idCol, textCol, n).where(size(col("sh")) > 0))
    val inv = sh.select(col("doc"), explode(col("sh")).as("s"))
    // global shingle document frequencies: map-side-combined agg, slim rows
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    // rarity-rank each doc's shingles, keep the prefix; the (df, s) sort
    // key is a deterministic global total order (ties broken by shingle)
    val prefix = inv.hint("shuffle_hash").join(dfreq.hint("shuffle_hash"), "s")
      .groupBy("doc")
      .agg(collect_list(struct(col("df"), col("s"))).as("ranked"),
        count(lit(1)).as("nsh"))
      .select(col("doc"), col("nsh"),
        explode(slice(array_sort(col("ranked")), lit(1),
          (col("nsh") - ceil(lit(tau) * col("nsh")) + 1).cast("int"))).as("ps"))
      .select(col("doc"), col("nsh"), col("ps.s").as("s"))
    val cands = prefix.as("a").hint("shuffle_hash")
      .join(prefix.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc")
          // length filter: |B| in [tau·|A|, |A|/tau] is necessary for
          // jac >= tau — kills mismatched-size candidates pre-shuffle-out
          && col("b.nsh") >= ceil(lit(tau) * col("a.nsh"))
          && col("a.nsh") >= ceil(lit(tau) * col("b.nsh")))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"))
      .dropDuplicates("doc_i", "doc_j")
    verifyJaccard(cands, sh, sh, tau, gauge = df)
  }

  /** Shared inverted-index core: per candidate pair (i < j), the exact
    * shingle-intersection count plus both sides' shingle-set sizes —
    * (doc_i, doc_j, ni, nj, c). Single-pass index carrying each doc's
    * shingle count (no separate sizes join; the self-join's two branches
    * share one shuffle — identical canonical plans → ReuseExchange). */
  private def shinglePairCounts(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocFreq: Option[Int]): DataFrame = {
    val inv0 = shingled(df, idCol, textCol, n)
      .select(col("doc"), size(col("sh")).as("nsh"), explode(col("sh")).as("s"))
    val inv = maxDocFreq.fold(inv0) { cap =>
      val hot = inv0.groupBy("s").agg(count(lit(1)).as("df")).where(col("df") > cap).select("s")
      inv0.join(broadcast(hot), Seq("s"), "left_anti")
    }
    // shuffle-hash: at scale the inverted index must never broadcast, and
    // hash beats sort-merge here (no ordering needed, bounded bucket sizes)
    inv.as("a").hint("shuffle_hash")
      .join(inv.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"),
        col("a.nsh").as("ni"), col("b.nsh").as("nj"))
      .agg(count(lit(1)).as("c"))
  }

  /**
   * Exact-substring dedup: all pairs (i < j) sharing a VERBATIM token
   * span of at least `minSpan` tokens, with the longest such span —
   * (doc_i, doc_j, span_len). The substring-level duplicate family the
   * set-similarity operators miss: a long quote or syndicated passage
   * inside an otherwise-different host document dilutes Jaccard (÷
   * union, so a 10x-longer host caps it near 0.1) and containment only
   * fires when nearly ALL of the smaller side is shared — a 500-token
   * verbatim span between two 5000-token documents escapes both.
   *
   * Shape (bucketed, NOT suffix-array-over-corpus):
   *  1. every k-token window hashes to a 16-byte run digest (md5 of the
   *     space-joined window) — (doc, pos, digest) rows, O(tokens/doc);
   *  2. inverted-index self-join on the digest — the same
   *     single-shuffle ReuseExchange shape as [[jaccardPairs]]'s core.
   *     At k ≈ 40 a run digest is near-unique across a corpus (df = 1
   *     unless text is genuinely duplicated), so the join is linear in
   *     matching runs; `maxDocFreq` caps pathological boilerplate runs
   *     exactly like the shingle index;
   *  3. matched positions merge into maximal spans: per (pair, pi−pj)
   *     alignment offset, consecutive-position islands (pos minus
   *     row_number) — window partitions are bounded by a DOCUMENT's
   *     token count, never corpus-sized;
   *  4. span_len = max(pi)−min(pi)+k per island; the pair's longest
   *     span survives the `minSpan` filter.
   *
   * A shared span of L >= k tokens yields L−k+1 aligned window matches
   * at one offset, so span_len is EXACT for every span >= k; spans
   * shorter than k are invisible (choose k <= minSpan; enforced).
   * Detection is exact modulo md5 run-digest collisions, which an md5
   * oracle replays identically.
   */
  def substringPairs(
      df: DataFrame, idCol: String, textCol: String,
      minSpan: Int, k: Int = 40, maxDocFreq: Option[Int] = None): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    require(minSpan >= k, s"minSpan ($minSpan) must be >= k ($k): spans shorter than k are invisible")
    import org.apache.spark.sql.expressions.Window
    // (doc, pos, run digest) — one codegen'd tokenize→window→md5 loop
    // (graft.functions.RunDigests); the composed higher-order form runs
    // interpreted and re-slices per position
    val idx0 = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
      .repartition(col("doc"))
      .select(col("doc"), posexplode(graft.functions.RunDigests.runDigests(col("txt"), k)))
      .withColumnsRenamed(Map("pos" -> "p", "col" -> "h"))
    val idx = maxDocFreq.fold(idx0) { cap =>
      val hot = idx0.groupBy("h").agg(count(lit(1)).as("df")).where(col("df") > cap).select("h")
      idx0.join(broadcast(hot), Seq("h"), "left_anti")
    }
    val pairs = idx.as("a").hint("shuffle_hash")
      .join(idx.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"),
        col("a.p").as("pi"), (col("a.p") - col("b.p")).as("diff"))
    // islands of consecutive pi per (pair, alignment offset): window rows
    // per partition <= the smaller doc's token count
    val w = Window.partitionBy(col("doc_i"), col("doc_j"), col("diff")).orderBy(col("pi"))
    pairs.withColumn("isl", col("pi") - row_number().over(w))
      .groupBy(col("doc_i"), col("doc_j"), col("diff"), col("isl"))
      .agg((max(col("pi")) - min(col("pi")) + k).as("span"))
      .groupBy(col("doc_i"), col("doc_j"))
      .agg(max(col("span")).cast("long").as("span_len"))
      .where(col("span_len") >= minSpan)
  }

  /**
   * Winnowed exact-substring dedup — [[substringPairs]] with the
   * inverted index shrunk ~(w+1)/2 x by winnowing fingerprint selection
   * (Schleimer et al., SIGMOD 2003; [[graft.functions.WinnowDigests]]):
   * instead of indexing EVERY k-token run digest, each document keeps
   * only the minimum digest of every `w` consecutive digest positions.
   * At 100 TB this is the substring-dedup shape to prefer: the
   * per-document index rows — and therefore the one digest-keyed
   * shuffle THE self-join pays — shrink by the winnow factor before
   * leaving the scan, at the price of span resolution, not recall:
   *
   *  - DETECTION IS GUARANTEED for any shared verbatim span of at least
   *    w+k-1 tokens (such a span contains a full digest window; both
   *    docs select the same digest at the same span-relative position);
   *  - `span_lb` is a LOWER bound on the true longest shared span,
   *    tight to within 2(w-1) tokens (the first/last selected
   *    fingerprint can sit up to w-1 positions inside the span edge);
   *    set `minSpanLb` accordingly — a caller that must not miss true
   *    spans >= S should pass minSpanLb = S - 2(w-1).
   *
   * Matched fingerprints inside one shared span sit at most w positions
   * apart (the winnow density guarantee), so islands split where the
   * position gap exceeds w; splitting a span at a boundary effect can
   * only LOWER span_lb — the lower-bound contract survives.
   * w = 1 degenerates to every position selected — [[substringPairs]]
   * exactly.
   */
  def winnowedSubstringPairs(
      df: DataFrame, idCol: String, textCol: String,
      minSpanLb: Int, k: Int = 40, w: Int = 8,
      maxDocFreq: Option[Int] = None): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    require(w >= 1, s"winnow window w must be >= 1, got $w")
    require(minSpanLb >= k, s"minSpanLb ($minSpanLb) must be >= k ($k)")
    import org.apache.spark.sql.expressions.Window
    val idx0 = df.select(col(idCol).as("doc"), col(textCol).as("txt"))
      .repartition(col("doc"))
      .select(col("doc"),
        explode(graft.functions.WinnowDigests.winnowDigests(col("txt"), k, w)).as("s"))
      .select(col("doc"), col("s.p").as("p"), col("s.h").as("h"))
    val idx = maxDocFreq.fold(idx0) { cap =>
      val hot = idx0.groupBy("h").agg(count(lit(1)).as("df")).where(col("df") > cap).select("h")
      idx0.join(broadcast(hot), Seq("h"), "left_anti")
    }
    val pairs = idx.as("a").hint("shuffle_hash")
      .join(idx.as("b").hint("shuffle_hash"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"),
        col("a.p").as("pi"), (col("a.p") - col("b.p")).as("diff"))
    // selected positions are SPARSE: islands break on gap > w (not on
    // non-consecutive positions); same bounded-partition argument as
    // substringPairs — window rows per (pair, diff) <= the smaller
    // doc's fingerprint count
    val win = Window.partitionBy(col("doc_i"), col("doc_j"), col("diff")).orderBy(col("pi"))
    pairs
      .withColumn("gap",
        // first row per partition: lag is null, null > w is null -> 0
        when(col("pi") - lag(col("pi"), 1).over(win) > w, 1).otherwise(0))
      .withColumn("isl", sum(col("gap")).over(win.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_i"), col("doc_j"), col("diff"), col("isl"))
      .agg((max(col("pi")) - min(col("pi")) + k).as("span"))
      .groupBy(col("doc_i"), col("doc_j"))
      .agg(max(col("span")).cast("long").as("span_lb"))
      .where(col("span_lb") >= minSpanLb)
  }

  /**
   * Benchmark decontamination: which corpus documents contain a VERBATIM
   * k-token run that also appears in a benchmark/eval corpus — the
   * train/test-overlap scrub every LLM training pipeline runs before
   * training (an eval question leaking into the corpus inflates the
   * benchmark score without teaching the model anything). Output one row
   * per CONTAMINATED corpus document: (doc, hits, max_span) — hits =
   * number of k-token window positions whose run digest appears anywhere
   * in the benchmark, max_span = the longest consecutive contaminated
   * token run (exact for spans >= k, the same island argument as
   * [[substringPairs]]: a shared span of L >= k tokens matches at
   * L−k+1 consecutive positions). The clean corpus is the caller's
   * `left_anti` of the corpus against this output on the id.
   *
   * Shape — asymmetric by design, unlike [[substringPairs]]'s self-join:
   * the benchmark side collapses to DISTINCT 16-byte run digests first
   * (a full eval suite is MBs of digests), so with `broadcastBench` the
   * corpus side is a NARROW map-only scan probing a broadcast hash set —
   * zero shuffle of corpus data, the only viable shape when the corpus
   * is 100 TB and the benchmark is not. The per-doc island/span
   * aggregation afterwards carries only MATCHED windows (output-sized),
   * and its window partitions are bounded by a document's token count,
   * never corpus-sized. `broadcastBench = false` degrades to one
   * digest-keyed shuffle — still O(corpus windows + bench windows),
   * never pairwise — for the rare giant-benchmark case.
   */
  def decontaminate(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      k: Int = 8, broadcastBench: Boolean = true): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.RunDigests.runDigests
    val benchD0 = bench
      .select(explode(runDigests(col(benchTextCol), k)).as("h"))
      .distinct()
    val benchD = if (broadcastBench) broadcast(benchD0) else benchD0
    val matched = corpus
      .select(col(idCol).as("doc"), posexplode(runDigests(col(textCol), k)))
      .withColumnsRenamed(Map("pos" -> "p", "col" -> "h"))
      .join(benchD, Seq("h"))
    val w = Window.partitionBy(col("doc")).orderBy(col("p"))
    matched.withColumn("isl", col("p") - row_number().over(w))
      .groupBy(col("doc"), col("isl"))
      .agg(count(lit(1)).as("c"), (max(col("p")) - min(col("p")) + k).as("span"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).cast("long").as("hits"),
        max(col("span")).cast("long").as("max_span"))
  }

  /**
   * SEMANTIC decontamination — [[decontaminate]]'s embedding-space twin:
   * flag corpus rows whose embedding is near-identical (cosine >= `tau`,
   * rounded to 6 decimals — the library-wide `cos_r6` discipline) to ANY
   * benchmark embedding. Catches the contamination n-gram digests miss:
   * paraphrased or re-formatted benchmark items that embed next to the
   * original (the GPT-4/Llama report methodology).
   *
   * Output: ONE row per FLAGGED corpus doc — `(doc, n_hits, best_bench,
   * best_cos_r6)`, best = highest rounded cosine, ties to the smallest
   * benchmark id; unflagged docs emit nothing (the hit-only convention
   * of [[decontaminate]] — left-join the result to keep all rows).
   *
   * Scale shape: the benchmark rides a broadcast (B·dim doubles —
   * benchmark suites are model-sized, not corpus-sized); scoring is a
   * broadcast nested-loop over N×B map-side, and ONLY hit rows (doc,
   * bid, cos) enter the doc-keyed aggregate — the corpus itself never
   * shuffles, matching the digest decontam's constant-shuffle contract.
   */
  def decontamSemantic(
      corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchIdCol: String, benchVecCol: String,
      tau: Double): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau must be in [-1, 1], got $tau")
    import graft.similarity.Similarity
    // spread: no-op at real scale, parallelizes under-split inputs (r14)
    val c = graft.toolbox.Partitions.spreadCompute(corpus
      .select(col(idCol).as("doc"), col(vecCol).cast("array<double>").as("v")))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val b = broadcast(bench
      .select(col(benchIdCol).as("bid"),
        col(benchVecCol).cast("array<double>").as("bv"))
      .withColumn("bnrm", Similarity.l2norm(col("bv"))))
    val hits = c.crossJoin(b)
      .select(col("doc"), col("bid"),
        round(Similarity.dot(col("v"), col("bv")) / (col("nrm") * col("bnrm")), 6)
          .as("cos_r6"))
      .where(col("cos_r6") >= tau)
    hits.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_hits"),
        min(struct(negate(col("cos_r6")).as("s"), col("bid").as("i"))).as("__b"),
        max(col("cos_r6")).as("best_cos_r6"))
      .select(col("doc"), col("n_hits"), col("__b.i").as("best_bench"),
        col("best_cos_r6"))
  }

  /**
   * Segment-level (C4-style "line") deduplication across the whole
   * corpus: split every document into consecutive `seg`-token segments,
   * keep only the FIRST occurrence of each distinct segment — first =
   * minimum (id, segment-index) lexicographically, a total order that no
   * partitioning can perturb — and reassemble each document from its
   * surviving segments in original order.
   *
   * Output: one row per input document —
   * `(doc, text_clean, n_kept, n_dropped)`; a document whose every
   * segment occurred earlier elsewhere survives with `text_clean = ""`.
   *
   * Shape (the [[exactCanon]] rationale, segment-grained): segments
   * shuffle as 16-byte digests through a map-side-combined
   * `groupBy(digest).agg(min(struct(doc, idx)))` + equi-join back —
   * never a window over `partitionBy(digest)`, so a boilerplate segment
   * repeated 100M times collapses per map task and the join back stays
   * AQE-skew-splittable. Reassembly groups by doc (bounded by one
   * document's own segments, never corpus-sized). At 100 TB the only
   * corpus-sized shuffles are digest-keyed and carry (digest, doc, idx,
   * segment) rows — segment payloads ride exactly twice, once into the
   * keeper join and once into reassembly.
   */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String, seg: Int = 16): DataFrame = {
    require(seg >= 1, s"segment size must be >= 1, got $seg")
    val segs = df
      .select(col(idCol).as("doc"),
        posexplode(TextFunctions.tokenChunks(
          TextFunctions.tokens(col(textCol)), seg, 0)))
      .select(col("doc"), col("pos").cast("long").as("idx"), col("col").as("segment"))
      .where(col("segment") =!= "") // empty-text docs yield one "" chunk — not a segment
    val keyed = segs.withColumn("__digest", unhex(md5(col("segment").cast("binary"))))
    // derived second grouping key: forces the keeper side through a
    // join-owned exchange so AQE's skewed-join split stays applicable
    // (see exactCanon)
    val first = keyed
      .groupBy(col("__digest"), substring(col("__digest"), 1, 2))
      .agg(min(struct(col("doc"), col("idx"))).as("keep"))
      .select(col("__digest"),
        col("keep.doc").as("__kdoc"), col("keep.idx").as("__kidx"))
    val kept = keyed.join(first, "__digest")
      .where(col("doc") === col("__kdoc") && col("idx") === col("__kidx"))
    val rebuilt = kept
      .groupBy(col("doc"))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("idx"), col("segment")))),
            s => s.getField("segment"))).as("text_clean"),
        count(lit(1)).cast("long").as("n_kept"))
    val totals = segs.groupBy(col("doc")).agg(count(lit(1)).cast("long").as("__n_segs"))
    df.select(col(idCol).as("doc")).distinct()
      .join(rebuilt, Seq("doc"), "left")
      .join(totals, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("__n_segs"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /**
   * N-gram overlap-fraction decontamination (the PaLM/GPT-3 reporting
   * shape, complementing [[decontaminate]]'s island spans): for every
   * corpus document, the fraction of its DISTINCT word `n`-gram digests
   * that appear anywhere in the benchmark. Output per corpus document
   * with at least one n-gram: `(doc, n_grams, n_hit, frac, contaminated)`
   * where `frac = n_hit / n_grams` (one IEEE division of exact integers,
   * engine-reproducible) and `contaminated = frac >= theta`.
   *
   * Shape: the benchmark collapses to DISTINCT digests (broadcast by
   * default — the eval-suite side is MBs while the corpus is not); the
   * corpus explodes to per-doc distinct (doc, digest) rows — ONE
   * digest-keyed shuffle, map-side combined — then a narrow left join
   * against the broadcast set and a per-doc count aggregation. Zero
   * corpus-pairwise work at any scale; `broadcastBench = false` degrades
   * to a digest-keyed shuffle join for a giant benchmark.
   */
  def decontamOverlap(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      n: Int = 5, theta: Double = 0.1, broadcastBench: Boolean = true): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(theta >= 0.0 && theta <= 1.0, s"theta must be in [0,1], got $theta")
    import graft.functions.RunDigests.runDigests
    val benchD0 = bench
      .select(explode(runDigests(col(benchTextCol), n)).as("h"))
      .distinct()
    val benchD = (if (broadcastBench) broadcast(benchD0) else benchD0)
      .withColumn("__hit", lit(1))
    corpus
      .select(col(idCol).as("doc"), explode(runDigests(col(textCol), n)).as("h"))
      .distinct()
      .join(benchD, Seq("h"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        count(col("__hit")).cast("long").as("n_hit"))
      .withColumn("frac", col("n_hit").cast("double") / col("n_grams").cast("double"))
      .withColumn("contaminated", col("frac") >= lit(theta))
  }

  /**
   * Bloom-prefiltered decontamination — the cheapest possible corpus
   * pass when only the CONTAMINATED-DOCUMENT SET is needed (quarantine
   * lists, not [[decontaminate]]'s per-doc span report): a Bloom filter
   * over the benchmark's k-token window digests rides to every executor
   * as a task-closure broadcast, the corpus scan probes it MAP-SIDE (a
   * window that misses the bloom provably has no benchmark match and is
   * dropped before any exchange), and only the surviving ~fpp fraction
   * plus true hits flows into the exact verify join that removes false
   * positives. Output: distinct `(doc)` of contaminated corpus ids —
   * identical rows to an exact digest join, for any fpp.
   *
   * At 100 TB this changes the decontamination cost class: the corpus
   * side shuffles `(true hits + fpp · windows)` rows instead of every
   * window — with fpp = 1e-2 a ~100× reduction of the dominant exchange,
   * tunable to 1e-3 for ~0.1% residue at ~1.4× bloom memory. The bloom
   * keys are `xxhash64` of the 16-byte window digests (the driver-side
   * `stat.bloomFilter` builder speaks longs, not binary); the exact
   * verify join still compares full digests, so the 64-bit reduction
   * only affects prefilter selectivity, never correctness.
   *
   * NOTE: building the filter runs one Spark job EAGERLY at call time
   * (`DataFrameStatFunctions.bloomFilter` collects the sketch to the
   * driver) — the same documented eagerness as the IVF/PQ trainers;
   * `expectedItems` sizes the filter (overestimates cost memory,
   * underestimates cost fpp).
   */
  def decontaminateBloom(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      k: Int = 8, expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    require(k >= 2, s"window size k must be >= 2, got $k")
    import graft.functions.RunDigests.runDigests
    val benchD = bench
      .select(explode(runDigests(col(benchTextCol), k)).as("h"))
      .distinct()
    val bloom = benchD.select(xxhash64(col("h")).as("hk"))
      .stat.bloomFilter("hk", expectedItems, fpp)
    val mightContain = udf((hk: Long) => bloom.mightContainLong(hk))
    corpus
      .select(col(idCol).as("doc"), explode(runDigests(col(textCol), k)).as("h"))
      .where(mightContain(xxhash64(col("h")))) // map-side: no corpus shuffle past here
      .join(broadcast(benchD), Seq("h")) // exact verify kills bloom false positives
      .select(col("doc"))
      .distinct()
  }

  /**
   * MinHash-LSH near-dup pairs: signatures → banding (bandRows rows/band)
   * → candidate pairs sharing >= 1 band → exact Jaccard verification
   * >= tau. Same output contract as [[jaccardPairs]]; emitted Jaccard
   * values are exact, only recall depends on (numHashes, bandRows) —
   * with 32 hashes × 2 rows/band, P(miss | jac = 0.8) ≈ 1e-7.
   */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String, tau: Double,
      n: Int = 3, numHashes: Int = 32, bandRows: Int = 2,
      materialize: DataFrame => DataFrame = _.localCheckpoint(false)): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be a multiple of bandRows")
    // snapshot: the shingle table feeds the band explode AND both sides
    // of the verify join — left lazy, the tokenize+md5 shingling re-runs
    // per consumer (the r14 Triangles lesson; trades one executor-disk
    // copy of the shingle arrays for two full recomputes)
    val sh = materialize(shingled(df, idCol, textCol, n).where(size(col("sh")) > 0))
    val bands = minhashBands(sh, numHashes, bandRows)
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"))
      .dropDuplicates("doc_i", "doc_j")
    verifyJaccard(cands, sh, sh, tau, gauge = df)
  }

  /**
   * Cross-corpus MinHash-LSH near-dup pairs: which documents of `left`
   * (a NEW crawl snapshot / incoming batch) near-duplicate a document
   * of `right` (the corpus already ingested) — the incremental-dedup
   * shape every continuously-fed training pipeline runs, where
   * re-banding the union and discarding the old×old pairs would waste
   * almost all of the candidate work. Output: (doc_i from left, doc_j
   * from right, exact jaccard >= tau); ids may repeat across corpora —
   * the sides are distinct tables and no `<` ordering applies.
   *
   * Same machinery and guarantees as [[minhashPairs]]: slim O(N) band
   * rows per side, candidates only where a band collides ACROSS sides,
   * exact verification on the bounded shingle arrays. At 32 hashes ×
   * 2 rows/band, P(miss | jac = 0.8) ≈ 1e-7. In steady state the
   * `right` band rows are re-derivable or persistable; the band join
   * shuffles only (doc, band, bkey) triples, never text.
   */
  def minhashPairsAcross(
      left: DataFrame, right: DataFrame, idCol: String, textCol: String,
      tau: Double, n: Int = 3, numHashes: Int = 32, bandRows: Int = 2): DataFrame = {
    require(numHashes % bandRows == 0, "numHashes must be a multiple of bandRows")
    val shL = shingled(left, idCol, textCol, n).where(size(col("sh")) > 0)
    val shR = shingled(right, idCol, textCol, n).where(size(col("sh")) > 0)
    val cands = minhashBands(shL, numHashes, bandRows).as("a")
      .join(minhashBands(shR, numHashes, bandRows).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"))
      .dropDuplicates("doc_i", "doc_j")
    verifyJaccard(cands, shL, shR, tau, gauge = left)
  }

  /**
   * Persistable MinHash index of a corpus: one row per document with at
   * least one shingle — `(doc, sh, sig)`, the shingle array plus the
   * `numHashes`-wide MinHash signature. Feed to
   * [[minhashPairsVsIndex]] after a parquet round-trip
   * ([[graft.ml.ModelStore.saveMinhashIndex]]) so steady-state
   * incremental ingest pays signature extraction for the NEW batch only
   * — the already-ingested corpus is never re-tokenized, re-shingled or
   * re-hashed. Both index parameters are derivable from the rows (n =
   * tokens per shingle, numHashes = |sig|) — no metadata sidecar to
   * desync (the ModelStore rule); banding remains a QUERY-time choice
   * replayed identically on both sides.
   */
  def buildMinhashIndex(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32): DataFrame = {
    val sh = shingled(df, idCol, textCol, n).where(size(col("sh")) > 0)
    sh.select(col("doc"), col("sh"),
      graft.functions.MinhashSignature.minhashSignature(col("sh"), numHashes).as("sig"))
  }

  /**
   * Incremental index maintenance, step 1 — delta append: index rows
   * for the NEW batch only, with (n, numHashes) derived FROM the
   * existing index (the same one-tiny-row derivation as
   * [[minhashPairsVsIndex]], so a delta can never be shingled or
   * hashed incompatibly with the corpus it extends), unioned onto the
   * index. Cost ∝ delta — the existing corpus rows stream through
   * untouched (never re-tokenized, re-shingled, re-hashed, and in the
   * save-load loop never even deserialized beyond the first row); a
   * daily batch against a year-long corpus pays for the day. An empty
   * index falls back to the build defaults (n=3, numHashes=32).
   */
  def appendToMinhashIndex(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String): DataFrame =
    index.unionByName(deltaIndexRows(index, delta, idCol, textCol))

  /** The delta's index rows alone, parameter-locked to `index` — what
    * [[graft.ml.ModelStore.appendMinhashIndex]] parquet-appends so the
    * saved corpus files are never rewritten. */
  private[graft] def deltaIndexRows(index: DataFrame, delta: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val head = index
      .select(size(split(element_at(col("sh"), 1), " ")).as("n"),
        size(col("sig")).as("nh"))
      .head(1)
    val (n, numHashes) =
      head.headOption.map(r => (r.getInt(0), r.getInt(1))).getOrElse((3, 32))
    buildMinhashIndex(delta, idCol, textCol, n, numHashes)
  }

  /**
   * Incremental index maintenance, step 2 — compaction: collapse the
   * exact-duplicate rows that re-ingesting an unchanged document
   * appends (same doc, same shingles → same signature), so the index
   * stays corpus-sized across arbitrarily many delta cycles and
   * `(index ⊕ delta ⊕ re-ingest) ≡ rebuilt-from-scratch` holds exactly
   * (the `dedup_index_delta` gate's pin). A doc id re-appended with
   * CHANGED text keeps both rows — the index has no version axis, and
   * silently dropping either text would un-index content that was
   * ingested; point-in-time replace belongs to the caller's id
   * discipline. Full-row distinct (array grouping keys are exact), so
   * the kept row is never an arbitrary pick; one shuffle on the
   * already-slim index rows.
   */
  def compactMinhashIndex(index: DataFrame): DataFrame =
    index.distinct()

  /**
   * [[minhashPairsAcross]] against a prebuilt (usually
   * parquet-reloaded) [[buildMinhashIndex]] frame: `(doc_i from left,
   * doc_j from index, exact jaccard >= tau)`. The left side derives its
   * shingle size and signature width FROM the index (one tiny
   * first-row job at call time — the trainer eagerness discipline), so
   * a batch can never be banded incompatibly with the corpus it probes;
   * an empty index yields no pairs. Same recall/exactness contract as
   * [[minhashPairs]].
   */
  def minhashPairsVsIndex(
      left: DataFrame, idCol: String, textCol: String,
      index: DataFrame, tau: Double, bandRows: Int = 2): DataFrame = {
    val head = index
      .select(size(split(element_at(col("sh"), 1), " ")).as("n"),
        size(col("sig")).as("nh"))
      .head(1)
    // empty index: parameters only steer recall — defaults keep the
    // plan well-formed and the result (correctly) empty
    val (n, numHashes) =
      head.headOption.map(r => (r.getInt(0), r.getInt(1))).getOrElse((3, 32))
    require(numHashes % bandRows == 0,
      s"index signature width $numHashes is not a multiple of bandRows $bandRows")
    val shL = shingled(left, idCol, textCol, n).where(size(col("sh")) > 0)
    val cands = minhashBands(shL, numHashes, bandRows).as("a")
      .join(sigBands(index, numHashes, bandRows).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"))
      .dropDuplicates("doc_i", "doc_j")
    verifyJaccard(cands, shL, index.select(col("doc"), col("sh")), tau,
      gauge = left)
  }

  /** Slim band rows (doc, band, bkey) — the band shuffle never carries
    * shingle payloads; shingle arrays rejoin only for surviving
    * candidates. Signature via the codegen'd native
    * `graft.functions.MinhashSignature` (the composed higher-order form
    * runs interpreted and costs ~50x more). */
  private def minhashBands(sh: DataFrame, numHashes: Int, bandRows: Int): DataFrame =
    sigBands(
      sh.select(col("doc"),
        graft.functions.MinhashSignature.minhashSignature(col("sh"), numHashes).as("sig")),
      numHashes, bandRows)

  /** Banding over an existing signature column (stored index rows skip
    * signature recomputation). */
  private def sigBands(withSig: DataFrame, numHashes: Int, bandRows: Int): DataFrame = {
    val numBands = numHashes / bandRows
    withSig.select(col("doc"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          b => xxhash64(concat_ws("|", slice(col("sig"), b * bandRows + 1, lit(bandRows)))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))
  }

  /** Exact Jaccard verification of candidate pairs on the bounded
    * per-doc shingle arrays of each side. `gauge` is the operator's
    * scan-rooted input frame — see [[graft.toolbox.Partitions.floorWidth]]. */
  private def verifyJaccard(cands: DataFrame, shI: DataFrame, shJ: DataFrame,
      tau: Double, gauge: DataFrame): DataFrame =
    // floor the verify width at core count in the small-input regime:
    // the per-pair array_intersect is the expensive part, and AQE's
    // byte-based coalescing otherwise runs it on ONE task (measured
    // 1.1 s single task in dedup_jaccard_prefix; the floor took the
    // query 2.1 → 1.1 s, r15); structural no-op at scale
    graft.toolbox.Partitions.floorWidth(cands, gauge)
      .join(shI.select(col("doc").as("doc_i"), col("sh").as("sha")), "doc_i")
      .join(shJ.select(col("doc").as("doc_j"), col("sh").as("shb")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        jaccard(size(array_intersect(col("sha"), col("shb"))),
          size(col("sha")), size(col("shb"))).as("jac"))
      .where(col("jac") >= tau)

  /**
   * SimHash near-dup pairs: 64-bit document fingerprints, candidates
   * generated by the pigeonhole banding of 4x16-bit chunks (Hamming
   * distance <= 3 implies at least one identical chunk), verified by
   * exact popcount. Output: (doc_i, doc_j, hamming). Linear shuffle
   * volume: 4 slim band rows per DISTINCT fingerprint.
   *
   * Identical fingerprints (exact-dup clusters in particular) collapse to
   * one banded row each; memberships re-expand by equi-join afterwards.
   * A 100k-copy boilerplate cluster thus contributes 1 row to the band
   * join instead of 100k (banding the members would 4x-inflate the
   * quadratic cluster and re-shuffle it through dropDuplicates); the
   * final expansion is output-sized, which no correct implementation can
   * avoid.
   *
   * @param hasher token-array → 64-bit fingerprint column. Default:
   *        graft.functions.TextSimhash (xxhash64 votes, fastest). Pass
   *        graft.functions.Md5Simhash.md5Simhash for fingerprints an
   *        external SQL engine can replay bit-for-bit.
   */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      hasher: Column => Column = graft.functions.TextSimhash.textSimhash): DataFrame = {
    require(maxHamming <= 3, "banding with 4 chunks guarantees recall only for maxHamming <= 3")
    // token-less docs all share fingerprint 0 — drop them (consistent
    // with the other dedup operators' empty-shingle semantics)
    val fp = df
      .select(col(idCol).as("doc"), col(textCol).as("txt")).repartition(col("doc"))
      .select(col("doc"),
        graft.functions.WordShingles.wordShingles(col("txt"), 1).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc"), hasher(col("ws")).as("fp"))
    val fps = fp.select("fp").distinct()
    // chunk extraction without a column-typed shift amount: divide by the
    // per-chunk power of two (fp is reinterpreted unsigned via the mask)
    val chunks = (0 until 4).map { b =>
      shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xffffL))
    }
    val bands = fps.select(col("fp"), posexplode(array(chunks: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))
    // distinct-fingerprint pairs within the Hamming bound
    val fpPairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.fp") < col("b.fp"))
      .select(col("a.fp").as("fp_i"), col("b.fp").as("fp_j"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .dropDuplicates("fp_i", "fp_j")
      .where(col("hamming") <= maxHamming)
    // intra-group pairs: identical fingerprint == Hamming 0
    val intra = fp.as("x")
      .join(fp.as("y"), col("x.fp") === col("y.fp") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_i"), col("y.doc").as("doc_j"), lit(0).as("hamming"))
    // cross-group expansion: every member pair of a qualifying fp pair
    val cross = fpPairs
      .join(fp.as("x"), col("x.fp") === col("fp_i"))
      .join(fp.as("y"), col("y.fp") === col("fp_j"))
      .select(least(col("x.doc"), col("y.doc")).as("doc_i"),
        greatest(col("x.doc"), col("y.doc")).as("doc_j"), col("hamming"))
    intra.union(cross)
  }

  /**
   * Embedding-cosine near-dup pairs: all (i < j) with cosine similarity
   * >= tau over a vector column. Exact brute-force formulation (each
   * side's norm precomputed; deterministic-fold dot product rounded to 6
   * decimals) — the small-N / oracle path. At scale use
   * [[embeddingPairsLsh]], which restricts candidates to LSH-bucket
   * collisions before running the identical exact verification.
   */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    import graft.similarity.Similarity
    // spread instead of a keyed repartition: the old repartition(doc)
    // was AQE-coalescible to ONE partition (bytes ≪ advisory), which
    // serialized the O(N²) pair scan on a single task; spreadCompute is
    // a no-op on real multi-split tables and never keys the exchange
    // (the pair scan needs parallelism, not co-location) — r14
    val v = graft.toolbox.Partitions.spreadCompute(
      df.select(col(idCol).as("doc"), col(vecCol).cast("array<double>").as("v")))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val a = v.select(col("doc").as("doc_i"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("doc").as("doc_j"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).where(col("doc_i") < col("doc_j"))
      .select(col("doc_i"), col("doc_j"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_r6"))
      .where(col("cos_r6") >= tau)
  }

  /**
   * Bucketed embedding near-dup pairs — the 100 TB path for
   * [[embeddingPairs]]: candidates are restricted to vector pairs sharing
   * a random-hyperplane SimHash bucket in at least one of `tables` hash
   * tables (graft.functions.SimhashBuckets — stateless, deterministic),
   * then verified with the exact cosine expression of the brute-force
   * path, so every EMITTED pair is exact and identical to what
   * embeddingPairs would emit; only recall is probabilistic.
   *
   * Shuffle shape mirrors [[minhashPairs]]: slim (doc, table, bucket)
   * band rows drive the candidate equi-join — vectors never ride the
   * band shuffle and rejoin only for surviving candidates. O(N) band
   * rows vs the brute-force path's O(N²) scored pairs.
   *
   * Recall: a pair at angle θ collides per table with prob
   * (1-θ/π)^planes. The near-dup regime the defaults target (cos >= 0.9,
   * planes=10, tables=8) gives recall > 1-1e-4; LOW thresholds flatten
   * the s-curve — at tau = 0.5 use few planes and many tables (the gate
   * runs planes=5, tables=24 — recall .966 per near-threshold pair per
   * the collision formula; its oracle replays the bucket bits exactly
   * rather than assuming exhaustiveness, so the gate stays hash-green
   * on any corpus — see SparkEntry.embeddingLshOracle).
   */
  def embeddingPairsLsh(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      planes: Int = 10, tables: Int = 8): DataFrame = {
    import graft.similarity.Similarity
    // spread, not keyed-repartition: see embeddingPairs (r14)
    val v = graft.toolbox.Partitions.spreadCompute(
      df.select(col(idCol).as("doc"), col(vecCol).cast("array<double>").as("v")))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val bands = v.select(col("doc"),
      posexplode(Similarity.simhashBuckets(col("v"), planes, tables)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_i"), col("b.doc").as("doc_j"))
      .dropDuplicates("doc_i", "doc_j")
    cands
      .join(v.select(col("doc").as("doc_i"), col("v").as("va"), col("nrm").as("na")), "doc_i")
      .join(v.select(col("doc").as("doc_j"), col("v").as("vb"), col("nrm").as("nb")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos_r6"))
      .where(col("cos_r6") >= tau)
  }

  /**
   * SemDeDup-style SEMANTIC deduplication: partition the embedding space
   * into `k` cells around deterministic seed vectors, then flag a row as
   * a semantic duplicate iff a SMALLER-id row in the SAME cell has
   * cosine >= tau with it. Output: one row per input —
   * `(doc, cluster, is_dup)`, cluster = the seed's id.
   *
   * Seeds are the `k` rows with the smallest `md5(id)` rendering — a
   * deterministic, data-independent sample (md5 is a uniform hash of the
   * id, so this IS a uniform k-sample of rows) that an external SQL
   * engine replays exactly, unlike k-means centroids whose float sums
   * are partition-order-dependent. Assignment is nearest-seed by cosine
   * ROUNDED to 6 decimals with ties to the smallest seed id — the
   * rounding absorbs sub-ulp engine variation, making cell membership
   * reproducible (same discipline as the `cos_r6` pair gates).
   *
   * Scale shape: seeds ride a broadcast (k·dim doubles); assignment is a
   * broadcast nested-loop over N×k — map-side, no shuffle of vectors.
   * The within-cell pair stage shuffles vectors ONCE keyed by cell and
   * is quadratic per cell — SemDeDup's deployments size k ~ sqrt(N)/c so
   * cells stay bounded (the paper runs 50k cells for 5B embeddings); for
   * web-scale corpora compose the cell partition with
   * [[embeddingPairsLsh]] INSIDE each cell instead of the exact pair
   * scan. A hot cell (many near-identical vectors) is exactly the case
   * the min-id contract keeps cheap: the smaller-id-exists test needs
   * only pairs, never per-cell sorts.
   */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, tau: Double = 0.7): DataFrame = {
    require(k >= 1, s"cell count k must be >= 1, got $k")
    require(tau >= -1.0 && tau <= 1.0, s"tau must be in [-1, 1], got $tau")
    import graft.similarity.Similarity
    // spread, not keyed-repartition: see embeddingPairs (r14)
    val e = graft.toolbox.Partitions.spreadCompute(
      df.select(col(idCol).as("doc"), col(vecCol).cast("array<double>").as("v")))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val seeds = broadcast(
      e.select(col("doc").as("sid"), col("v").as("sv"), col("nrm").as("snrm"),
          md5(col("doc").cast("string")).as("__r"))
        .orderBy(col("__r")).limit(k).drop("__r"))
    val assigned = e.crossJoin(seeds)
      .withColumn("__cos",
        round(Similarity.dot(col("v"), col("sv")) / (col("nrm") * col("snrm")), 6))
      .groupBy(col("doc"))
      // max over (cos_r6, -sid): best cosine, ties to the smallest seed;
      // v/nrm are doc-constant across the k seed rows, so first() is
      // deterministic here
      .agg(max(struct(col("__cos"), (-col("sid")).as("neg"))).as("__best"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("doc"), (-col("__best.neg")).as("cluster"), col("v"), col("nrm"))
    val a = assigned.select(col("cluster"), col("doc").as("doc_i"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cluster"), col("doc").as("doc_j"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cluster"))
      .where(col("doc_i") < col("doc_j"))
      .where(round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= lit(tau))
      .select(col("doc_j").as("doc")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dups, Seq("doc"), "left")
      .select(col("doc"), col("cluster"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /**
   * Near-dup CLUSTERS from a pair list (any of the pair operators above):
   * connected components by min-id label propagation — each node's label
   * starts as itself and every round takes the minimum over its
   * neighbours' labels, until a fixpoint. Output: (doc_id, cluster_id)
   * for every document appearing in at least one pair; cluster_id is the
   * smallest member id (the same canonical choice as [[exactCanon]]).
   *
   * Scale shape: an iterative DataFrame algorithm in the
   * [[graft.join.GridNearestJoin]] mold — per round, one neighbour-min
   * shuffle join + map-side-combined min aggregation, then a
   * POINTER-JUMPING pass (comp ← comp(comp), label-doubling) so chains
   * collapse in O(log diameter) rounds instead of O(diameter); one
   * snapshot per round (`materialize`, default lazy localCheckpoint —
   * executor-local, NOT fault-tolerant; inject
   * `_.checkpoint(eager = true)` under a `setCheckpointDir` for
   * cluster-grade durability, bit-identical results, pinned by
   * ReliableCheckpointSpec) to cut the growing lineage, the
   * convergence count riding the snapshot's job. Near-dup components are near-cliques (every member close to a
   * common original), so 2-3 rounds in practice; even a 1M-node path
   * graph converges in ~20.
   *
   * `maxIters` is a runaway backstop, not a quality knob: a truncated
   * min-label run is NOT merely "coarser" — it can split a connected
   * component and emit labels that are not themselves canonical (a
   * node's cluster_id may carry a different label). So hitting the cap
   * before the fixpoint fails loudly by default; pass `onCapHit` to
   * observe-and-continue (the handler receives the still-changing row
   * count; returning normally keeps the truncated labels).
   */
  def clusterPairs(pairs: DataFrame,
      iCol: String = "doc_i", jCol: String = "doc_j",
      maxIters: Int = 20,
      materialize: DataFrame => DataFrame = _.localCheckpoint(false),
      onCapHit: Long => Unit = changed => throw new IllegalStateException(
        s"clusterPairs hit maxIters with $changed labels still changing — " +
          "result would be a non-canonical (possibly split) clustering; " +
          "raise maxIters or pass onCapHit to accept truncated labels")): DataFrame = {
    // snapshot the symmetrized edge list ONCE — every round re-reads it,
    // and leaving it lazy would re-run the (possibly expensive) pair
    // computation upstream once per round. Pre-partitioned by the join
    // key `b` (see PlanAuditSpec's preservation pin):
    // the snapshot's partitions are balanced by the key rather than
    // inheriting the upstream layout, and on AQE-off sessions
    // localCheckpoint preserves the partitioning so every round's
    // neighbour-min join reads the (big, static) edge snapshot
    // exchange-free against the node-keyed labels side. (AQE re-plans
    // the snapshot-side exchange per round; the layout stays right.)
    val edges = materialize(pairs.select(col(iCol).as("a"), col(jCol).as("b"))
      .unionByName(pairs.select(col(jCol).as("a"), col(iCol).as("b")))
      .repartition(col("b")))
    var labels = materialize(
      edges.select(col("a").as("node")).distinct().withColumn("comp", col("node")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val neighborMin = edges.join(labels, col("b") === col("node"))
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      // snapshot the relaxed labels BEFORE the jump self-join: both join
      // sides read them, and an unmaterialized plan would re-execute the
      // whole neighbour-min join+aggregation twice (ReuseExchange dedups
      // exchanges, not the operators above them)
      val relaxed = materialize(
        labels.join(neighborMin, col("node") === col("a"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
            coalesce(col("ncomp") < col("comp"), lit(false)).as("__chg")))
      // pointer jumping: comp ← comp(comp). Every comp value is itself a
      // node id of the same component (labels only flow along edges), so
      // the inner self-join is total; label chains halve each round,
      // turning O(diameter) propagation into O(log diameter)
      val next = relaxed.as("x")
        .join(relaxed.select(col("node").as("jn"), col("comp").as("jc")).as("y"),
          col("x.comp") === col("jn"))
        .select(col("x.node").as("node"), col("jc").as("comp"),
          (col("x.__chg") || col("jc") < col("x.comp")).as("__chg"))
      // re-key the round's output by `node` before snapshotting: the jump
      // join leaves it partitioned (and possibly skewed) by comp, but the
      // NEXT round consumes it keyed by node — one slim (node, comp)
      // shuffle here keeps label partitions balanced as components merge
      // (comp values concentrate on few labels; node stays uniform), and
      // on AQE-off sessions makes the next round's joins exchange-free
      val snap = materialize(next.repartition(col("node")))
      changed = snap.where(col("__chg")).count()
      labels = snap.drop("__chg")
      iter += 1
    }
    if (changed > 0) onCapHit(changed)
    labels.select(col("node").as("doc_id"), col("comp").as("cluster_id"))
  }

  /**
   * Canonical-survivor selection per NEAR-dup cluster — the keep policy
   * that finishes a near-dedup pass: cluster the pair list
   * ([[clusterPairs]]), then keep the best-scoring member of each
   * component ("keep the longest copy", "keep the highest-quality
   * copy"), ties by ascending id. Docs outside every pair are their own
   * canonical — the output maps EVERY input row, exactly
   * [[exactCanonBy]]'s contract lifted from exact-duplicate groups to
   * near-dup components. Output: `(idCol, canon_id)`.
   *
   * A singleton's cluster label is its own id, which can never collide
   * with a real component's label: component labels are the minimum
   * MEMBER id, and members by definition appear in the pair list.
   *
   * NULL-score rows never win but never disappear (the [[exactCanonBy]]
   * rule); an all-null cluster keeps its minimum id.
   *
   * Scale shape: [[clusterPairs]]'s O(log diameter) pointer-jumping
   * rounds dominate; the selection itself is one map-side-combined
   * argmax per cluster plus a label join back — both keyed shuffles of
   * slim rows, nothing quadratic, no driver-side state.
   */
  def clusterCanonBy(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, iCol: String = "doc_i", jCol: String = "doc_j",
      descending: Boolean = true): DataFrame = {
    val labels = clusterPairs(pairs, iCol, jCol)
    val d = docs.select(col(idCol).as("__id"), col(scoreCol).as("__score"))
    val lab = d.join(labels, col("__id") === col("doc_id"), "left")
      .select(col("__id"), col("__score"),
        coalesce(col("cluster_id"), col("__id")).as("__cl"))
    val ord = if (descending) negate(col("__score")) else col("__score")
    val best = lab.groupBy(col("__cl"))
      .agg(
        min(when(col("__score").isNotNull, struct(ord.as("s"), col("__id").as("i"))))
          .as("__best"),
        min(col("__id")).as("__minid"))
      .select(col("__cl"), coalesce(col("__best.i"), col("__minid")).as("canon_id"))
    lab.join(best, "__cl").select(col("__id").as(idCol), col("canon_id"))
  }
}
