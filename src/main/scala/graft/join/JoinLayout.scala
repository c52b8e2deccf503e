package graft.join

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionOperation, Sort, Window}

/**
 * Mid-scale balance guard of the bucket equi-join operator
 * ([[RangeJoin]]).
 *
 * When one join side is small enough that Catalyst will BROADCAST it,
 * the equi-join introduces no exchange, so the whole explode -> join ->
 * refine pipeline inherits the other side's SCAN layout — and a single
 * small parquet file is ONE partition, putting the entire join on one
 * core even though its post-explode, post-join work is quadratically
 * larger than its bytes (measured 57 s single-task vs ~3 s spread on a
 * 42M-pair probe). [[balance]] spreads a side before its explode iff:
 * the OTHER side fits Catalyst's own broadcast estimate (the only
 * regime without a join-owned exchange), this side is scan-shaped (no
 * shuffling operator below — `.rdd` is then exchange-free to plan and
 * its partition count IS the file layout), and it has fewer partitions
 * than the shuffle-partition target. The genuinely-large regime
 * (neither side broadcastable) is untouched: shuffle join on the bucket
 * key with AQE's hot-key skew split (spec-pinned). Streaming sides
 * cannot be batch-planned (stats/.rdd throw) and the micro-batch engine
 * owns their partitioning — they pass through unchanged.
 *
 * "Scan-shaped" deliberately excludes EVERY RepartitionOperation,
 * including `coalesce` (Repartition with shuffle = false): a user who
 * coalesced a side made an explicit layout choice, and silently undoing
 * it would make the API fight its caller. The cost of honoring a
 * coalesce(1) is the degenerate single-core pipeline the guard exists
 * to prevent — so it is honored, not fixed; spread such a side
 * explicitly if that is what you meant.
 *
 * The broadcast-regime test mirrors the planner's own decision as
 * closely as a logical-plan-time guard can: under AQE the runtime
 * broadcast threshold (`spark.sql.adaptive.autoBroadcastJoinThreshold`)
 * takes precedence over the static one, exactly as Spark's
 * JoinSelectionHelper resolves it. AQE may still flip a regime on
 * fresher runtime stats than the optimizer estimate consulted here —
 * at worst that costs one unneeded (or one missed) repartition of a
 * small side, never correctness.
 */
private[graft] object JoinLayout {

  def balance(left: DataFrame, right: DataFrame): (DataFrame, DataFrame) =
    if (left.isStreaming || right.isStreaming) (left, right)
    else (if (broadcastable(right)) spreadIfDegenerate(left) else left,
      if (broadcastable(left)) spreadIfDegenerate(right) else right)

  private def broadcastable(df: DataFrame): Boolean = {
    val conf = df.sparkSession.conf
    def bytes(raw: String): Long =
      Try(raw.trim.toLong).getOrElse(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw.trim))
    val static = bytes(conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    // under AQE the runtime threshold wins when set (Spark resolves it
    // the same way); its default is unset = fall back to the static one
    val thr =
      if (conf.get("spark.sql.adaptive.enabled", "true").toBoolean)
        conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
          .filter(_.nonEmpty).map(bytes).getOrElse(static)
      else static
    thr > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thr)
  }

  /** Public-to-the-library variant of the degenerate-layout guard: a
    * SCAN-SHAPED plan (no join/agg/sort/window/repartition upstream)
    * sitting on far fewer partitions than the session target gets
    * spread before per-row-expensive pipelines — a single small file
    * otherwise runs the whole downstream chain on one core (the
    * lesson of the removed grid cell join, generalized). Costs one plan
    * inspection + an RDD-lineage partition count (no job). */
  private[graft] def spreadIfDegenerate(df: DataFrame): DataFrame = {
    val scanShaped = df.queryExecution.optimizedPlan.collectFirst {
      case p @ (_: Join | _: Aggregate | _: Sort | _: Window | _: RepartitionOperation) => p
    }.isEmpty
    if (!scanShaped) return df
    val spark = df.sparkSession
    val target = Try(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }
}
