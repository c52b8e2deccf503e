package graft.tools

import org.apache.spark.sql.SparkSession

/** Executes named queries through the noop sink and prints the FINAL
  * (post-AQE) physical plan — the initial plan (`isFinalPlan=false`)
  * hides AQE coalescing decisions, runtime join-strategy changes and
  * (missing) exchange reuse.
  * Usage: runMain graft.tools.PlanRun [sfDir] q1 q2 ... */
object PlanRun {
  def main(args: Array[String]): Unit = {
    val (dir, names) =
      if (args.nonEmpty && args.head.startsWith("/")) (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.1", args.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      // executedPlan after the action shows the final adaptive plan
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
