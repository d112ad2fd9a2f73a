package graft.examples

import org.apache.spark.sql.SparkSession

/** Plan diagnostic: print the executed plan of one SparkEntry query
  * plus exchange/scan/reuse counts — the per-query audit loop behind
  * COVERAGE.md's plan claims.
  *
  * Usage: runMain graft.examples.PlanProbe <queryName> [sfDir] [full]
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // collect() (not count()) so the action runs THIS queryExecution and
    // the printed plan is the AQE-final one, with runtime stage reuse.
    df.collect()
    val t0 = System.nanoTime()
    df.collect()
    println(f"[planprobe] $name warm=${(System.nanoTime - t0) / 1e9}%.3f s")
    // Count only the AQE-final section; the toString also appends the
    // "== Initial Plan ==" which would double every operator.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    def n(pat: String) = pat.r.findAllIn(plan).length
    println(s"[planprobe] $name " +
      s"shuffles=${n("""Exchange (hash|range|SinglePartition)""")} " +
      s"broadcasts=${n("BroadcastExchange")} reused=${n("ReusedExchange")} " +
      s"scans=${n("Scan parquet")} wholestage=${n("""\*\(\d+\)""")}")
    if (args.contains("full")) println(plan)
    spark.stop()
  }
}
