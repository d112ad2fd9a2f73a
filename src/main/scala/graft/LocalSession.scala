package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main runs in: `local[cpus]` with
  * one shuffle partition per core, UTC, the UI off and
  * [[graft.plans.GraftExtensions]] installed. Runs are comparable only
  * at the same core count, so the count comes from `SPARK_GRAFT_CPUS`
  * (else the JVM's processor count); only the demos pass a small fixed
  * count.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"),
    Runtime.getRuntime.availableProcessors)

  /** Parses a `SPARK_GRAFT_CPUS` value: unset or blank falls back to
    * `processors`; a non-integer or a count below 1 (which would build
    * `local[0]`, rejected by Spark with an unrelated message) is rejected
    * with a message naming the variable. */
  def parseCpus(value: Option[String], processors: Int): Int =
    value.map(_.trim).filter(_.nonEmpty) match {
      case None => processors
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS='$v' is not a core count (an integer >= 1)"))
    }

  /** Parses a `SPARK_GRAFT_CONFS` value (the conf overrides
    * [[graft.Probe]] passes to [[build]] for kill-switch A/Bs):
    * comma-separated `key=value` entries, the value keeping any further
    * `=`. Empty entries (and an empty string) are skipped; an entry
    * without `=` or with an empty key is rejected with a message naming
    * it. */
  def parseConfs(spec: String): Seq[(String, String)] =
    spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONFS entry '$kv' is not key=value")
      }
    }

  /** Builds (or returns the active) local session. `extra` confs are
    * main-specific settings, applied last: a state-store provider, or
    * the probe's `SPARK_GRAFT_CONFS` overrides. */
  def build(cpus: Int = LocalSession.cpus, logLevel: String = "ERROR",
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Isolation between timed runs: drop anything a query left in the
    * SQL cache AND any pinned localCheckpoint blocks (Materialize.pin)
    * — catalog clearCache misses those, and 100+ queries' worth of
    * orphaned blocks degrade the shared block manager enough to triple
    * the later iterative queries' times. The result frames are never
    * re-read after their action, so dropping their truncated-lineage
    * blocks is safe. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // blocking: async removal would land DURING the next query's
    // run — the exact adjacency churn this isolation exists to stop
    // (r5's order_spread_max 6.9 on a 0.3 s query right after the
    // iterative block-heavy ones)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
