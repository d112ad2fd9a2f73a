package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scale-adaptive fan-out for small scans feeding expensive work
  * (optimization guide §2.5 "input skew" / §6 input-split sizing).
  *
  * Parquet scan parallelism is bounded by row groups: a table written
  * as one row group is ONE task no matter how
  * `spark.sql.files.maxPartitionBytes` / `minPartitionNum` slice the
  * byte range (split offsets that contain no row-group start read
  * nothing). The bench fixtures are single-row-group files, so every
  * derivation/expansion fused onto such a scan runs on one core of the
  * 32 — measured r16: the q_dsreal_q48 scan+derive+agg stage was 3
  * tasks (1 doing all work) at 1.54 s of pure CPU, and the inventory
  * expansion (part x weeks x warehouses, 10.5M rows) ran its 116 MB
  * shuffle write on ONE task for 2.56 s.
  *
  * [[fanOut]] repartitions the frame to the session's default
  * parallelism — but ONLY while the optimizer's size estimate is under
  * [[MaxInputBytes]] (256 MB): in that regime
  * the extra exchange moves a bounded, trivial number of bytes and
  * unlocks every core for the work above it; past the threshold real
  * inputs carry many row groups/files, the scan is already parallel,
  * and the extra shuffle would be pure cost — so the node is not
  * added. The gate reads the PLAN estimate (file bytes for parquet),
  * never runs a job, and is decided per scale factor automatically —
  * exactly the "derive partitioning from input size, not a constant"
  * posture the optimization guide asks for.
  *
  * Hash-repartition on caller-supplied keys (not round-robin):
  * deterministic row placement under retries (SPARK-38388 class of
  * bugs) and no sort-before-repartition pass (SPARK-23207 makes
  * keyless repartition sort its input first).
  *
  * Kill switch: `spark.graft.fanout.enabled=false` restores the
  * pre-r16 plans byte-for-byte. It is the one fan-out option.
  */
object FanOut {
  val EnabledConf = "spark.graft.fanout.enabled"

  /** Largest plan-estimated input that is fanned out. */
  private val MaxInputBytes = 256L << 20

  /** Input bytes per partition of [[fanOutSized]]. */
  private val TargetPartitionBytes = 2L << 20

  def enabled(spark: SparkSession): Boolean =
    spark.conf.get(EnabledConf, "true").toBoolean

  /** `key` for a memo of frames built through the fan-out: a frame
    * built with the kill switch flipped gets another key, so a
    * mid-session flip (specs, `graft.Probe fanab`) rebuilds the frame
    * instead of serving the one built under the previous setting. */
  def keyed(spark: SparkSession, key: String): String =
    if (enabled(spark)) key else key + "#nofan"

  /** Fan width for COMPUTE-BOUND consumers (vector scoring, shingling/
    * tokenization, row-expansion, encode+write): the work above the
    * exchange dwarfs per-task overhead, so every core pays off —
    * width = the session's default parallelism. */
  def fanOut(df: DataFrame, keys: Column*): DataFrame =
    fanned(df, keys, sized = false)

  /** Fan width for DERIVATION/IO-BOUND consumers (column derivation,
    * broadcast-join probe pipelines, aggregation): measured r16 (clean
    * fresh-JVM probes, sf0.1), these saturate at a handful of tasks —
    * q_dsreal_q48 0.52 s at width 4 vs 0.83 s at width 32, and every
    * additional task only adds launch/stage overhead to the ~80 cheap
    * queries sharing the table. Width therefore derives from the
    * INPUT SIZE (one partition per [[TargetPartitionBytes]], 2 MB,
    * clamped to [2, defaultParallelism]) — scale-adaptive in
    * both directions, never a constant tuned to one box. */
  def fanOutSized(df: DataFrame, keys: Column*): DataFrame =
    fanned(df, keys, sized = true)

  private def fanned(df: DataFrame, keys: Seq[Column],
      sized: Boolean): DataFrame = {
    require(keys.nonEmpty, "fanOut needs at least one partitioning key")
    val spark = df.sparkSession
    if (!enabled(spark)) df
    else {
      // plan-level estimate (file bytes for a parquet scan): no job,
      // no listing beyond what the scan itself already did
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est <= MaxInputBytes) {
        val para = spark.sparkContext.defaultParallelism
        val parts =
          if (sized) {
            val byBytes = (est / TargetPartitionBytes).toLong
            math.max(2L, math.min(para.toLong, byBytes)).toInt
          } else para
        df.repartition(parts, keys: _*)
      } else df
    }
  }
}
