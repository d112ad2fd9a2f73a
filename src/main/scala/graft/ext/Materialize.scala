package graft.ext

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Single materialization point for every graft operator that needs an
  * eager, lineage-cutting pin (iterative loops whose plans would grow
  * exponentially, placement-sensitive two-phase scans, snapshots that
  * must not recompute from a directory being overwritten).
  *
  * Two modes, selected by the session conf `graft.checkpoint.reliable`:
  *
  *  - `false` (default): `localCheckpoint(eager = true)`. Blocks live on
  *    executors with NO lineage to recompute — fast, zero-config, and
  *    (unlike `DataFrame.persist`) never registered in the SQL cache
  *    manager, so the blocks are reclaimed by the ContextCleaner as soon
  *    as the DataFrame is garbage-collected instead of leaking until
  *    `unpersist()`/session end. The trade-off: on a real multi-executor
  *    cluster, losing an executor mid-job fails the job loudly (there is
  *    nothing to recompute from).
  *  - `true`: reliable `checkpoint(eager = true)` against the
  *    SparkContext checkpoint directory — survives executor loss, the
  *    right mode for 100 TB runs where a 1000-executor job WILL see node
  *    failures. Requires `spark.sparkContext.setCheckpointDir(...)` (a
  *    shared filesystem path on a real cluster); set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` or use a
  *    job-scoped directory so checkpoint files do not accumulate.
  *
  * [[pin]] pins a DataFrame with its own eager job; [[pinRdd]] pins an
  * RDD inside the caller's next action, so an RDD-level operator (the
  * rounds of [[VertexLoop]]) pays no separate pin job.
  */
object Materialize {

  val ReliableConf = "graft.checkpoint.reliable"

  /** When `spark.graft.plans.capturePins=true` (default off — evidence
    * tooling only, zero work on query paths otherwise), every [[pin]]
    * also appends the pinned frame's FORMATTED explain, and every
    * [[pinRdd]] the pinned RDD's lineage, to its session's buffer.
    * A top-level `explain` stops at the pin's ExistingRDD scan, so the
    * subplan a pin materializes — where optimizations inside operators
    * like JaccardJoin.selfJoin live — is otherwise invisible to the
    * committed plan artifacts. Drained by [[drainCapturedPlans]]
    * (Probe dump appends the sections to its output files). The buffer
    * is per SparkSession, so sessions pinning concurrently never see
    * each other's plans, and it dies with its session. */
  val CapturePinsConf = "spark.graft.plans.capturePins"

  private val captured =
    graft.SessionCaches.newRegistry[ConcurrentLinkedQueue[String]]()

  private def capture(spark: SparkSession, plan: => String): Unit =
    if (spark.conf.get(CapturePinsConf, "false").toBoolean)
      graft.SessionCaches.perSession(captured, spark)(
        new ConcurrentLinkedQueue[String]).add(plan): Unit

  private def reliable(spark: SparkSession): Boolean =
    spark.conf.get(ReliableConf, "false").toBoolean

  /** Drain and return every subplan `spark` captured since its last
    * drain. */
  def drainCapturedPlans(spark: SparkSession): Seq[String] = {
    val out = Seq.newBuilder[String]
    Option(captured.get(spark)).foreach { q =>
      var s = q.poll()
      while (s != null) { out += s; s = q.poll() }
    }
    out.result()
  }

  /** Eagerly materialize `df` and cut its lineage (see object docs for
    * the local-vs-reliable trade-off). */
  def pin(df: DataFrame): DataFrame = {
    val pinned =
      if (reliable(df.sparkSession)) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    // after the eager checkpoint the adaptive plan is final, so this
    // is the plan the pin job actually ran
    capture(df.sparkSession, df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    pinned
  }

  /** Mark `rdd` as a pin in `spark`'s checkpoint mode, then run
    * `action` over it: the action's job computes the partitions and the
    * pin keeps them, cutting the lineage once the job ends (local mode
    * adds no job; reliable mode adds the checkpoint-write job, which
    * reads the persisted blocks instead of recomputing). Returns the
    * action's result; `rdd` is the pin from then on, released with
    * `rdd.unpersist()`. */
  def pinRdd[T, R](spark: SparkSession, rdd: RDD[T])(action: RDD[T] => R): R = {
    if (reliable(spark)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    capture(spark, rdd.toDebugString)
    action(rdd)
  }

  /** Deterministically drop a pinned frame's blocks, for operators that
    * KNOW the frame is superseded (an old iteration round, a scaffold
    * table already folded into a later pin). No-op on frames that are
    * not bare pinned scans. The ContextCleaner would reclaim the same
    * blocks on GC eventually; iterative operators that pin every round
    * should not gamble query-over-query block-manager health on GC
    * timing — a released round must NEVER be evaluated again. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlBridge.pinnedRddOf(df)
      .foreach(_.unpersist(blocking = false))
}
