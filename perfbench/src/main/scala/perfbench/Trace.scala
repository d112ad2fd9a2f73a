package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same base
  * as the `System.currentTimeMillis` stamps Spark's listener events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, start: Double,
    end: Double, attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
  def contains(t: Double): Boolean = t >= start && t <= end
}

/** JVM-wide readings taken by the benchmark thread at pass boundaries. */
final case class JvmReading(gcMs: Long, codeCacheMb: Double,
    codegenCompiles: Long, codegenMeanMs: Double)

object JvmReading {
  def now(): JvmReading = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val code = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    JvmReading(gc, code / 1048576.0, h.getCount, h.getSnapshot.getMean)
  }
}

/** The benchmark's own spans (workload, pass, query, build, op, leg),
  * recorded in every run: they carry the timings the end-to-end metrics
  * are computed from. Listener-derived spans are added only by [[Tracer]]. */
final class Spans(val runId: String) {
  private val ids = new AtomicLong(1)
  private val buf = ArrayBuffer.empty[Span]
  private val current = new AtomicReference[List[Long]](Nil)

  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Runs `body` inside a span whose parent is the enclosing span of this
    * thread; returns the result and the span. */
  def timed[T](name: String, attrs: Map[String, Any] = Map.empty)(
      body: => T): (T, Span) = {
    val id = newId()
    val stack = current.get
    val parent = stack.headOption.getOrElse(0L)
    current.set(id :: stack)
    val t0 = Clock.nowMs
    try {
      val r = body
      val s = Span(id, parent, name, t0, Clock.nowMs, attrs)
      add(s)
      (r, s)
    } catch {
      case e: Throwable =>
        add(Span(id, parent, name, t0, Clock.nowMs, attrs + ("error" -> true)))
        throw e
    } finally current.set(stack)
  }
}

/** Listener-side recorder of the traced run. Every number comes from a
  * public Spark listener API: [[SparkListener]] (jobs, stages, task
  * metrics, block updates), [[QueryExecutionListener]] (planning phases and
  * rule statistics of `qe.tracker`), [[StreamingQueryListener]] (micro-batch
  * progress) and `CodegenMetrics` (read at pass boundaries). Records are
  * kept in memory and turned into spans and per-window counters when the
  * run ends. */
final class Tracer(spans: Spans) {
  final case class JobRec(id: Int, start: Long, stageIds: Seq[Int],
      streamQuery: Option[String], streamBatch: Option[Long]) {
    @volatile var end: Long = -1L
  }
  final case class StageRec(id: Int, attempt: Int, submit: Long,
      complete: Long, tasks: Int, cpuNs: Long, runMs: Long, inBytes: Long,
      inRows: Long, outBytes: Long, outRows: Long, shWrite: Long,
      shRead: Long, fetchWaitMs: Long, memSpill: Long, diskSpill: Long)
  final case class QeRec(at: Long, phases: Map[String, (Long, Long)],
      graftRuleNs: Long, graftRuleRuns: Long, graftRuleEffective: Long,
      fanExchanges: Int)
  final case class BlockRec(at: Long, rdd: Int, bytes: Long)
  final case class ProgressRec(query: String, batch: Long, start: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long,
      stateCommitMs: Long, stateUpdateMs: Long, lateRows: Long,
      inputRows: Long)

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val qes = ArrayBuffer.empty[QeRec]
  private val blocks = ArrayBuffer.empty[BlockRec]
  private val progress = ArrayBuffer.empty[ProgressRec]
  private val events = new AtomicLong(0)

  private def rec[T](b: ArrayBuffer[T], x: T): Unit = {
    b.synchronized(b += x)
    events.incrementAndGet()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      rec(jobs, JobRec(e.jobId, e.time, e.stageIds,
        prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId").map(_.toLong)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.synchronized(jobs.find(_.id == e.jobId)).foreach(_.end = e.time)
      events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val end = s.completionTime.getOrElse(System.currentTimeMillis())
      if (m == null)
        rec(stages, StageRec(s.stageId, s.attemptNumber(),
          s.submissionTime.getOrElse(end), end, s.numTasks,
          0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else rec(stages, StageRec(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(end), end, s.numTasks,
        m.executorCpuTime, m.executorRunTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        rec(blocks, BlockRec(System.currentTimeMillis(),
          b.blockId.asRDDId.get.rddId, b.memSize + b.diskSize))
    }
  }

  /** Planning phases and graft rule statistics of one query execution,
    * stamped with the start of its first phase. */
  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val graft = t.rules.filter(_._1.startsWith("graft."))
    val fans = qe.optimizedPlan.collectWithSubqueries {
      case r: RepartitionByExpression => r
    }.size
    rec(qes, QeRec(phases.values.map(_._1).minOption.getOrElse(System.currentTimeMillis()),
      phases, graft.values.map(_.totalTimeNs).sum, graft.values.map(_.numInvocations).sum,
      graft.values.map(_.numEffectiveInvocations).sum, fans))
  }

  /** A built query's own execution: its analysis, with the injected
    * analyzer rules, runs when the DataFrame is built, before the action
    * whose execution the listener reports. */
  def recordBuilt(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val analysis = t.phases.get("analysis").map(v => "analysis" -> (v.startTimeMs, v.endTimeMs))
    val graft = t.rules.filter(_._1.startsWith("graft."))
    rec(qes, QeRec(analysis.map(_._2._1).getOrElse(System.currentTimeMillis()),
      analysis.toMap, graft.values.map(_.totalTimeNs).sum,
      graft.values.map(_.numInvocations).sum,
      graft.values.map(_.numEffectiveInvocations).sum, 0))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      rec(progress, ProgressRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
        ops.map(_.numRowsDroppedByWatermark).sum, p.numInputRows))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until none has arrived
    * for 300 ms (at most 10 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(300)
    }
  }

  private def snap[T](b: ArrayBuffer[T]): List[T] = b.synchronized(b.toList)

  /** Spans derived from listener records, parented into the benchmark's
    * spans: planning phases and jobs under the innermost benchmark span
    * that contains their start, stages under their job, micro-batches
    * under their stream leg and their named durations laid out in the
    * order the micro-batch runs them. Micro-batch phases have no start
    * stamps of their own, so those starts are derived. */
  def derivedSpans(bench: Seq[Span]): Seq[Span] = {
    val depth = scala.collection.mutable.Map.empty[Long, Int]
    val byId = bench.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      byId.get(s.parent).map(p => d(p) + 1).getOrElse(0))
    def innermost(t: Double): Long = bench.filter(_.contains(t))
      .sortBy(s => -d(s)).headOption.map(_.id).getOrElse(0L)
    val out = ArrayBuffer.empty[Span]
    snap(qes).foreach { q =>
      q.phases.foreach { case (name, (s, e)) =>
        out += Span(spans.newId(), innermost(s.toDouble), name, s, e)
      }
    }
    val batchSpan = scala.collection.mutable.Map.empty[(String, Long), Long]
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    snap(progress).foreach { p =>
      val id = spans.newId()
      val total = p.durations.getOrElse("triggerExecution", 0L)
      batchSpan((p.query, p.batch)) = id
      out += Span(id, innermost(p.start.toDouble), "microbatch", p.start,
        p.start + total, Map("batch" -> p.batch, "rows" -> p.inputRows))
      var t = p.start.toDouble
      order.foreach { k =>
        p.durations.get(k).foreach { ms =>
          out += Span(spans.newId(), id, k, t, t + ms)
          t += ms
        }
      }
    }
    val stageById = snap(stages).groupBy(_.id)
    snap(jobs).filter(_.end >= 0).foreach { j =>
      val parent = (for (q <- j.streamQuery; b <- j.streamBatch;
        id <- batchSpan.get((q, b))) yield id)
        .getOrElse(innermost(j.start.toDouble))
      val id = spans.newId()
      out += Span(id, parent, "job", j.start, j.end, Map("job" -> j.id))
      j.stageIds.flatMap(stageById.getOrElse(_, Nil)).foreach { s =>
        out += Span(spans.newId(), id, "stage", s.submit, s.complete,
          Map("stage" -> s.id, "tasks" -> s.tasks))
      }
    }
    out.toList
  }

  /** Per-layer counters over the window [from, to] (epoch ms). `queries`
    * are the query (or stream leg) spans inside the window, `cores` the
    * local[N] width. */
  def window(from: Double, to: Double, queries: Seq[Span], cores: Int,
      before: JvmReading, after: JvmReading): Map[String, Double] = {
    def in(t: Double) = t >= from && t <= to
    val js = snap(jobs).filter(j => in(j.start.toDouble))
    val jobStages = js.flatMap(_.stageIds).toSet
    val st = snap(stages).filter(s => in(s.complete.toDouble))
    val qs = snap(qes).filter(q => in(q.at.toDouble))
    val bl = snap(blocks).filter(b => in(b.at.toDouble))
    val pr = snap(progress).filter(p => in(p.start.toDouble))
    def phase(name: String) = qs.flatMap(_.phases.get(name))
      .map { case (s, e) => (e - s).toDouble }.sum
    val gap = queries.map { q =>
      val ivs = js.filter(j => j.end >= 0)
        .map(j => (math.max(j.start.toDouble, q.start), math.min(j.end.toDouble, q.end)))
        .filter { case (s, e) => e > s }
      q.dur - Spans.unionLength(ivs)
    }.sum
    val cpuMs = st.map(_.cpuNs).sum / 1e6
    val wall = to - from
    val runs = qs.map(_.graftRuleRuns).sum
    def dur(k: String) = pr.flatMap(_.durations.get(k)).map(_.toDouble)
    def perBatch(xs: Seq[Double]) = if (pr.isEmpty) 0.0 else xs.sum / pr.size
    val lastPerQuery = pr.groupBy(_.query).values.map(_.maxBy(_.batch))
    Map(
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimize_ms" -> phase("optimization"),
      "plans.physical_ms" -> phase("planning"),
      "plans.graft_rule_ms" -> qs.map(_.graftRuleNs).sum / 1e6,
      "plans.graft_rule_effective_ratio" ->
        (if (runs == 0) 0.0 else qs.map(_.graftRuleEffective).sum.toDouble / runs),
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.count(s => jobStages(s.id)).toDouble,
      "sched.tasks" -> st.map(_.tasks).sum.toDouble,
      "sched.driver_gap_ms" -> gap,
      "sched.jobs_per_query" ->
        (if (queries.isEmpty) 0.0 else js.size.toDouble / queries.size),
      "Tables.scan_bytes" -> st.map(_.inBytes).sum.toDouble,
      "Tables.scan_rows" -> st.map(_.inRows).sum.toDouble,
      "Tables.fan_exchanges" -> qs.map(_.fanExchanges).sum.toDouble,
      "exec.task_cpu_ms" -> cpuMs,
      "exec.task_run_ms" -> st.map(_.runMs).sum.toDouble,
      "exec.cpu_util" -> (if (wall <= 0) 0.0 else cpuMs / (cores * wall)),
      "codegen.compile_ms" -> (after.codegenCompiles - before.codegenCompiles) *
        after.codegenMeanMs,
      "codegen.classes" -> (after.codegenCompiles - before.codegenCompiles).toDouble,
      "shuffle.write_bytes" -> st.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_ms" -> st.map(_.fetchWaitMs).sum.toDouble,
      "memory.spill_bytes" -> st.map(s => s.memSpill + s.diskSpill).sum.toDouble,
      "ext.pin_count" -> bl.map(_.rdd).distinct.size.toDouble,
      "ext.pin_bytes" -> bl.map(_.bytes).sum.toDouble,
      "sources.write_bytes" -> st.map(_.outBytes).sum.toDouble,
      "sources.write_rows" -> st.map(_.outRows).sum.toDouble,
      "streaming.batches" -> pr.size.toDouble,
      "streaming.batch_ms" -> perBatch(dur("triggerExecution")),
      "streaming.plan_ms" -> perBatch(dur("queryPlanning")),
      "streaming.add_batch_ms" -> perBatch(dur("addBatch")),
      "streaming.commit_ms" -> perBatch(dur("commitOffsets") ++ dur("walCommit")),
      "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "streaming.state_bytes" -> lastPerQuery.map(_.stateBytes).sum.toDouble,
      "streaming.state_commit_ms" -> perBatch(pr.map(_.stateCommitMs.toDouble)),
      "streaming.state_update_ms" -> perBatch(pr.map(_.stateUpdateMs.toDouble)),
      "streaming.late_rows" -> pr.map(_.lateRows).sum.toDouble,
      "jvm.gc_ms" -> (after.gcMs - before.gcMs).toDouble,
      "jvm.code_cache_mb" -> after.codeCacheMb)
  }
}

object Spans {
  /** Total length covered by a set of intervals. */
  def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children clipped to the parent). Also returns the
    * time siblings run concurrently (on local[N] the stages of a job, say),
    * which the sum of self times counts more than once, and the children
    * that reach outside their parent by more than 1 ms, with the time they
    * spend there. Listener stamps are whole milliseconds taken on Spark's
    * threads (a job's end is stamped after its action returns, a
    * micro-batch's progress after `processAllAvailable` returns), so a
    * derived child can overhang its parent by a few milliseconds. */
  def selfTimes(all: Seq[Span]): (Map[Long, Double], Double, Int, Double) = {
    val kids = all.groupBy(_.parent)
    var outside = 0
    var outsideMs = 0.0
    var overlap = 0.0
    val self = all.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
      cs.foreach { c =>
        val over = math.max(0.0, s.start - c.start) + math.max(0.0, c.end - s.end)
        if (over > 1) outside += 1
        outsideMs += math.min(over, c.dur)
      }
      val ivs = cs.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      val covered = unionLength(ivs)
      overlap += ivs.map { case (a, b) => b - a }.sum - covered
      s.id -> (s.dur - covered)
    }.toMap
    (self, overlap, outside, outsideMs)
  }
}
