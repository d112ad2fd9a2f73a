package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.ext.{FanOut, Materialize}
import graft.plans.RuleCensus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** The profiling harness: `graft.Probe <mode> <query>...` asks one
  * question of named [[SparkEntry]] queries in a [[LocalSession]] and
  * prints one greppable line prefix per mode (see [[Usage]]). Queries
  * read `SPARK_GRAFT_SF_DIR`, else the mode's default scale;
  * `SPARK_GRAFT_CONFS=k=v,...` sets confs on the session `main` builds
  * (kill-switch A/Bs; no other main reads it).
  *
  *   sbt -batch "runMain graft.Probe jobs q_pagerank"
  *
  * Invoke `time` with ONE query per JVM for a clean reading: an
  * in-session number carries session history (JIT state, block-manager
  * churn, adjacency).
  */
object Probe {

  private val Data = "/root/testdata"

  /** Per mode: the arguments before the query names, the default scale,
    * the handler (session, scale, those arguments, query names), and
    * whether at least one query name is required. */
  private final case class Mode(leading: Seq[String], sf: String,
      run: (SparkSession, String, Seq[String], Seq[String]) => Unit,
      needsQueries: Boolean = true)

  private val Modes: Map[String, Mode] = Map(
    "time" -> Mode(Nil, s"$Data/sf0.1", (s, sf, _, qs) => time(s, sf, qs)),
    "fanab" -> Mode(Nil, s"$Data/sf0.1", (s, sf, _, qs) => fanAb(s, sf, qs)),
    "jobs" -> Mode(Nil, s"$Data/sf0.1", (s, sf, _, qs) => jobs(s, sf, qs)),
    "stages" -> Mode(Nil, s"$Data/sf0.1", (s, sf, _, qs) => stages(s, sf, qs)),
    "phases" -> Mode(Nil, s"$Data/sf0.1", (s, sf, _, qs) => phases(s, sf, qs)),
    "plan" -> Mode(Nil, s"$Data/sf0.01", (s, sf, _, qs) => plan(s, sf, qs)),
    "dump" -> Mode(Seq("outDir", "suffix"), s"$Data/sf0.1",
      (s, sf, a, qs) => dump(s, sf, a(0), a(1), qs)),
    "census" -> Mode(Nil, s"$Data/sf0.001",
      (s, sf, _, qs) => census(s, sf, qs), needsQueries = false))

  val Usage: String =
    """usage: graft.Probe <mode> <query>...        (-> output line prefix)
      |  time <q>...     -> CLEAN: untimed warm-up, then min of 3 isolated
      |                  runs and the generated classes those 3 compiled
      |  fanab <q>...    -> FANAB: same-JVM min-of-3, fan-out on vs off
      |  jobs <q>...     -> JOBS: one warm run's jobs and its driver gap
      |  stages <q>...   -> STAGES: one warm run's stages (wall, task time,
      |                  CPU, input and shuffle bytes)
      |  phases <q>...   -> PHASE: build / plan / exec and tracker phases
      |  plan <q>...     -> OK|FAIL, AUDIT, [planprobe]: rows, planned and
      |                  physical lineitem subtrees, exchanges, scans,
      |                  whole-stage count; full stack on failure
      |  dump <outDir> <suffix> <q>...
      |                  -> [plandump]: explain(formatted), AQE-final plan
      |                  and pinned subplans to <outDir>/<q>_<suffix>.txt
      |  census          -> FIRES|UNSTABLE|ERR: every query whose plan
      |                  changes with an injected rule on vs off
      |  census <q>...   -> STABLE|DIFFERS: two rebuilds of each analyzed
      |                  plan compared
      |SPARK_GRAFT_SF_DIR sets the scale (default sf0.001 for census,
      |sf0.01 for plan, sf0.1 for the rest); SPARK_GRAFT_CONFS=k=v,...
      |sets confs on the probe's session (kill-switch A/Bs).""".stripMargin

  def main(args: Array[String]): Unit = {
    val overrides =
      try {
        parse(args.toSeq)
        LocalSession.parseConfs(sys.env.getOrElse("SPARK_GRAFT_CONFS", ""))
      } catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val spark = LocalSession.build(extra = overrides)
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs one mode on `spark`; `sfDir` None means the mode's default.
    * Arguments are checked before any Spark work: a bad mode or query
    * name throws IllegalArgumentException carrying [[Usage]]. */
  def run(spark: SparkSession, args: Seq[String],
      sfDir: Option[String] = sys.env.get("SPARK_GRAFT_SF_DIR")): Unit = {
    val (mode, leading, names) = parse(args)
    mode.run(spark, sfDir.getOrElse(mode.sf), leading, names)
  }

  private def parse(args: Seq[String]): (Mode, Seq[String], Seq[String]) = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$Usage")
    val name = args.headOption.getOrElse(fail("no mode given"))
    val mode = Modes.getOrElse(name, fail(s"unknown mode '$name'"))
    val (leading, names) = args.tail.splitAt(mode.leading.size)
    if (leading.size < mode.leading.size)
      fail(s"$name needs ${mode.leading.mkString(" ")}")
    if (mode.needsQueries && names.isEmpty)
      fail(s"$name needs at least one query")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(" ")}")
    (mode, leading, names)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timedCount(spark: SparkSession, sf: String,
      name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sf).count()
    seconds(t0)
  }

  /** Runs `body`, then puts `key` back as it was before. */
  private def restoring[A](spark: SparkSession, key: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Bench's protocol in a JVM that has done nothing else: the first
    * run is the untimed warm-up, the min of the next three is reported,
    * isolated between runs. A warm run that still compiles generated
    * classes emits code whose text differs on every run, which no
    * compiled-class cache size can reuse. */
  private def time(spark: SparkSession, sf: String,
      names: Seq[String]): Unit = names.foreach { name =>
    def once(): Double = {
      val t = timedCount(spark, sf, name)
      LocalSession.isolate(spark)
      t
    }
    val warmUp = once()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val timed = Seq.fill(3)(once())
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    println(f"CLEAN $name min=${timed.min}%.2f " +
      f"samples=${(warmUp +: timed).map(s => f"$s%.2f").mkString(",")} " +
      s"sf=$sf compiles=$compiles")
  }

  /** Same-JVM fan-out A/B: min-of-3 warm runs with the fan-out on, then
    * off (the kill switch rides through every Tables/DsTables memo key,
    * so flipping it mid-session really rebuilds the frames), then on
    * again to guard drift within the slot. Interleaved per query, so
    * cross-session variance cannot enter the comparison. */
  private def fanAb(spark: SparkSession, sf: String,
      names: Seq[String]): Unit = restoring(spark, FanOut.EnabledConf) {
    def best3(name: String, fan: Boolean): Double = {
      spark.conf.set(FanOut.EnabledConf, fan.toString)
      val ts = Seq.fill(3)(timedCount(spark, sf, name))
      LocalSession.isolate(spark)
      ts.min
    }
    names.foreach { name =>
      best3(name, fan = true) // warm-up slot (JIT of shared operators)
      val on = best3(name, fan = true)
      val off = best3(name, fan = false)
      val on2 = best3(name, fan = true)
      println(f"FANAB $name on=${math.min(on, on2)}%.3f off=$off%.3f " +
        f"delta=${off - math.min(on, on2)}%+.3f (on1=$on%.3f on2=$on2%.3f)")
    }
  }

  /** Job and stage events of one run. */
  private final class RunEvents extends SparkListener {
    val jobStarts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]
    val stages = new ConcurrentLinkedQueue[StageInfo]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add(e): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo): Unit
  }

  /** One warm run (after an untimed warm-up) with its events: the wall
    * seconds of its `.count()` and what the listener bus delivered. */
  private def observedWarmRun(spark: SparkSession, sf: String,
      name: String): (Double, RunEvents) = {
    timedCount(spark, sf, name) // warm-up (JIT/codegen), untimed
    LocalSession.isolate(spark)
    val events = new RunEvents
    spark.sparkContext.addSparkListener(events)
    val total =
      try timedCount(spark, sf, name)
      finally {
        GraftSqlBridge.awaitListeners(spark)
        spark.sparkContext.removeSparkListener(events)
      }
    LocalSession.isolate(spark)
    (total, events)
  }

  /** Where the wall goes for driver-loop queries: per-job wall
    * (submission -> completion), job count, and the DRIVER GAP (total
    * wall minus time covered by at least one running job) — "the stages
    * are slow" versus "the driver spends the time between jobs" (AQE
    * replanning, pin bookkeeping, broadcast scheduling). */
  private def jobs(spark: SparkSession, sf: String,
      names: Seq[String]): Unit = names.foreach { name =>
    val (total, events) = observedWarmRun(spark, sf, name)
    val ends = events.jobEnds.asScala.map(e => e.jobId -> e.time).toMap
    val js = events.jobStarts.asScala.toSeq.sortBy(_.jobId)
      .flatMap(s => ends.get(s.jobId).map(s -> _))
    // union of job intervals = time at least one job was running
    val covered = js.map { case (s, end) => (s.time, end) }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (s, e)) =>
        if (s > hi) (acc + (e - s), e)
        else (acc + math.max(0L, e - hi), math.max(hi, e))
      }._1 / 1e3
    val jobSum = js.map { case (s, end) => (end - s.time) / 1e3 }.sum
    println(f"JOBS $name warm_total=$total%.2f n_jobs=${js.size} " +
      f"job_wall_union=$covered%.2f job_wall_sum=$jobSum%.2f " +
      f"driver_gap=${total - covered}%.2f")
    js.foreach { case (s, end) =>
      val first = s.stageInfos.headOption
        .map(_.name.takeWhile(_ != '\n').take(50)).getOrElse("")
      println(f"  job=${s.jobId}%3d wall=${(end - s.time) / 1e3}%6.3f " +
        f"stages=${s.stageIds.size} " +
        f"tasks=${s.stageInfos.map(_.numTasks).sum}%4d $first")
    }
  }

  /** Where task time goes: per stage of one warm run, the wall
    * (submission -> completion), summed task time, executor CPU time,
    * input and shuffle bytes — the stage page of the Spark UI, which
    * these sessions disable. */
  private def stages(spark: SparkSession, sf: String,
      names: Seq[String]): Unit = names.foreach { name =>
    val (total, events) = observedWarmRun(spark, sf, name)
    val stages = events.stages.asScala.toSeq
    def wall(si: StageInfo): Double = (for {
      s <- si.submissionTime; c <- si.completionTime
    } yield (c - s) / 1e3).getOrElse(-1.0)
    println(f"STAGES $name warm_total=$total%.2f n_stages=${stages.size}")
    stages.sortBy(-wall(_)).take(20).foreach { si =>
      val m = si.taskMetrics
      println(f"  stage=${si.stageId} wall=${wall(si)}%6.2f " +
        f"taskSum=${m.executorRunTime / 1e3}%6.2f " +
        f"cpu=${m.executorCpuTime / 1e9}%6.2f " +
        f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
        f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1fMB " +
        f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1fMB " +
        s"tasks=${si.numTasks} ${si.name.takeWhile(_ != '\n').take(60)}")
    }
  }

  /** Where a run's wall goes — plan build + analysis, optimization +
    * physical planning, or execution — plus the QueryExecutionTracker
    * phases; run 2 is the warm reading Bench's min reports. */
  private def phases(spark: SparkSession, sf: String,
      names: Seq[String]): Unit = names.foreach { name =>
    val fn = SparkEntry.queries(name)
    (1 to 2).foreach { run =>
      // fn() = plan build + analysis; executedPlan = optimization +
      // physical planning of this QueryExecution (no re-plan later);
      // collect() = execution of exactly that plan. Bench's count()
      // pays the same three phases on an almost-identical tree.
      val t0 = System.nanoTime()
      val df = fn(spark, sf)
      val tBuild = seconds(t0)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val tPlan = seconds(t1)
      val t2 = System.nanoTime()
      df.collect()
      val tExec = seconds(t2)
      val tracked = df.queryExecution.tracker.phases
        .map { case (p, s) => f"$p=${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f" }
        .toSeq.sorted.mkString(" ")
      println(f"PHASE $name run$run build=$tBuild%.2f plan=$tPlan%.2f " +
        f"exec=$tExec%.2f $tracked")
      LocalSession.isolate(spark)
    }
  }

  /** The AQE-final section of an executed plan's string: the string
    * also appends the "== Initial Plan ==", which would double every
    * operator. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  /** Plan audit and triage: rows, lineitem subtrees planned (the
    * PlanAuditSpec budget metric) and left after AQE, exchanges, scans
    * and whole-stage stages of the final plan, the warm re-run's time —
    * or the full exception on failure. */
  private def plan(spark: SparkSession, sf: String,
      names: Seq[String]): Unit = names.foreach { name =>
    try {
      val df = SparkEntry.queries(name)(spark, sf)
      def lineitems(p: String): Int = "lineitem\\.parquet".r.findAllIn(p).length
      val planned = lineitems(df.queryExecution.executedPlan.toString)
      // collect() (not count()) so the action runs THIS queryExecution
      // and the plan read below is the AQE-final one, with runtime
      // stage reuse
      val rows = df.collect().length
      val t0 = System.nanoTime()
      df.collect()
      val warm = seconds(t0)
      val fin = finalPlan(df)
      def n(pat: String): Int = pat.r.findAllIn(fin).length
      println(s"OK $name rows=$rows lineitemSubtrees=$planned")
      println(s"AUDIT $name planned=$planned physical=${lineitems(fin)} " +
        s"reusedEx=${n("ReusedExchange")}")
      println(f"[planprobe] $name warm=$warm%.3f s " +
        s"shuffles=${n("""Exchange (hash|range|SinglePartition)""")} " +
        s"broadcasts=${n("BroadcastExchange")} reused=${n("ReusedExchange")} " +
        s"scans=${n("Scan parquet")} wholestage=${n("""\*\(\d+\)""")}")
    } catch { case e: Throwable =>
      println(s"FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
      e.printStackTrace()
    }
  }

  /** Writes `.explain("formatted")`, the AQE-final executed plan and
    * every pinned subplan to `<outDir>/<query>_<suffix>.txt` — the
    * checked record behind plan-shape claims (plans/). A
    * Materialize.pin cuts the top-level plan at an ExistingRDD scan,
    * hiding what the pin job ran (e.g. the PPJoin verification joins),
    * so pin capture is on unless the session already sets it. */
  private def dump(spark: SparkSession, sf: String, outDir: String,
      suffix: String, names: Seq[String]): Unit =
    restoring(spark, Materialize.CapturePinsConf) {
      if (spark.conf.getOption(Materialize.CapturePinsConf).isEmpty)
        spark.conf.set(Materialize.CapturePinsConf, "true")
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        Materialize.drainCapturedPlans(spark) // clear prior query's
        val df = SparkEntry.queries(name)(spark, sf)
        // collect() so the action runs THIS queryExecution and the
        // dumped executedPlan is the AQE-final one; declared queries are
        // all bounded (Verify collects them)
        df.collect()
        val formatted = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        // eager pins ran during query construction and during
        // collect(); one drain here gathers both
        val pins = Materialize.drainCapturedPlans(spark)
          .zipWithIndex.map { case (p, i) =>
            s"== pinned subplan ${i + 1} (Materialize) ==\n$p\n" }
          .mkString
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          (s"== explain(formatted) ==\n$formatted\n" +
            s"== executedPlan (AQE final) ==\n${finalPlan(df)}\n" +
            pins).getBytes("UTF-8"))
        LocalSession.isolate(spark)
        println(s"[plandump] wrote ${name}_$suffix.txt")
      }
    }

  /** Rule blast radius, planning only. With no names, over all 459
    * queries: every query whose plan changes when an injected Catalyst
    * rule is enabled (the bank-fusion rules on the ANALYZED plan,
    * PreAggBeforeExpand on the OPTIMIZED plan — [[RuleCensus]]). With
    * names: rebuild each analyzed canonicalized plan twice and print
    * the first differing lines, to find a nondeterministic token the
    * census must normalize away. */
  private def census(spark: SparkSession, sf: String,
      names: Seq[String]): Unit =
    if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        try {
          val v = RuleCensus.census(spark, fn, sf)
          if (v.unstable)
            println(s"UNSTABLE $name (nondeterministic rebuild survives " +
              "normalization)")
          else if (v.fires)
            println(s"FIRES $name scalar=${v.scalar} cross=${v.cross} " +
              s"corr=${v.corr} preagg=${v.preAgg}")
        } catch { case e: Throwable => println(s"ERR $name ${e.getMessage}") }
    }
    else names.foreach { name =>
      def canon(): Array[String] = RuleCensus.canon(
        SparkEntry.queries(name)(spark, sf).queryExecution.analyzed)
        .split("\n")
      val a = canon(); val b = canon()
      if (a.sameElements(b)) println(s"STABLE $name")
      else {
        println(s"DIFFERS $name (${a.length} vs ${b.length} lines)")
        a.zipAll(b, "<missing>", "<missing>").zipWithIndex
          .filter { case ((x, y), _) => x != y }
          .take(3)
          .foreach { case ((x, y), i) =>
            println(s"  line $i:\n   A: ${x.take(300)}\n   B: ${y.take(300)}")
          }
      }
    }
}
