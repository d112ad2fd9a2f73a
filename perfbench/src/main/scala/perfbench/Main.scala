package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State shared by a run: the session, the run's parameters, the spans,
  * and the count of attempted and failed operations. An operation is a
  * query execution, a stream leg or a result check. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val dataDir: String, val outDir: String,
    val cores: Int, val spans: Spans, val tracer: Option[Tracer]) {
  private var attempts = 0
  private val errs = ArrayBuffer.empty[String]
  val windows = ArrayBuffer.empty[(Span, JvmReading, JvmReading)]
  val streamChecks = ArrayBuffer.empty[Map[String, Any]]

  def attempt(err: Option[String]): Unit = synchronized {
    attempts += 1
    err.foreach(errs += _)
  }
  def attempted: Int = synchronized(attempts)
  def errors: Seq[String] = synchronized(errs.toList)

  /** `warmups` warm-up passes, then `n` timed passes. The counts are
    * fixed so that every run times the same stretch of the warm-up curve;
    * the caller reports every pass so the curve can be audited. `pass`
    * runs one pass and returns its total time and span. Returns the kind
    * of each pass, in order; each timed pass's window and the JVM readings
    * around it are kept for the per-layer counters of a traced run. */
  def warmThenTime(warmups: Int, n: Int)(pass: () => (Double, Span)): Seq[String] = {
    (1 to warmups).foreach(_ => pass())
    (1 to n).foreach { _ =>
      val before = JvmReading.now()
      val (_, span) = pass()
      windows += ((span, before, JvmReading.now()))
    }
    Seq.fill(warmups)("warmup") ++ Seq.fill(n)("timed")
  }

  /** A stream op's final output against its batch self-oracle. */
  def checkStream(op: String, got: Seq[String], want: Seq[String]): Unit = {
    val (g, w) = (got.sorted, want.sorted)
    val ok = g == w
    val missing = w.diff(g)
    val extra = g.diff(w)
    attempt(if (ok) None else Some(s"check $op: ${missing.size} rows missing, " +
      s"${extra.size} unexpected, e.g. ${(missing ++ extra).take(3).mkString("; ")}"))
    streamChecks += Map("op" -> op, "rows" -> w.size, "ok" -> ok,
      "missing" -> missing.size, "unexpected" -> extra.size)
  }
}

object Ctx {
  /** The fixed number of timed passes for a run of `seconds`, given the
    * time a warm pass takes on a 4-core x86 box. */
  def timedPasses(seconds: Double, nominalPassS: Double): Int =
    math.max(2, math.round(seconds / nominalPassS).toInt)

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(500)
}

/** Entry point of one benchmark run; see perfbench/README.md.
  *
  * Arguments: --workload batch|stream --seed N --seconds S
  * --trace 0|1 --data DIR --out DIR [--cores N]. Writes DIR/result.json
  * (and, traced, DIR/spans.json); run.py turns it into metrics. */
object Main {
  def session(cores: Int, outDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val outDir = opt("out")
    val cores = opt.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    require(Set("batch", "stream")(workload), s"unknown workload $workload")
    Files.createDirectories(Paths.get(outDir))

    // Set-up, timed from JVM start: the SparkContext and a session with
    // graft's extensions, and the workload's inputs registered (batch:
    // every table's frame and view; stream: the seeded events generated).
    // It is done once: a second set-up in the same JVM would reuse its
    // SparkContext and warm code and so measure a different thing.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, outDir)
    val inputs: Seq[Stream.Input] =
      if (workload == "stream") Stream.inputs(seed, seconds)
      else { graft.Tables.registerAll(spark, dataDir); Nil }
    val setupS = (Clock.nowMs - jvmStart) / 1000.0

    val spans = new Spans(s"$workload-$seed-${System.currentTimeMillis()}")
    val tracer = if (trace) Some(new Tracer(spans)) else None
    tracer.foreach(_.register(spark))
    val ctx = new Ctx(spark, workload, seed, seconds, dataDir, outDir, cores, spans, tracer)
    val body = workload match {
      case "batch" => Batch.run(ctx, Batch.olap ++ Batch.pipeline)
      case "stream" => Stream.run(ctx, inputs)
    }
    val traced = tracer.map { t =>
      t.unregister(spark)
      val layers = traceReport(ctx, t)
      // The single-threaded baseline: one local[1] closed-loop pass per op.
      val local1 = if (workload != "stream") Nil else {
        spark.stop()
        spark = session(1, outDir)
        Stream.capacity(spark, inputs, s"$outDir/upsert1")
      }
      layers + ("local1_closed" -> local1)
    }

    val mx = java.lang.management.ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "run_id" -> spans.runId,
      "env" -> Map(
        "cores" -> cores,
        "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "jvm_args" -> mx.getInputArguments.asScala.filter(a =>
          a.startsWith("-Xmx") || a.startsWith("-Xms") || a.startsWith("-XX:")).toList,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "data_dir" -> dataDir),
      "setup_s" -> setupS,
      "attempted" -> ctx.attempted,
      "errors" -> ctx.errors,
      "stream_checks" -> ctx.streamChecks.toList,
      "peak_rss_mb" -> peakRssMb(),
      "body" -> body,
      "layers" -> traced)
    Files.writeString(Paths.get(s"$outDir/result.json"), Json(result))
    spark.stop()
  }

  /** Per-layer counters for each measured window, their medians and their
    * census, the spans with their self times, and the span checks. */
  def traceReport(ctx: Ctx, t: Tracer): Map[String, Any] = {
    val bench = ctx.spans.all
    val all = bench ++ t.derivedSpans(bench)
    val timed = ctx.windows.toList.map { case (w, before, after) =>
      val ops = bench.filter(s => s.parent == w.id && (s.name == "query" || s.name == "leg"))
      t.window(w.start, w.end, ops, ctx.cores, before, after) + ("operators.build_ms" ->
        bench.filter(s => s.name == "build" && w.contains(s.start)).map(_.dur).sum)
    }
    val keys = timed.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val (self, overlap, outside, outsideMs) = Spans.selfTimes(all)
    val workload = bench.find(_.name == "workload")
    val inWorkload: Set[Long] = workload.map { w =>
      val kids = all.groupBy(_.parent)
      def walk(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
      walk(w.id).toSet
    }.getOrElse(Set.empty)
    val selfByName = all.filter(s => inWorkload(s.id)).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    val selfSum = selfByName.values.sum
    val wall = workload.map(_.dur).getOrElse(0.0)
    Files.writeString(Paths.get(s"${ctx.outDir}/spans.json"), Json(all.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "run" -> ctx.spans.runId, "attrs" -> s.attrs))))
    Map(
      "median" -> keys.map(k => k -> median(timed.map(_(k)))).toMap,
      "timed_passes" -> timed,
      "census" -> keys.map(k => k -> Map("values" -> timed.map(_(k)),
        "exact" -> (timed.map(_(k)).distinct.size == 1))).toMap,
      "spans" -> Map("file" -> s"${ctx.outDir}/spans.json", "count" -> all.size,
        "self_ms" -> selfByName, "self_sum_ms" -> selfSum, "workload_wall_ms" -> wall,
        "min_self_ms" -> (if (self.isEmpty) 0.0 else self.values.min),
        "children_outside_parent" -> outside,
        "outside_parent_ms" -> outsideMs,
        "self_nonnegative" -> self.values.forall(_ >= 0),
        "concurrent_ms" -> overlap,
        // Counting concurrent time once, and leaving out the overhang of
        // listener stamps, the self times must fit in the wall time.
        "self_sum_within_wall" -> (selfSum - overlap - outsideMs <= wall + 1.0)))
  }
}
