package graft.examples

import graft.{LocalSession, SparkEntry}
import graft.dsreal.DsScale

/** Empirical TPC-DS scaling probe (VERDICT r11 directive 1): run the
  * bench's 10 slowest dsreal queries on 1x / 2x / 4x / 8x the sf0.1
  * derived star — the base tables replicated with shifted surrogate
  * keys ([[DsScale.replicate]]) so each multiple is one consistent
  * larger instance — and report per-query wall time, result rows, and
  * OPTIMIZED-PLAN STABILITY across multiples. Linear-ish growth with
  * an unchanged plan is the evidence behind "this plan survives a
  * 100x scale-up": a super-linear query or a plan flip (broadcast ->
  * shuffle, a new Expand, a cartesian) is exactly what this probe
  * exists to catch before a real cluster does. Reference bar: TPC-DS
  * is the reference's only perf artifact
  * (flink-end-to-end-tests/flink-tpcds-test/README.md:13).
  *
  * Timing protocol mirrors [[graft.Bench]]: two runs per (query,
  * mult), min reported, cache + pinned blocks dropped between
  * queries. Plans are compared normalized (attribute ids, plan ids,
  * file locations masked — the GoldenPlanSpec normalization).
  *
  * sbt "runMain graft.examples.DsScalingProbe [srcDir] [outJson]
  *      [mults] [queries]"   — mults/queries comma-separated; defaults
  *      1,2,4,8 x the 10-query battery. Focused reruns (e.g.
  *      "8,16 q_dsreal_q72") localize a growth knee without paying
  *      for the full matrix.
  */
object DsScalingProbe {

  def normalize(p: String): String = p
    // the fan-out width is SIZE-DERIVED (FanOut.fanOutSized: one
    // partition per targetPartitionBytes), so it legitimately grows
    // with the scale multiplier — normalize it away; a SHAPE change
    // (node added/removed/reordered) still fails the stability check
    .replaceAll("(RepartitionByExpression \\[[^\\]]*\\]), \\d+", "$1, W")
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("lambda ([a-zA-Z]+)_\\d+", "lambda $1_N")
    .replaceAll("UnsafeArrayData@[0-9a-f]+", "UnsafeArrayData@N")
    .replaceAll("InMemoryFileIndex\\([^)]*\\)\\[[^\\]]*\\]",
      "InMemoryFileIndex[...]")
    .replaceAll("Location: [^,\\n]*", "Location: ...")
    .replaceAll("file:[^,\\]\\s]*", "file:...")
    .trim

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("dsscale_out.json")
    val spark = LocalSession.build()

    val mults = args.lift(2).map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(1, 2, 4, 8))
    val queries = args.lift(3).map(_.split(",").toSeq.map(_.trim))
      .getOrElse(DsScale.HeavyQueries)
    val dirs = mults.map { m =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_dsscale_${m}x").toString
      print(s"replicating ${m}x into $dir ... ")
      val t0 = System.nanoTime()
      DsScale.replicate(spark, srcDir, dir, m)
      println(f"${(System.nanoTime - t0) / 1e9}%.1f s")
      m -> dir
    }.toMap

    case class Cell(mult: Int, sec: Double, rows: Long, plan: String)
    val results = queries.map { q =>
      val fn = SparkEntry.queries(q)
      val cells = mults.map { m =>
        val dir = dirs(m)
        def once(): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = fn(spark, dir).count()
          ((System.nanoTime - t0) / 1e9, n)
        }
        val plan = normalize(
          fn(spark, dir).queryExecution.optimizedPlan.toString)
        LocalSession.isolate(spark)
        val (t1, n) = once(); LocalSession.isolate(spark)
        val (t2, _) = once(); LocalSession.isolate(spark)
        val c = Cell(m, math.min(t1, t2), n, plan)
        println(f"$q%-16s mult=$m sec=${c.sec}%6.2f rows=$n")
        c
      }
      q -> cells
    }

    // summary: growth ratio vs multiple, plan stability vs 1x
    val lines = results.map { case (q, cells) =>
      val t1 = cells.head.sec
      val stable = cells.forall(_.plan == cells.head.plan)
      val ratios = cells.map(c => f""""t${c.mult}x":${c.sec}%.3f""")
      val growth = cells.last.sec / math.max(t1, 1e-9)
      val rowGrowth =
        cells.last.rows.toDouble / math.max(cells.head.rows.toDouble, 1.0)
      s"""{"q":"$q",${ratios.mkString(",")},""" +
        f""""growth_8x":$growth%.2f,"rows_1x":${cells.head.rows},""" +
        f""""rows_8x":${cells.last.rows},"row_growth":$rowGrowth%.2f,""" +
        s""""plan_stable":$stable}"""
    }
    lines.foreach(println)
    val worst = results.map { case (q, cells) =>
      q -> cells.last.sec / math.max(cells.head.sec, 1e-9)
    }.maxBy(_._2)
    val unstable = results.collect {
      case (q, cells) if !cells.forall(_.plan == cells.head.plan) => q
    }
    println(s"""{"metric":"dsscale","mults":[${mults.mkString(",")}],""" +
      f""""worst_growth_8x":{"q":"${worst._1}","ratio":${worst._2}%.2f},""" +
      s""""plan_unstable":[${unstable.map("\"" + _ + "\"").mkString(",")}]}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (lines.mkString("[", ",\n", "]") + "\n").getBytes("UTF-8"))
    dirs.values.foreach { d =>
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(d)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    spark.stop()
  }
}
