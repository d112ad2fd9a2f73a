package graft

import java.nio.file.{Files, Paths}

import graft.ext.{FanOut, Materialize}
import org.scalatest.funsuite.AnyFunSuite

/** Every [[Probe]] mode on the shared session at sf0.001, one cheap
  * query each: the mode runs and prints its documented line prefix. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val q = "q1_agg"

  /** The lines `Probe.run` printed. */
  private def probe(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Probe.run(spark, args, Some(TestSpark.sf)))
    out.toString("UTF-8").split("\n").toSeq
  }

  private def lineOf(lines: Seq[String], prefix: String): String =
    lines.find(_.startsWith(s"$prefix $q ")).getOrElse(
      fail(s"no '$prefix $q' line in:\n${lines.mkString("\n")}"))

  test("time: CLEAN with the min, four samples and the warm compiles") {
    val l = lineOf(probe("time", q), "CLEAN")
    assert(l.matches(
      s"""CLEAN $q min=[\\d.]+ samples=([\\d.]+,){3}[\\d.]+ sf=\\S+ compiles=\\d+"""), l)
  }

  test("fanab: FANAB with on, off and delta; the fan-out conf is restored") {
    val before = spark.conf.getOption(FanOut.EnabledConf)
    val l = lineOf(probe("fanab", q), "FANAB")
    assert(l.contains(" on=") && l.contains(" off=") && l.contains(" delta="), l)
    assert(spark.conf.getOption(FanOut.EnabledConf) == before)
  }

  test("jobs: JOBS with the driver gap, then one line per job") {
    val lines = probe("jobs", q)
    val n = """n_jobs=(\d+)""".r.findFirstMatchIn(lineOf(lines, "JOBS")).get
      .group(1).toInt
    assert(n > 0)
    assert(lineOf(lines, "JOBS").contains("driver_gap="))
    assert(lines.count(_.startsWith("  job=")) == n)
  }

  test("stages: STAGES with at least one stage line") {
    val lines = probe("stages", q)
    assert("""n_stages=[1-9]""".r.findFirstIn(lineOf(lines, "STAGES")).isDefined)
    assert(lines.exists(_.startsWith("  stage=")))
  }

  test("phases: one PHASE line per run, cold and warm") {
    val lines = probe("phases", q)
    assert(lineOf(lines, "PHASE").contains("run1 build="))
    assert(lines.exists(_.startsWith(s"PHASE $q run2 build=")))
  }

  test("plan: OK, AUDIT and [planprobe] lines") {
    val lines = probe("plan", q)
    assert(lineOf(lines, "OK").contains("lineitemSubtrees="))
    assert(lineOf(lines, "AUDIT").contains("physical="))
    assert(lineOf(lines, "[planprobe]").contains("shuffles="))
  }

  test("dump: writes the plan file and leaves pin capture as it was") {
    val dir = Files.createTempDirectory("graft_probe_dump")
    assert(spark.conf.getOption(Materialize.CapturePinsConf).isEmpty)
    val lines = probe("dump", dir.toString, "t", q)
    assert(lines.contains(s"[plandump] wrote ${q}_t.txt"))
    val text = Files.readString(Paths.get(dir.toString, s"${q}_t.txt"))
    assert(text.startsWith("== explain(formatted) ==\n"))
    assert(text.contains("== executedPlan (AQE final) ==\n"))
    assert(spark.conf.getOption(Materialize.CapturePinsConf).isEmpty)
  }

  test("census with names: two rebuilds compared, STABLE") {
    assert(probe("census", q).contains(s"STABLE $q"))
  }

  test("a bad mode, query or argument list is rejected with the usage " +
      "text before any Spark work") {
    // a null session: any Spark work before the check would throw NPE
    Seq(Nil, Seq("bogus", q), Seq("time", "q_no_such_query"), Seq("time"),
        Seq("dump", "outDir")).foreach { args =>
      val e = intercept[IllegalArgumentException](
        Probe.run(null, args, Some(TestSpark.sf)))
      assert(e.getMessage.contains(Probe.Usage), args)
    }
  }
}
