package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONFS` and `SPARK_GRAFT_CPUS` parsing in [[LocalSession]]
  * — pure, no session. */
class LocalSessionSpec extends AnyFunSuite {

  test("confs: empty entries and an empty value are skipped") {
    assert(LocalSession.parseConfs("") == Nil)
    assert(LocalSession.parseConfs(" , ,") == Nil)
    assert(LocalSession.parseConfs("a=1,,b=2,") == Seq("a" -> "1", "b" -> "2"))
  }

  test("confs: an entry without '=' or without a key is rejected by name") {
    Seq("a=1,spark.graft.fanout.enabled" -> "spark.graft.fanout.enabled",
        "=v" -> "=v").foreach { case (spec, bad) =>
      val e = intercept[IllegalArgumentException](LocalSession.parseConfs(spec))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("confs: the value keeps every '=' after the first") {
    assert(LocalSession.parseConfs("k=v=w") == Seq("k" -> "v=w"))
  }

  test("cpus: unset or blank falls back to the processor count") {
    Seq(None, Some(""), Some("  ")).foreach(v =>
      assert(LocalSession.parseCpus(v, processors = 6) == 6, v))
    assert(LocalSession.parseCpus(Some(" 3 "), processors = 6) == 3)
    assert(LocalSession.parseCpus(Some("512"), processors = 6) == 512)
  }

  test("cpus: a non-integer or a count below 1 is rejected by name") {
    Seq("0", "-2", "four", "2.5", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](
        LocalSession.parseCpus(Some(v), processors = 6))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$v'"),
        e.getMessage)
    }
  }
}
