package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONFS` parsing in [[LocalSession]] — pure, no session. */
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
}
