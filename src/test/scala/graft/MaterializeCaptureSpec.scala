package graft

import graft.ext.Materialize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Materialize's conf-gated pinned-subplan capture (plan-evidence
  * tooling: a top-level explain stops at a pin's ExistingRDD scan, so
  * Probe dump drains this capture to record what the pin job actually
  * ran — e.g. the PPJoin verification joins inside
  * JaccardJoin.selfJoin, invisible from q_ngram_jaccard's final plan).
  */
class MaterializeCaptureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Each test names its pinned column after a sentinel unique to it and
  // looks only for drained plans that mention it, so plans other pins
  // leave in the session's buffer can never satisfy or fail a check.
  private def mentioning(sentinel: String) =
    Materialize.drainCapturedPlans(spark).filter(_.contains(sentinel))

  test("capture off (default): pin records nothing") {
    val sp = spark
    import sp.implicits._
    sp.conf.unset(Materialize.CapturePinsConf)
    val pinned = Materialize.pin(
      Seq(1L, 2L, 3L).toDF("v").select(($"v" * 2).as("capture_off_w")))
    assert(pinned.count() == 3)
    assert(mentioning("capture_off_w").isEmpty)
    Materialize.release(pinned)
  }

  test("capture on: pin records the pinned frame's formatted plan, and " +
      "the drain empties the buffer") {
    val sp = spark
    import sp.implicits._
    sp.conf.set(Materialize.CapturePinsConf, "true")
    try {
      // range (not a local Seq): a filter over a LocalRelation is
      // constant-folded away at optimize time and would leave nothing
      // recognizable in the captured plan
      val pinned = Materialize.pin(
        sp.range(3).toDF("capture_on_v").filter($"capture_on_v" > 0L))
      assert(pinned.count() == 2)
      val plans = mentioning("capture_on_v")
      // exactly this pin's subplan, rendered formatted (the pinned
      // frame's operators are visible even though pinned's own plan is
      // an ExistingRDD scan)
      assert(plans.size == 1)
      assert(plans.head.contains("Physical Plan"))
      assert(plans.head.contains("Filter"))
      assert(mentioning("capture_on_v").isEmpty)
      Materialize.release(pinned)
    } finally sp.conf.unset(Materialize.CapturePinsConf)
  }

  test("capture is per session: another session's drain never sees " +
      "this session's pins, and an RDD pin records its lineage") {
    val sp = spark
    val other = sp.newSession()
    sp.conf.set(Materialize.CapturePinsConf, "true")
    try {
      val rdd = sp.sparkContext.parallelize(1 to 4)
        .setName("capture_rdd_sentinel").map(_ * 2)
      assert(Materialize.pinRdd(sp, rdd)(_.sum()) == 20.0)
      assert(Materialize.drainCapturedPlans(other)
        .forall(!_.contains("capture_rdd_sentinel")))
      assert(mentioning("capture_rdd_sentinel").size == 1)
      rdd.unpersist(blocking = false)
    } finally sp.conf.unset(Materialize.CapturePinsConf)
  }
}
