package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must execute end-to-end on the smoke dataset
  * AND return rows (correctness itself is gated by the DuckDB
  * differential — tools/diffcheck.py / the driver's t2 gate).
  *
  * The non-empty assertion is the in-suite DEGENERACY GATE
  * (tools/degeneracy.py's check, made unskippable): a 0-row Spark
  * result matching a 0-row oracle passes the driver's hash compare
  * VACUOUSLY — twice this project shipped a query whose gates
  * silently emptied at some SF (q27 at sf0.001, q80's first price
  * band) and whose green row proved nothing. Any query legitimately
  * empty at sf0.001 must carry an `allowEmpty` entry with a reason;
  * everything else failing here means a gate emptied and the query
  * needs param-level widening BEFORE the round ships.
  */
class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Queries allowed to return 0 rows at sf0.001, each with its
    * reason. KEEP THIS LIST JUSTIFIED — an entry without a real
    * data-scale reason is a silenced alarm. The CORRECTNESS gate runs
    * at sf0.01, where tools/degeneracy.py verifies every one of these
    * returns rows (re-checked r13: 374/374 non-empty at sf0.01); at
    * sf0.001 lineitem is ~6k rows and these queries' multi-way
    * selective gates genuinely empty out. */
  private val allowEmpty: Map[String, String] = {
    val smallSf =
      "selective gates empty at ~6k-row sf0.001; non-empty at the " +
        "sf0.01 oracle gate (tools/degeneracy.py, r12)"
    Seq(
      // cross-channel / self-join pair queries: need the same entity
      // on two channels or two years, rare at 1/10th data
      "q_dsreal_q4", "q_dsreal_q31", "q_dsreal_q54", "q_dsreal_q64",
      "q_dsreal_q74", "q_tpcds_cov", "q_tpcds_ziplist",
      // deep dim-gate conjunctions (brand x demo x time x geo bands)
      "q_dsreal_q6", "q_dsreal_q8", "q_dsreal_q19", "q_dsreal_q21",
      "q_dsreal_q24a", "q_dsreal_q34", "q_dsreal_q40", "q_dsreal_q46",
      "q_dsreal_q68", "q_dsreal_q71", "q_dsreal_q72", "q_dsreal_q80",
      "q_dsreal_q82", "q_dsreal_q91",
      // SQL-text twins of dsreal queries above (same text, same gates)
      "q_sqltext_q19", "q_sqltext_q21", "q_sqltext_q4", "q_sqltext_q6",
      "q_sqltext_q8", "q_sqltext_q24a", "q_sqltext_q40", "q_sqltext_q71",
      "q_sqltext_q74", "q_sqltext_q80", "q_sqltext_q82", "q_sqltext_q91",
      "q_sqltext_q31", "q_sqltext_q34", "q_sqltext_q46", "q_sqltext_q54",
      "q_sqltext_q68", "q_sqltext_q72",
      // TPC-H min-cost / volume-share chains with HAVING thresholds
      "q_tpch_q2", "q_tpch_q7", "q_tpch_q11", "q_tpch_q20"
    ).map(_ -> smallSf).toMap
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  // SparkEntry.queries is packs.flatMap(_.queries).toMap: a key declared
  // twice silently keeps the last pack's function
  test("no query key is declared by two packs") {
    val dup = SparkEntry.packs.flatMap(_.queries.keys)
      .groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    assert(dup.isEmpty, s"keys declared more than once: $dup")
  }

  test("allowEmpty names real queries") {
    val stale = allowEmpty.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowEmpty entries without a query: $stale")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes on sf0.001 and is not degenerate") {
      val n = fn(spark, TestSpark.sf).count()
      if (allowEmpty.contains(name))
        info(s"allowEmpty(${allowEmpty(name)}): returned $n rows")
      else
        assert(n > 0,
          s"$name returned 0 rows at sf0.001 — a vacuous oracle green; " +
            "widen the query's gates or add a justified allowEmpty entry")
    }
  }
}
