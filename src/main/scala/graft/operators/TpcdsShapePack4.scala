package graft.operators

import graft.{QueryPack, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-DS shape battery, fourth wave (SURVEY §5; reference bar is 103
  * validated queries). The last plan shapes in the reference's TPC-DS
  * repertoire not yet exercised by waves 1-3:
  *
  *   - q22: FOUR-level ROLLUP (brand, type, size) — deeper Expand than
  *     the 3-level rollups, with integer-exact quantity averages
  *     emitted as (sum, count) pairs,
  *   - q45: a DISJUNCTION of a literal IN-list and an IN-subquery —
  *     Catalyst cannot lower the OR to a plain semi join and must
  *     plan an ExistenceJoin (the membership becomes a boolean
  *     column feeding the filter),
  *   - q28: multiple COUNT(DISTINCT CASE ...) buckets in ONE
  *     aggregate — the filtered distinct-agg split (each bucket
  *     counts distinct prices inside its own quantity band, all from
  *     one scan through one Expand).
  */
object TpcdsShapePack4 extends QueryPack {

  private def centsCol(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q22 shape: inventory-style 4-level rollup. Averages stay exact
    // by emitting integer (sum, count) pairs; the rank inside each
    // grouping level orders by the exact sums.
    "q_tpcds_rollup4" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.part(s, d), $"l_partkey" === $"p_partkey")
        .rollup($"p_brand", $"p_type", $"p_size".cast("long").as("p_size"),
          $"l_returnflag")
        .agg(sum($"l_quantity".cast("long")).as("qty_sum"),
          count(lit(1)).as("n_lines"),
          grouping_id().cast("long").as("gid"))
    }),

    // q45 shape: literal IN-list OR IN-subquery. The OR blocks the
    // semi-join lowering, so the subquery membership surfaces as an
    // ExistenceJoin boolean that the Filter consumes together with
    // the literal test. SQL-expressed so the lowering itself runs.
    "q_tpcds_hybridfilter" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d).createOrReplaceTempView("tpcds_hyb_customer")
      T.orders(s, d).createOrReplaceTempView("tpcds_hyb_orders")
      T.nation(s, d).createOrReplaceTempView("tpcds_hyb_nation")
      s.sql("""
        SELECT n_name, count(*) AS n_cust,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM tpcds_hyb_customer
        JOIN tpcds_hyb_nation ON c_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_7')
           OR c_custkey IN (
             SELECT o_custkey FROM tpcds_hyb_orders
             WHERE o_orderpriority = '1-URGENT'
               AND o_totalprice > 400000)
        GROUP BY n_name""")
    }),

    // q28 shape: per-band DISTINCT price counts — six (here four)
    // COUNT(DISTINCT CASE WHEN band THEN price END) in one aggregate;
    // Catalyst's distinct-split runs them through ONE Expand over ONE
    // scan instead of TPC-DS's six cross-joined subqueries. Prices
    // quantize to cents FIRST so the distinct-set membership is
    // integer-exact in both engines.
    "q_tpcds_distinct_buckets" -> ((s, d) => {
      import s.implicits._
      def band(lo: Int, hi: Int) =
        countDistinct(when($"l_quantity" >= lo && $"l_quantity" < hi,
          centsCol($"l_extendedprice")))
      // unfanned (Probe fanab, r17): single global distinct-agg pass
      T.lineitemRaw(s, d).agg(
        band(1, 13).as("d1"), band(13, 25).as("d2"),
        band(25, 37).as("d3"), band(37, 51).as("d4"),
        count(lit(1)).as("n_rows"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q_tpcds_rollup4" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                l_returnflag,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
                count(*) AS n_lines,
                CAST(GROUPING(p_brand, p_type, p_size, l_returnflag)
                  AS BIGINT) AS gid
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         GROUP BY ROLLUP(p_brand, p_type, p_size, l_returnflag)""",
    "q_tpcds_hybridfilter" ->
      """SELECT n_name, count(*) AS n_cust,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                  AS bal_cents
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_7')
            OR c_custkey IN (
              SELECT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT'
                AND o_totalprice > 400000)
         GROUP BY n_name""",
    "q_tpcds_distinct_buckets" ->
      """SELECT
           count(DISTINCT CASE WHEN l_quantity >= 1 AND l_quantity < 13
             THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS d1,
           count(DISTINCT CASE WHEN l_quantity >= 13 AND l_quantity < 25
             THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS d2,
           count(DISTINCT CASE WHEN l_quantity >= 25 AND l_quantity < 37
             THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS d3,
           count(DISTINCT CASE WHEN l_quantity >= 37 AND l_quantity < 51
             THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS d4,
           count(*) AS n_rows
         FROM lineitem"""
  )
}
