package graft.operators

import graft.{QueryPack, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-DS shape battery, third wave (SURVEY §5; reference validates
  * 103 queries — flink-end-to-end-tests/flink-tpcds-test/tpcds-tool/
  * query/, TpcdsTestProgram.java:137). Remaining distinct plan shapes
  * after waves 1-2 (TpcdsShapePack, TpcdsShapePack2):
  *
  *   - q2: weekday revenue pivot self-joined across years on the week
  *     index. Week/weekday come from integer day arithmetic off a
  *     fixed Monday anchor — NOT week()/dayofweek(), whose numbering
  *     conventions differ between engines,
  *   - q83: symmetric three-way join of per-channel returned-item
  *     sets with each leg's share of the three-leg total,
  *   - q72: date-offset NON-EQUI condition layered on an equi fact
  *     join (lines shipped >= 60 days after the order date),
  *   - q76: "null channel" report — fact rows whose dimension lookup
  *     MISSES (left join null) counted per channel beside the hits,
  *   - q8: revenue restricted by the intersection of a literal
  *     IN-list and a derived >= k-members set (two membership
  *     filters, one broadcast semi join each),
  *   - q14: cross-channel common items (present in ALL three
  *     channels, two consecutive semi joins) feeding a ROLLUP with
  *     grouping() flags over (channel, brand),
  *   - q18/q22 composite: ROLLUP combined with COUNT(DISTINCT) in the
  *     same aggregate — Catalyst stacks the rollup Expand and the
  *     distinct-split Expand; the plan must still be one fact pass.
  *
  * Money/ratio determinism identical to the earlier waves: integer
  * cents, half-up integer ppm, BIGINT cross-multiplication.
  */
object TpcdsShapePack3 extends QueryPack {

  private def centsCol(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q2 shape: weekday pivot x cross-year week self-join. wk/dow are
    // integer day counts off Monday 1995-01-02 (datediff div/mod 7),
    // so both engines agree on week boundaries by construction. The
    // join key is the week POSITION inside its year (wk mod 52).
    "q_tpcds_weekpivot" -> ((s, d) => {
      import s.implicits._
      val anchor = to_date(lit("1995-01-02"))
      def yearFrame(y: Int, out: String) =
        // unfanned (Probe fanab, r17): filter+derive straight into the
        // per-week aggregation shuffle
        T.lineitemRaw(s, d)
          .filter(year($"l_shipdate") === y)
          .withColumn("days", datediff($"l_shipdate", anchor).cast("long"))
          // days >= 0 guard: Spark's div TRUNCATES while DuckDB's //
          // FLOORS — they agree only on non-negative operands, and the
          // few pre-anchor days of 1995 week 0 carry no information
          .filter($"days" >= 0)
          .withColumn("wkpos", expr("(days div 7) % 52"))
          .withColumn("dow", expr("days % 7"))
          .groupBy($"wkpos")
          .agg(
            sum(when($"dow" <= 4, centsCol($"l_extendedprice"))
              .otherwise(0L)).as(s"wd_$out"),
            sum(when($"dow" >= 5, centsCol($"l_extendedprice"))
              .otherwise(0L)).as(s"we_$out"))
      yearFrame(1995, "95").join(yearFrame(1996, "96"), Seq("wkpos"))
        .filter($"wd_95" > 0 && $"we_95" > 0)
        .select($"wkpos", $"wd_95", $"we_95", $"wd_96", $"we_96",
          expr("((1000000 * wd_96) + (wd_95 div 2)) div wd_95")
            .as("wd_ratio_ppm"),
          expr("((1000000 * we_96) + (we_95 div 2)) div we_95")
            .as("we_ratio_ppm"))
    }),

    // q83 shape: three per-channel returned-quantity frames joined
    // symmetrically on the item; each leg reports its share of the
    // three-leg sum in half-up ppm.
    "q_tpcds_threeway" -> ((s, d) => {
      import s.implicits._
      def leg(f: String, out: String) =
        T.lineitem(s, d).filter($"l_returnflag" === f)
          .groupBy($"l_partkey")
          .agg(sum($"l_quantity".cast("long")).as(out))
      leg("R", "qty_r")
        .join(leg("N", "qty_n"), Seq("l_partkey"))
        .join(leg("A", "qty_a"), Seq("l_partkey"))
        .withColumn("tot", $"qty_r" + $"qty_n" + $"qty_a")
        .select($"l_partkey", $"qty_r", $"qty_n", $"qty_a",
          expr("((1000000 * qty_r) + (tot div 2)) div tot").as("share_r_ppm"),
          expr("((1000000 * qty_n) + (tot div 2)) div tot").as("share_n_ppm"),
          expr("((1000000 * qty_a) + (tot div 2)) div tot").as("share_a_ppm"))
    }),

    // q72 shape: a date-offset NON-EQUI predicate on top of the equi
    // fact join — lines shipped 60+ days after their order date
    // ("shortage" lines), counted per brand. The inequality must ride
    // the equi join as a post-condition, never force a cartesian.
    "q_tpcds_shortage" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.orders(s, d),
          $"l_orderkey" === $"o_orderkey" &&
            $"l_shipdate" >= $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .join(T.part(s, d), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_late"),
          sum($"l_quantity".cast("long")).as("late_qty"))
    }),

    // q76 shape: the "null channel" report. The BUILDING-segment
    // customer dimension is deliberately partial — orders whose
    // customer is NOT in it take the null branch of the LEFT join and
    // are counted beside the hits, per priority channel.
    "q_tpcds_nullchan" -> ((s, d) => {
      import s.implicits._
      val dim = T.customer(s, d)
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey".as("dim_key"))
      T.orders(s, d)
        .join(dim, $"o_custkey" === $"dim_key", "left")
        .groupBy($"o_orderpriority", $"dim_key".isNull.as("dim_missing"))
        .agg(count(lit(1)).as("n_orders"),
          sum(centsCol($"o_totalprice")).as("rev_cents"))
    }),

    // q8 shape: revenue restricted to the INTERSECTION of a literal
    // IN-list of nations and the derived set of nations with >= 40
    // customers. Both memberships resolve as broadcast-sized filters
    // on the dimension before the fact join.
    "q_tpcds_ziplist" -> ((s, d) => {
      import s.implicits._
      val populous = T.customer(s, d)
        .groupBy($"c_nationkey").agg(count(lit(1)).as("nc"))
        .filter($"nc" >= 60).select($"c_nationkey".as("pk"))
      val nations = T.nation(s, d)
        .filter($"n_name".isin("NATION_2", "NATION_5", "NATION_8",
          "NATION_9", "NATION_13", "NATION_16", "NATION_19", "NATION_21"))
        .join(populous, $"n_nationkey" === $"pk", "left_semi")
      T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(nations, $"s_nationkey" === $"n_nationkey", "left_semi")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(centsCol($"l_extendedprice")).as("rev_cents"))
    }),

    // q14 shape: items sold in ALL THREE channels (two consecutive
    // semi joins narrow the first channel's item set), then a ROLLUP
    // with grouping() flags over (channel, brand) of ONLY those
    // common items' sales.
    "q_tpcds_crosschannel" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      def items(f: String) =
        li.filter($"l_returnflag" === f).select($"l_partkey").distinct()
      val common = items("R")
        .join(items("N"), Seq("l_partkey"), "left_semi")
        .join(items("A"), Seq("l_partkey"), "left_semi")
      li.join(common, Seq("l_partkey"), "left_semi")
        .join(T.part(s, d), $"l_partkey" === $"p_partkey")
        .rollup($"l_returnflag", $"p_brand")
        .agg(sum(centsCol($"l_extendedprice")).as("rev_cents"),
          count(lit(1)).as("n_lines"),
          grouping($"l_returnflag").cast("long").as("g_chan"),
          grouping($"p_brand").cast("long").as("g_brand"))
    }),

    // q18/q22 composite shape: ROLLUP and COUNT(DISTINCT) in the SAME
    // aggregate — the rollup Expand and the distinct-split Expand
    // stack in one plan, still a single fact pass.
    "q_tpcds_rollup_distinct" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .rollup($"c_mktsegment", year($"o_orderdate").cast("long").as("yr"))
        .agg(countDistinct($"o_custkey").as("n_cust"),
          count(lit(1)).as("n_orders"),
          sum(centsCol($"o_totalprice")).as("rev_cents"),
          grouping($"c_mktsegment").cast("long").as("g_seg"),
          grouping_id().cast("long").as("gid"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q_tpcds_weekpivot" ->
      """WITH base AS (
           SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
                  CAST(date_diff('day', DATE '1995-01-02',
                    CAST(l_shipdate AS DATE)) AS BIGINT) AS days,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem
           WHERE year(l_shipdate) IN (1995, 1996)
             AND l_shipdate >= TIMESTAMP '1995-01-02'),
         wk AS (
           SELECT y, (days // 7) % 52 AS wkpos,
                  CAST(sum(CASE WHEN days % 7 <= 4 THEN cents ELSE 0 END)
                    AS BIGINT) AS wd,
                  CAST(sum(CASE WHEN days % 7 >= 5 THEN cents ELSE 0 END)
                    AS BIGINT) AS we
           FROM base GROUP BY 1, 2)
         SELECT a.wkpos,
                a.wd AS wd_95, a.we AS we_95,
                b.wd AS wd_96, b.we AS we_96,
                CAST(((1000000 * b.wd) + (a.wd // 2)) // a.wd AS BIGINT)
                  AS wd_ratio_ppm,
                CAST(((1000000 * b.we) + (a.we // 2)) // a.we AS BIGINT)
                  AS we_ratio_ppm
         FROM (SELECT * FROM wk WHERE y = 1995) a
         JOIN (SELECT * FROM wk WHERE y = 1996) b ON a.wkpos = b.wkpos
         WHERE a.wd > 0 AND a.we > 0""",
    "q_tpcds_threeway" ->
      """WITH r AS (SELECT l_partkey,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_r
                FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         n AS (SELECT l_partkey,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_n
                FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1),
         a AS (SELECT l_partkey,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_a
                FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1)
         SELECT r.l_partkey, qty_r, qty_n, qty_a,
                CAST(((1000000 * qty_r) + ((qty_r + qty_n + qty_a) // 2))
                  // (qty_r + qty_n + qty_a) AS BIGINT) AS share_r_ppm,
                CAST(((1000000 * qty_n) + ((qty_r + qty_n + qty_a) // 2))
                  // (qty_r + qty_n + qty_a) AS BIGINT) AS share_n_ppm,
                CAST(((1000000 * qty_a) + ((qty_r + qty_n + qty_a) // 2))
                  // (qty_r + qty_n + qty_a) AS BIGINT) AS share_a_ppm
         FROM r
         JOIN n ON r.l_partkey = n.l_partkey
         JOIN a ON r.l_partkey = a.l_partkey""",
    "q_tpcds_shortage" ->
      """SELECT p_brand,
                count(*) AS n_late,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS late_qty
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
           AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
         JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "q_tpcds_nullchan" ->
      """SELECT o_orderpriority,
                dim_key IS NULL AS dim_missing,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
         FROM orders
         LEFT JOIN (SELECT c_custkey AS dim_key FROM customer
                    WHERE c_mktsegment = 'BUILDING') dim
           ON o_custkey = dim_key
         GROUP BY 1, 2""",
    "q_tpcds_ziplist" ->
      """SELECT n_name,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name IN ('NATION_2', 'NATION_5', 'NATION_8', 'NATION_9',
                          'NATION_13', 'NATION_16', 'NATION_19', 'NATION_21')
           AND s_nationkey IN (
             SELECT c_nationkey FROM customer
             GROUP BY c_nationkey HAVING count(*) >= 60)
         GROUP BY n_name""",
    "q_tpcds_crosschannel" ->
      """WITH common AS (
           SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
           INTERSECT
           SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
           INTERSECT
           SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
         SELECT l_returnflag, p_brand,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents,
                count(*) AS n_lines,
                CAST(GROUPING(l_returnflag) AS BIGINT) AS g_chan,
                CAST(GROUPING(p_brand) AS BIGINT) AS g_brand
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE l_partkey IN (SELECT l_partkey FROM common)
         GROUP BY ROLLUP(l_returnflag, p_brand)""",
    "q_tpcds_rollup_distinct" ->
      """WITH base AS (
           SELECT c_mktsegment,
                  CAST(year(o_orderdate) AS BIGINT) AS yr,
                  o_custkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey)
         SELECT c_mktsegment, yr,
                count(DISTINCT o_custkey) AS n_cust,
                count(*) AS n_orders,
                CAST(sum(cents) AS BIGINT) AS rev_cents,
                CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
                CAST(GROUPING(c_mktsegment, yr) AS BIGINT) AS gid
         FROM base
         GROUP BY ROLLUP(c_mktsegment, yr)"""
  )
}
