package graft.operators

import graft.{QueryPack, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-DS-shaped plan battery (SURVEY §5). The reference's primary
  * validation is 103 TPC-DS queries (flink-end-to-end-tests/
  * flink-tpcds-test/tpcds-tool/query/, TpcdsTestProgram.java:137);
  * TPC-H covers simpler join/agg topology, so this pack ports the
  * TPC-DS plan SHAPES that actually stress Expand, join reorder,
  * window-over-join and CTE reuse at 100x — re-expressed on the
  * driver's star schema:
  *
  *   - q27/q67/q36: deep ROLLUP / grouping-set aggregates (Expand),
  *     one with a rank-within-parent window on top,
  *   - q51: per-channel cumulative windows + FULL OUTER JOIN,
  *   - q95: a grouped CTE reused by two semi-join consumers,
  *   - q88: many conditional aggregates in ONE scan (the 8-subquery
  *     cross join re-expressed as single-pass conditional agg —
  *     the Spark-first form that does not rescan the fact 8 times),
  *   - q34/q11/q10/q23: having-filtered fact feeding dim joins,
  *     year-over-year self-comparison, double-EXISTS customer
  *     filter, two-CTE frequent-item x big-spender intersection,
  *   - q71: UNION ALL of differently-filtered channel scans,
  *   - q92: windowed per-key average compared row-by-row,
  *   - q74/q4: four aggregated subframes joined 4-way with a
  *     cross-multiplied growth-ratio comparison,
  *   - q78: returns excluded by aggregated ANTI join, then per-year
  *     profile,
  *   - q97: FULL OUTER membership overlap matrix of two derived sets,
  *   - q1: correlated scalar subquery vs a group average of a derived
  *     aggregate (decorrelated to a broadcast grouped pass),
  *   - q6: scalar-subquery-per-row vs the brand average + HAVING,
  *   - q38/q87: triple-INTERSECT loyalty and INTERSECT-then-EXCEPT
  *     lapsed-buyer counts,
  *   - q16/q94: correlated EXISTS chain (same-order different-supplier
  *     self semi join + NOT EXISTS returns + urgent-order semi join),
  *   - q9-adjacent: uncorrelated scalar subquery in the projection
  *     (corpus-total revenue share in ppm),
  *   - q44: best/worst two-sided rankings self-joined on (group, rank),
  *   - q47/q57: deviation from the supplier-year monthly average with
  *     lag/lead neighbors,
  *   - q59: per-category sales matrix via groupBy.pivot,
  *   - q90: am/pm time-bucket count ratio in one scan,
  *   - q17/q29: bought-returned-rebought triple fact chain on
  *     (customer, part),
  *   - q54: first-purchase month -> next-month revenue histogram
  *     (integer year*12+month arithmetic),
  *   - q31: region-share growth, whole-dollar sums + half-up integer
  *     ppm shares (a cents cross-multiply would overflow int64),
  *   - q70: rank-filtered rollup (top-2 nations gate the Expand),
  *   - q35: existence-flag matrix grouping,
  *   - q62/q99: shipping-latency aging buckets.
  *
  * Money determinism: every monetary aggregate first quantizes to
  * integer CENTS (`CAST(round(x*100) AS BIGINT)` — the testdata is
  * 2-decimal, max observed distance from the cent grid 4e-9, so the
  * rounding is unambiguous in any engine) and sums/compares BIGINTs.
  * Float sums would depend on aggregation order and engine; integer
  * sums are exact, so ranks, HAVING thresholds and ratio comparisons
  * (expressed cross-multiplied: 10*a > 13*b) can never flip.
  */
object TpcdsShapePack extends QueryPack {

  private def centsCol(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q27 shape: star join into ROLLUP(nation, brand) with grouped
    // averages + grouping id. Expand feeds partial aggregation, so
    // the rollup costs one shuffle, not one per grouping set.
    "q_tpcds_rollup" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .join(T.part(s, d).filter($"p_size" < 15), $"l_partkey" === $"p_partkey")
        .rollup($"n_name", $"p_brand")
        .agg(count(lit(1)).as("n_items"),
          avg($"l_quantity").as("avg_qty"), // quantities are integral: exact
          (sum(centsCol($"l_extendedprice")) / count(lit(1))).as("avg_price_cents"),
          (sum(centsCol($"l_discount")) / count(lit(1))).as("avg_disc_pct"),
          grouping_id().cast("long").as("gid"))
    }),

    // q51 shape: two channel aggregates (returned vs normal flow) per
    // (supplier, month), each with a cumulative window, stitched by a
    // FULL OUTER JOIN on the grouping key; keep months where the
    // return channel's running total overtakes the normal one.
    "q_tpcds_cumwin" -> ((s, d) => {
      import s.implicits._
      def channel(flag: String, out: String) =
        T.lineitem(s, d).filter($"l_returnflag" === flag)
          .groupBy($"l_suppkey", date_trunc("month", $"l_shipdate").as("mon"))
          .agg(sum(centsCol($"l_extendedprice")).as(s"rev_$out"))
          .withColumn(s"cum_$out",
            sum(col(s"rev_$out")).over(Window.partitionBy($"l_suppkey")
              .orderBy($"mon")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select($"l_suppkey", $"mon", col(s"cum_$out"))
      channel("R", "ret").join(channel("N", "norm"),
          Seq("l_suppkey", "mon"), "full")
        .select($"l_suppkey", $"mon",
          coalesce($"cum_ret", lit(0L)).as("cum_ret_cents"),
          coalesce($"cum_norm", lit(0L)).as("cum_norm_cents"))
        .filter($"cum_ret_cents" > $"cum_norm_cents")
    }),

    // q95 shape: one grouped CTE (multi-supplier orders) consumed by
    // TWO semi joins — the membership test and the returned-line test
    // are both restricted to the same derived set. The initial physical
    // plan duplicates the CTE subtree, but AQE's runtime stage cache
    // keys on the canonicalized exchange, so the second consumer gets a
    // ReusedExchange of the CTE broadcast (verified via Probe plan:
    // final plan has 3 scans / reused=1, not 2 countDistinct pipelines).
    "q_tpcds_cte_reuse" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val multi = li.groupBy($"l_orderkey")
        .agg(countDistinct($"l_suppkey").as("ns"))
        .filter($"ns" >= 2).select($"l_orderkey")
      val returnedMulti = li.filter($"l_returnflag" === "R")
        .select($"l_orderkey").distinct()
        .join(multi, Seq("l_orderkey"), "left_semi")
      T.orders(s, d).filter($"o_orderpriority" === "1-URGENT")
        .join(multi, $"o_orderkey" === multi("l_orderkey"), "left_semi")
        .join(returnedMulti,
          $"o_orderkey" === returnedMulti("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("order_count"),
          sum(centsCol($"o_totalprice")).as("total_cents"))
    }),

    // q88 shape: eight bucketed counts of one fact table. TPC-DS
    // phrases it as 8 scalar subqueries cross-joined — 8 scans; the
    // Spark-first form is ONE scan with conditional aggregates.
    "q_tpcds_buckets" -> ((s, d) => {
      import s.implicits._
      def bucket(lo: Int, hi: Int, cheap: Boolean) =
        sum(when($"l_quantity" >= lo && $"l_quantity" < hi &&
          (if (cheap) $"l_discount" < 0.05 else $"l_discount" >= 0.05), 1L)
          .otherwise(0L))
      // unfanned (Probe fanab, r17): single global partial-agg pass
      T.lineitemRaw(s, d).agg(
        bucket(1, 10, true).as("b1_cheap"), bucket(1, 10, false).as("b1_deep"),
        bucket(10, 20, true).as("b2_cheap"), bucket(10, 20, false).as("b2_deep"),
        bucket(20, 30, true).as("b3_cheap"), bucket(20, 30, false).as("b3_deep"),
        bucket(30, 40, true).as("b4_cheap"), bucket(30, 40, false).as("b4_deep"))
    }),

    // q67 shape: ROLLUP over (region, nation, year) revenue, then
    // rank-within-parent on top of the Expand output — the grouping id
    // is part of the window partition so detail rows, nation subtotals
    // and grand totals each rank among their own kind.
    "q_tpcds_rank_rollup" -> ((s, d) => {
      import s.implicits._
      val base = T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .join(T.region(s, d), $"n_regionkey" === $"r_regionkey")
        .withColumn("yr", year($"l_shipdate").cast("long"))
      val agg = base.rollup($"r_name", $"n_name", $"yr")
        .agg(sum(centsCol($"l_extendedprice")).as("sales_cents"),
          grouping_id().cast("long").as("gid"))
      agg.withColumn("rk",
          rank().over(Window.partitionBy($"gid", $"r_name")
            .orderBy($"sales_cents".desc,
              coalesce($"n_name", lit("")).asc,
              coalesce($"yr", lit(-1L)).asc)).cast("long"))
        .filter($"rk" <= 3)
    }),

    // q34 shape: per-order line counts band-filtered by HAVING, then
    // joined back to the customer dimension.
    "q_tpcds_linecount" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d).groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_lines"))
        .filter($"n_lines".between(5, 7))
        .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"o_orderkey", $"n_lines")
    }),

    // q11 shape: year-over-year per-customer comparison — one grouped
    // scan per year, joined, growth test cross-multiplied in BIGINT
    // (10*t96 > 12*t95 == t96 > 1.2*t95, exactly).
    "q_tpcds_yoy" -> ((s, d) => {
      import s.implicits._
      def yearTotal(y: Int, out: String) =
        T.orders(s, d).filter(year($"o_orderdate") === y)
          .groupBy($"o_custkey")
          .agg(sum(centsCol($"o_totalprice")).as(out))
      yearTotal(1995, "t95_cents").join(yearTotal(1996, "t96_cents"),
          Seq("o_custkey"))
        .filter($"t95_cents" > 0 && $"t96_cents" * 10 > $"t95_cents" * 12)
        .select($"o_custkey", $"t95_cents", $"t96_cents")
    }),

    // q10 shape: customers qualified by TWO existence tests on
    // different fact slices (an urgent 1996 order AND a returned line
    // on any of their orders), then conditional demographic counts.
    "q_tpcds_exists_counts" -> ((s, d) => {
      import s.implicits._
      val o = T.orders(s, d)
      val urgent = o.filter($"o_orderpriority" === "1-URGENT" &&
          year($"o_orderdate") === 1996)
        .select($"o_custkey").distinct()
      val returned = o.join(
          T.lineitem(s, d).filter($"l_returnflag" === "R")
            .select($"l_orderkey").distinct(),
          $"o_orderkey" === $"l_orderkey", "left_semi")
        .select($"o_custkey").distinct()
      T.customer(s, d)
        .join(urgent, $"c_custkey" === urgent("o_custkey"), "left_semi")
        .join(returned, $"c_custkey" === returned("o_custkey"), "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(when($"c_acctbal" > 5000, 1L).otherwise(0L)).as("n_rich"))
    }),

    // q71 shape: UNION ALL of three differently-filtered channel scans
    // of the same fact, re-aggregated by (channel, year).
    "q_tpcds_channels" -> ((s, d) => {
      import s.implicits._
      def ch(cond: org.apache.spark.sql.Column, name: String) =
        T.lineitem(s, d).filter(cond)
          .select(lit(name).as("channel"),
            year($"l_shipdate").cast("long").as("yr"),
            centsCol($"l_extendedprice").as("cents"))
      ch($"l_discount" >= 0.08, "deep_discount")
        .unionByName(ch($"l_quantity" >= 40, "bulk"))
        .unionByName(ch($"l_tax" === 0.0, "tax_free"))
        .groupBy($"channel", $"yr")
        .agg(count(lit(1)).as("n_lines"), sum($"cents").as("rev_cents"))
    }),

    // q92 shape: window-over-join — each line compared against 1.3x
    // the per-part average price, cross-multiplied in BIGINT
    // (10*price*cnt > 13*sum == price > 1.3*avg, exactly).
    "q_tpcds_winjoin" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"l_partkey")
      T.lineitem(s, d)
        .join(T.part(s, d).filter($"p_size" <= 10),
          $"l_partkey" === $"p_partkey")
        .withColumn("cents", centsCol($"l_extendedprice"))
        .withColumn("cnt", count(lit(1)).over(w))
        .withColumn("part_sum", sum($"cents").over(w))
        .filter($"cents" * 10 * $"cnt" > $"part_sum" * 13)
        .agg(count(lit(1)).as("n_lines"), sum($"cents").as("sum_cents"))
    }),

    // q23 shape: two derived sets — frequent parts (in >= 8 distinct
    // orders) and big spenders (customer total >= 250k) — intersected
    // through the fact table.
    "q_tpcds_freq_cte" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val frequent = li.groupBy($"l_partkey")
        .agg(countDistinct($"l_orderkey").as("n_orders"))
        .filter($"n_orders" >= 8).select($"l_partkey")
      val spenders = T.orders(s, d).groupBy($"o_custkey")
        .agg(sum(centsCol($"o_totalprice")).as("tot"))
        .filter($"tot" >= 25000000L).select($"o_custkey")
      val spenderOrders = T.orders(s, d)
        .join(spenders, Seq("o_custkey"), "left_semi")
        .select($"o_orderkey")
      li.join(frequent, Seq("l_partkey"), "left_semi")
        .join(spenderOrders, $"l_orderkey" === $"o_orderkey", "left_semi")
        .agg(count(lit(1)).as("n_lines"),
          sum(centsCol($"l_extendedprice")).as("rev_cents"))
    }),

    // q74/q4 shape: TWO channels x TWO years of per-customer totals
    // (four aggregated subframes joined 4-way), keeping customers
    // whose lineitem-revenue growth outpaces their order-spend growth;
    // the ratio comparison is cross-multiplied in BIGINT so it can
    // never flip on float division.
    "q_tpcds_growth" -> ((s, d) => {
      import s.implicits._
      def spend(y: Int, out: String) =
        T.orders(s, d).filter(year($"o_orderdate") === y)
          .groupBy($"o_custkey")
          .agg(sum(centsCol($"o_totalprice")).as(out))
      def rev(y: Int, out: String) =
        T.orders(s, d)
          .join(T.lineitem(s, d).filter(year($"l_shipdate") === y),
            $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_custkey")
          .agg(sum(centsCol($"l_extendedprice")).as(out))
      spend(1995, "a95").join(spend(1996, "a96"), Seq("o_custkey"))
        .join(rev(1995, "b95"), Seq("o_custkey"))
        .join(rev(1996, "b96"), Seq("o_custkey"))
        .filter($"a95" > 0 && $"b95" > 0 &&
          $"b96" * $"a95" > $"a96" * $"b95")
        .select($"o_custkey", $"a95", $"a96", $"b95", $"b96")
    }),

    // q78 shape: the fact with RETURNED units anti-joined away, then
    // per-year volume/revenue — the returns-excluded sales profile.
    "q_tpcds_antireturn" -> ((s, d) => {
      import s.implicits._
      val returned = T.lineitem(s, d).filter($"l_returnflag" === "R")
        .select($"l_orderkey").distinct()
      T.lineitem(s, d)
        .join(returned, Seq("l_orderkey"), "left_anti")
        .groupBy(year($"l_shipdate").cast("long").as("yr"))
        .agg(count(lit(1)).as("n_lines"),
          sum($"l_quantity").cast("long").as("sum_qty"),
          sum(centsCol($"l_extendedprice")).as("rev_cents"))
    }),

    // q97 shape: FULL OUTER JOIN of two aggregated membership sets
    // (1995 buyers vs 1996 buyers) reduced to the overlap matrix.
    "q_tpcds_overlap" -> ((s, d) => {
      import s.implicits._
      def buyers(y: Int, out: String) =
        T.orders(s, d).filter(year($"o_orderdate") === y)
          .select($"o_custkey".as(out)).distinct()
      buyers(1995, "c95")
        .join(buyers(1996, "c96"), $"c95" === $"c96", "full_outer")
        .agg(
          sum(when($"c95".isNotNull && $"c96".isNotNull, 1L).otherwise(0L))
            .as("n_both"),
          sum(when($"c96".isNull, 1L).otherwise(0L)).as("n_only_95"),
          sum(when($"c95".isNull, 1L).otherwise(0L)).as("n_only_96"))
    }),

    // q36 shape: margin rollup over the region hierarchy with a
    // rank-within-parent; revenue carries the discount exactly as
    // cents x (100 - discount-percent) so the rank key is BIGINT.
    "q_tpcds_margin_rollup" -> ((s, d) => {
      import s.implicits._
      val base = T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .join(T.region(s, d), $"n_regionkey" === $"r_regionkey")
        .withColumn("rev_e4",
          centsCol($"l_extendedprice") * (lit(100L) - centsCol($"l_discount")))
      base.rollup($"r_name", $"n_name")
        .agg(sum($"rev_e4").as("rev_e4"),
          sum($"l_quantity").cast("long").as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .withColumn("rk",
          rank().over(Window.partitionBy($"gid", $"r_name")
            .orderBy($"rev_e4".desc, coalesce($"n_name", lit("")).asc))
            .cast("long"))
    }),

    // q1 shape: correlated scalar subquery against a GROUP AVERAGE of
    // a derived aggregate — customers whose returned-line total beats
    // 1.2x their nation's average. Decorrelated Spark-first: the
    // per-nation avg is a second grouped pass over the per-customer
    // aggregate, broadcast back; the avg comparison is cross-multiplied
    // (ret*10*cnt > sum*12) so it stays in exact BIGINT.
    "q_tpcds_ret_above_avg" -> ((s, d) => {
      import s.implicits._
      val ctr = T.lineitem(s, d).filter($"l_returnflag" === "R")
        .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_nationkey")
        .agg(sum(centsCol($"l_extendedprice")).as("ret_cents"))
      val nat = ctr.groupBy($"c_nationkey")
        .agg(sum($"ret_cents").as("nat_sum"), count(lit(1)).as("nat_cnt"))
      ctr.join(broadcast(nat), Seq("c_nationkey"))
        .filter($"ret_cents" * 10L * $"nat_cnt" > $"nat_sum" * 12L)
        .select($"c_custkey", $"ret_cents")
    }),

    // q6 shape: scalar-subquery-per-row — each line against 1.2x its
    // BRAND's average price, then per-nation counts with HAVING. The
    // correlated per-row avg decorrelates to one per-brand aggregate
    // broadcast onto the fact; nations keep the q6 `HAVING count >= 10`.
    // The fact⋈part frame is consumed TWICE (per-brand aggregate and
    // rowwise gate) — left lazy, Catalyst plans the fact scan twice (no
    // ReusedExchange: the two consumers prune differently), which at
    // 100 TB is a second full fact pass. So the shared frame is pruned
    // to the three columns both consumers need (cents, brand, suppkey)
    // and pinned ONCE (Materialize.pin, the 00a059d pattern): one fact
    // scan, one narrow materialization, and both consumers read the pin.
    "q_tpcds_scalar_sub" -> ((s, d) => {
      import s.implicits._
      val withBrand = graft.ext.Materialize.pin(
        T.lineitem(s, d)
          .withColumn("cents", centsCol($"l_extendedprice"))
          .join(T.part(s, d), $"l_partkey" === $"p_partkey")
          .select($"cents", $"p_brand", $"l_suppkey"))
      val bavg = withBrand.groupBy($"p_brand")
        .agg(sum($"cents").as("bsum"), count(lit(1)).as("bcnt"))
      withBrand.join(broadcast(bavg), Seq("p_brand"))
        .filter($"cents" * 10L * $"bcnt" > $"bsum" * 12L)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name").agg(count(lit(1)).as("n_pricey"))
        .filter($"n_pricey" >= 10)
    }),

    // q38/q87 shape: INTERSECT-heavy multi-channel membership — buyers
    // present in ALL three years (q38: triple INTERSECT) next to buyers
    // in '94 AND '95 but NOT '96 (q87: INTERSECT then EXCEPT). Spark
    // lowers intersect/except to left-semi/anti over distinct sets.
    "q_tpcds_intersect" -> ((s, d) => {
      import s.implicits._
      def buyers(y: Int) = T.orders(s, d)
        .filter(year($"o_orderdate") === y)
        .select($"o_custkey").distinct()
      val both45 = buyers(1994).intersect(buyers(1995))
      both45.intersect(buyers(1996)).agg(count(lit(1)).as("n_all3"))
        .crossJoin(
          both45.except(buyers(1996)).agg(count(lit(1)).as("n_lapsed")))
    }),

    // q16/q94 shape: correlated EXISTS chain — 1995-shipped lines of
    // urgent orders that EXIST with a same-order DIFFERENT-supplier
    // line (self semi join with an inequality conjunct) and have NO
    // returned line anywhere in the order (anti join).
    "q_tpcds_exists_chain" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val other = li.select($"l_orderkey".as("k2"), $"l_suppkey".as("s2"))
      val returned = li.filter($"l_returnflag" === "R")
        .select($"l_orderkey").distinct()
      li.filter(year($"l_shipdate") === 1995)
        .join(other, $"l_orderkey" === $"k2" && $"l_suppkey" =!= $"s2",
          "left_semi")
        .join(returned, Seq("l_orderkey"), "left_anti")
        .join(T.orders(s, d).filter($"o_orderpriority" === "1-URGENT"),
          $"l_orderkey" === $"o_orderkey", "left_semi")
        .agg(countDistinct($"l_orderkey").as("n_orders"),
          count(lit(1)).as("n_lines"),
          sum(centsCol($"l_extendedprice")).as("rev_cents"))
    }),

    // q44 shape: best AND worst performers via two OPPOSITE rankings
    // over one aggregate, self-joined on (group, rank) — the
    // two-sided leaderboard join.
    "q_tpcds_bestworst" -> ((s, d) => {
      import s.implicits._
      val agg = T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_nationkey", $"s_suppkey")
        .agg(sum(centsCol($"l_extendedprice")).as("rev_cents"))
      val best = agg.withColumn("rk", rank().over(
          Window.partitionBy($"s_nationkey")
            .orderBy($"rev_cents".desc, $"s_suppkey".asc)))
        .filter($"rk" <= 2)
        .select($"s_nationkey", $"rk".cast("long").as("rk"),
          $"s_suppkey".as("best_supp"), $"rev_cents".as("best_cents"))
      val worst = agg.withColumn("rk", rank().over(
          Window.partitionBy($"s_nationkey")
            .orderBy($"rev_cents".asc, $"s_suppkey".asc)))
        .filter($"rk" <= 2)
        .select($"s_nationkey".as("nk2"), $"rk".cast("long").as("rk2"),
          $"s_suppkey".as("worst_supp"), $"rev_cents".as("worst_cents"))
      best.join(worst, $"s_nationkey" === $"nk2" && $"rk" === $"rk2")
        .select($"s_nationkey", $"rk",
          $"best_supp", $"best_cents", $"worst_supp", $"worst_cents")
    }),

    // q47/q57 shape: monthly revenue against the supplier-year MONTHLY
    // AVERAGE with the neighboring months alongside (lag/lead) — keep
    // months deviating > 30%. The avg comparison multiplies through by
    // the month count (|rev*n - ytot|*10 > ytot*3) so it stays exact
    // BIGINT.
    "q_tpcds_monthdev" -> ((s, d) => {
      import s.implicits._
      val monthly = T.lineitem(s, d)
        .groupBy($"l_suppkey", year($"l_shipdate").cast("long").as("yr"),
          date_trunc("month", $"l_shipdate").as("mon"))
        .agg(sum(centsCol($"l_extendedprice")).as("rev_cents"))
      val wy = Window.partitionBy($"l_suppkey", $"yr")
      val ws = Window.partitionBy($"l_suppkey", $"yr").orderBy($"mon")
      monthly
        .withColumn("ytot", sum($"rev_cents").over(wy))
        .withColumn("nmon", count(lit(1)).over(wy))
        .withColumn("prev_cents", lag($"rev_cents", 1).over(ws))
        .withColumn("next_cents", lead($"rev_cents", 1).over(ws))
        .filter(abs($"rev_cents" * $"nmon" - $"ytot") * 10 > $"ytot" * 3)
        .select($"l_suppkey", $"mon", $"rev_cents",
          $"prev_cents", $"next_cents")
    }),

    // q59 shape: the per-category sales MATRIX via pivot — revenue per
    // nation pivoted by return flag (Spark's groupBy.pivot == the
    // day-of-week matrix q59 builds with conditional sums). Missing
    // cells coalesce to 0 so the pivot matches the oracle's
    // CASE-sum form exactly.
    "q_tpcds_pivot" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(centsCol($"l_extendedprice")))
        .select($"n_name",
          coalesce($"A", lit(0L)).as("a_cents"),
          coalesce($"N", lit(0L)).as("n_cents"),
          coalesce($"R", lit(0L)).as("r_cents"))
    }),

    // q90 shape: ratio of two time-bucket counts of one fact scan
    // (TPC-DS's am/pm ratio) — single-pass conditional counts, integer
    // ppm ratio with a guarded zero denominator.
    "q_tpcds_timebucket" -> ((s, d) => {
      import s.implicits._
      T.events(s, d).groupBy($"event_type")
        .agg(sum(when(hour($"ts") < 12, 1L).otherwise(0L)).as("n_am"),
          sum(when(hour($"ts") >= 12, 1L).otherwise(0L)).as("n_pm"))
        .select($"event_type", $"n_am", $"n_pm",
          when($"n_pm" > 0,
            expr("((1000000 * n_am) + (n_pm div 2)) div n_pm"))
            .otherwise(lit(-1L)).as("am_pm_ppm"))
    }),

    // q17/q29 shape: bought, returned, and bought AGAIN — three slices
    // of the fact joined on (customer, part), profiled per market
    // segment. The triple equi-join chain is TPC-DS's
    // store/returns/store-again pattern.
    "q_tpcds_rebuy" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val o = T.orders(s, d)
      def slice(yr: Int, retOnly: Boolean, qOut: String) = {
        val l = if (retOnly) li.filter($"l_returnflag" === "R") else li
        l.filter(year($"l_shipdate") === yr)
          .join(o, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_custkey", $"l_partkey")
          .agg(sum($"l_quantity").cast("long").as(qOut))
      }
      slice(1995, retOnly = false, "q_buy")
        .join(slice(1995, retOnly = true, "q_ret"),
          Seq("o_custkey", "l_partkey"))
        .join(slice(1996, retOnly = false, "q_rebuy"),
          Seq("o_custkey", "l_partkey"))
        .join(T.customer(s, d), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_triples"),
          sum($"q_buy").as("sum_buy"), sum($"q_ret").as("sum_ret"),
          sum($"q_rebuy").as("sum_rebuy"))
    }),

    // q54 shape: first-purchase month per customer, then the revenue
    // histogram of the FOLLOWING month — month arithmetic done as
    // integer year*12+month so both engines join on exact BIGINTs,
    // bucketed by 5000-dollar (500000-cent) ranges.
    "q_tpcds_nextmonth" -> ((s, d) => {
      import s.implicits._
      val om = T.orders(s, d).withColumn("ym",
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long"))
      val first = om.groupBy($"o_custkey").agg(min($"ym").as("first_ym"))
      om.join(first, Seq("o_custkey"))
        .filter($"ym" === $"first_ym" + 1)
        .groupBy($"o_custkey")
        .agg(sum(centsCol($"o_totalprice")).as("next_cents"))
        .groupBy(expr("next_cents div 500000").as("bucket"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // q31 shape: market-SHARE growth — each nation's share of its
    // region's revenue, 1995 vs 1996, keeping nations whose share
    // grew. Revenue is summed in WHOLE DOLLARS (cents div 100 per
    // line) and shares compared as half-up integer ppm — a cents
    // cross-multiply (n96*r95) overflows int64 once region totals
    // pass ~1e9 cents, so the scale-safe form quantizes the share,
    // identically in both engines, instead of multiplying raw sums.
    "q_tpcds_sharegrowth" -> ((s, d) => {
      import s.implicits._
      def shares(y: Int, nOut: String, rOut: String, pOut: String) =
        T.lineitem(s, d).filter(year($"l_shipdate") === y)
          .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
          .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
          .join(T.region(s, d), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(sum(expr(
            "cast(round(l_extendedprice * 100) as bigint) div 100"))
            .as(nOut))
          .withColumn(rOut,
            sum(col(nOut)).over(Window.partitionBy($"r_name")))
          .withColumn(pOut,
            expr(s"((1000000 * $nOut) + ($rOut div 2)) div $rOut"))
      shares(1995, "n95_usd", "r95_usd", "p95")
        .join(shares(1996, "n96_usd", "r96_usd", "p96"),
          Seq("r_name", "n_name"))
        .filter($"p96" > $"p95")
        .select($"r_name", $"n_name", $"n95_usd", $"r95_usd",
          $"n96_usd", $"r96_usd", $"p95".as("share95_ppm"),
          $"p96".as("share96_ppm"))
    }),

    // q70 shape: a RANKED subquery gates the rollup — only each
    // region's top-2 nations by revenue enter the (region, nation)
    // rollup, so subtotals aggregate a rank-filtered fact.
    "q_tpcds_rankgate" -> ((s, d) => {
      import s.implicits._
      val base = T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .join(T.region(s, d), $"n_regionkey" === $"r_regionkey")
      val top2 = base.groupBy($"r_name", $"n_name")
        .agg(sum(centsCol($"l_extendedprice")).as("rev"))
        .withColumn("rk", rank().over(Window.partitionBy($"r_name")
          .orderBy($"rev".desc, $"n_name".asc)))
        .filter($"rk" <= 2).select($"r_name", $"n_name")
      base.join(top2, Seq("r_name", "n_name"), "left_semi")
        .rollup($"r_name", $"n_name")
        .agg(sum(centsCol($"l_extendedprice")).as("rev_cents"),
          grouping_id().cast("long").as("gid"))
    }),

    // q35 shape: customers grouped by their EXISTENCE-FLAG matrix —
    // (bought in '95?, bought in '96?) from two left semi-ish flag
    // joins, with counts and account-balance sums per cell.
    "q_tpcds_flagmatrix" -> ((s, d) => {
      import s.implicits._
      def buyers(y: Int, out: String) = T.orders(s, d)
        .filter(year($"o_orderdate") === y)
        .select($"o_custkey".as(out)).distinct()
      T.customer(s, d)
        .join(buyers(1995, "b95"), $"c_custkey" === $"b95", "left")
        .join(buyers(1996, "b96"), $"c_custkey" === $"b96", "left")
        .select($"c_custkey", $"c_acctbal",
          $"b95".isNotNull.as("has95"), $"b96".isNotNull.as("has96"))
        .groupBy($"has95", $"has96")
        .agg(count(lit(1)).as("n_customers"),
          sum(centsCol($"c_acctbal")).as("acct_cents"))
    }),

    // q62/q99 shape: the shipping-latency AGING matrix — days from
    // order to ship bucketed 0-30/31-60/61-90/90+ per nation, one
    // scan, integer datediff in both engines.
    "q_tpcds_aging" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .withColumn("lat", datediff($"l_shipdate", $"o_orderdate").cast("long"))
        .groupBy($"n_name")
        .agg(sum(when($"lat" <= 30, 1L).otherwise(0L)).as("d30"),
          sum(when($"lat" > 30 && $"lat" <= 60, 1L).otherwise(0L)).as("d60"),
          sum(when($"lat" > 60 && $"lat" <= 90, 1L).otherwise(0L)).as("d90"),
          sum(when($"lat" > 90, 1L).otherwise(0L)).as("d90plus"))
    }),

    // q9-adjacent shape: UNCORRELATED scalar subquery in the
    // projection — every nation's revenue against the corpus-total
    // scalar, emitted as integer ppm share (half-up: +tot/2 before the
    // floor division, the same idiom as the text-quality ratios).
    "q_tpcds_share" -> ((s, d) => {
      import s.implicits._
      val nat = T.lineitem(s, d)
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(centsCol($"l_extendedprice")).as("rev_cents"))
      val total = nat.agg(sum($"rev_cents").as("tot"))
      nat.crossJoin(broadcast(total))
        .select($"n_name", $"rev_cents",
          expr("((1000000 * rev_cents) + (tot div 2)) div tot")
            .as("share_ppm"))
    }),

    // q16/q69 shape: NOT IN (subquery) — customers with NO urgent
    // order. Expressed as SQL so Catalyst plans the null-aware anti
    // join (o_custkey is nullable by schema; a plain left_anti would
    // silently change NULL semantics). Physical: broadcast null-aware
    // anti join — single scan of the big side.
    "q_tpcds_notin" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d).createOrReplaceTempView("tpcds_notin_customer")
      T.orders(s, d).createOrReplaceTempView("tpcds_notin_orders")
      s.sql("""
        SELECT c_mktsegment, count(*) AS n_quiet,
               CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM tpcds_notin_customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM tpcds_notin_orders
          WHERE o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment""")
    }),

    // q14/q38-adjacent shape: MULTIPLE COUNT(DISTINCT ...) over
    // different columns (and one composite) in a single aggregate —
    // Catalyst's distinct-agg split rewrites this through one Expand,
    // one shuffle per distinct group, not one scan per distinct.
    "q_tpcds_multidistinct" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .groupBy(year($"o_orderdate").cast("long").as("yr"))
        .agg(
          countDistinct($"o_custkey").as("n_cust"),
          countDistinct($"o_orderpriority").as("n_prio"),
          // distinct STRUCT, not multi-arg countDistinct: Spark's
          // count(DISTINCT a, b) skips NULL-containing rows while
          // DuckDB's count(DISTINCT (a,b)) counts them as tuples —
          // the struct form matches tuple semantics if a NULL custkey
          // ever appears in the data
          countDistinct(struct($"o_custkey", $"o_orderpriority"))
            .as("n_cust_prio"),
          count(lit(1)).as("n_orders"),
          sum(centsCol($"o_totalprice")).as("rev_cents"))
    }),

    // LATERAL correlated subquery (TPC-DS q9/q44 family; Spark
    // DecorrelateInnerQuery): for every nation, its top-2 suppliers by
    // account balance via a correlated LATERAL ... ORDER BY ... LIMIT.
    // Catalyst decorrelates the per-row subquery into one windowed
    // pass — the plan a hand-written rank() would produce, from
    // correlated SQL. SQL-expressed so the decorrelation path itself
    // is exercised.
    "q_tpcds_lateral" -> ((s, d) => {
      import s.implicits._
      T.nation(s, d).createOrReplaceTempView("tpcds_lat_nation")
      T.supplier(s, d).createOrReplaceTempView("tpcds_lat_supplier")
      s.sql("""
        SELECT n_name, t.s_name, t.s_acctbal
        FROM tpcds_lat_nation,
        LATERAL (
          SELECT s_name, s_acctbal FROM tpcds_lat_supplier
          WHERE s_nationkey = n_nationkey
          ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 2) t""")
    }),

    // q49 shape: per-status return-RATIO ranking, worst first, with
    // the amount-ratio and quantity-ratio leaderboards UNIONed. The
    // ratio ranks in integer parts-per-million (half-up), so rank
    // order can never flip between engines; ratio ties break by part.
    "q_tpcds_returnratio" -> ((s, d) => {
      import s.implicits._
      val base = T.lineitem(s, d)
        .groupBy($"l_linestatus", $"l_partkey")
        .agg(
          sum(centsCol($"l_extendedprice")).as("amt"),
          sum(when($"l_returnflag" === "R",
            centsCol($"l_extendedprice")).otherwise(0L)).as("ret_amt"),
          sum($"l_quantity".cast("long")).as("qty"),
          sum(when($"l_returnflag" === "R", $"l_quantity".cast("long"))
            .otherwise(0L)).as("ret_qty"))
        .filter($"amt" > 0 && $"qty" > 0)
        .withColumn("amt_ppm",
          expr("((1000000 * ret_amt) + (amt div 2)) div amt"))
        .withColumn("qty_ppm",
          expr("((1000000 * ret_qty) + (qty div 2)) div qty"))
      def top(col_ : String, ch: String) = base
        .withColumn("rk", rank().over(Window.partitionBy($"l_linestatus")
          .orderBy(col(col_).desc, $"l_partkey".asc)))
        .filter($"rk" <= 5)
        .select(lit(ch).as("board"), $"l_linestatus", $"l_partkey",
          col(col_).as("ret_ppm"), $"rk".cast("long").as("rk"))
      top("amt_ppm", "amount").unionAll(top("qty_ppm", "quantity"))
    }),

    // q80/q93 shape: sales LEFT JOIN per-line returns (the returned
    // subset of the same fact re-keyed by (orderkey, linenumber)),
    // netted and ROLLUP'd by nation. Refunds quantize to cents with
    // the identical expression order in both engines, then net profit
    // is BIGINT subtraction — exact under any aggregation order.
    "q_tpcds_returns_profit" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val ret = li.filter($"l_returnflag" === "R")
        .select($"l_orderkey".as("rk"), $"l_linenumber".as("rl"),
          centsCol($"l_extendedprice" * (lit(1) - $"l_discount"))
            .as("refund_cents"))
      li.join(ret,
          $"l_orderkey" === $"rk" && $"l_linenumber" === $"rl", "left")
        .join(T.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .join(T.nation(s, d), $"s_nationkey" === $"n_nationkey")
        .rollup($"n_name")
        .agg(
          sum(centsCol($"l_extendedprice")).as("sales_cents"),
          sum(coalesce($"refund_cents", lit(0L))).as("refund_cents_sum"),
          (sum(centsCol($"l_extendedprice")) -
            sum(coalesce($"refund_cents", lit(0L)))).as("net_cents"),
          grouping($"n_name").cast("long").as("gid"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q_tpcds_rollup" ->
      """SELECT n_name, p_brand, count(*) AS n_items,
                avg(l_quantity) AS avg_qty,
                sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / count(*)
                  AS avg_price_cents,
                sum(CAST(round(l_discount * 100) AS BIGINT)) / count(*)
                  AS avg_disc_pct,
                CAST(GROUPING(n_name, p_brand) AS BIGINT) AS gid
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN part ON l_partkey = p_partkey
         WHERE p_size < 15
         GROUP BY ROLLUP(n_name, p_brand)""",
    "q_tpcds_cumwin" ->
      """WITH ch AS (
           SELECT l_returnflag AS fl, l_suppkey,
                  CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mon,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
           FROM lineitem WHERE l_returnflag IN ('R', 'N')
           GROUP BY 1, 2, 3),
         cum AS (
           SELECT fl, l_suppkey, mon,
                  CAST(sum(rev) OVER (PARTITION BY fl, l_suppkey ORDER BY mon
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM ch)
         SELECT coalesce(r.l_suppkey, n.l_suppkey) AS l_suppkey,
                coalesce(r.mon, n.mon) AS mon,
                coalesce(r.cum, 0) AS cum_ret_cents,
                coalesce(n.cum, 0) AS cum_norm_cents
         FROM (SELECT * FROM cum WHERE fl = 'R') r
         FULL JOIN (SELECT * FROM cum WHERE fl = 'N') n
           ON r.l_suppkey = n.l_suppkey AND r.mon = n.mon
         WHERE coalesce(r.cum, 0) > coalesce(n.cum, 0)""",
    "q_tpcds_cte_reuse" ->
      """WITH multi AS (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) >= 2),
         ret_multi AS (
           SELECT DISTINCT l_orderkey FROM lineitem
           WHERE l_returnflag = 'R'
             AND l_orderkey IN (SELECT l_orderkey FROM multi))
         SELECT count(*) AS order_count,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         WHERE o_orderpriority = '1-URGENT'
           AND o_orderkey IN (SELECT l_orderkey FROM multi)
           AND o_orderkey IN (SELECT l_orderkey FROM ret_multi)""",
    "q_tpcds_buckets" ->
      """SELECT
           CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity < 10 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b1_cheap,
           CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity < 10 AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b1_deep,
           CAST(sum(CASE WHEN l_quantity >= 10 AND l_quantity < 20 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b2_cheap,
           CAST(sum(CASE WHEN l_quantity >= 10 AND l_quantity < 20 AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b2_deep,
           CAST(sum(CASE WHEN l_quantity >= 20 AND l_quantity < 30 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b3_cheap,
           CAST(sum(CASE WHEN l_quantity >= 20 AND l_quantity < 30 AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b3_deep,
           CAST(sum(CASE WHEN l_quantity >= 30 AND l_quantity < 40 AND l_discount < 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b4_cheap,
           CAST(sum(CASE WHEN l_quantity >= 30 AND l_quantity < 40 AND l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS b4_deep
         FROM lineitem""",
    "q_tpcds_rank_rollup" ->
      """WITH agg AS (
           SELECT r_name, n_name, yr,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sales_cents,
                  CAST(GROUPING(r_name, n_name, yr) AS BIGINT) AS gid
           FROM (SELECT l_extendedprice, r_name, n_name,
                        CAST(year(l_shipdate) AS BIGINT) AS yr
                 FROM lineitem
                 JOIN supplier ON l_suppkey = s_suppkey
                 JOIN nation ON s_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey)
           GROUP BY ROLLUP(r_name, n_name, yr))
         SELECT r_name, n_name, yr, sales_cents, gid, rk FROM (
           SELECT *, rank() OVER (PARTITION BY gid, r_name
                     ORDER BY sales_cents DESC,
                              coalesce(n_name, '') ASC,
                              coalesce(yr, -1) ASC) AS rk
           FROM agg) WHERE rk <= 3""",
    "q_tpcds_linecount" ->
      """SELECT c_custkey, c_name, o_orderkey, n_lines FROM (
           SELECT l_orderkey, count(*) AS n_lines
           FROM lineitem GROUP BY l_orderkey
           HAVING count(*) BETWEEN 5 AND 7) lc
         JOIN orders ON lc.l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey""",
    "q_tpcds_yoy" ->
      """WITH t95 AS (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS t95_cents
           FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey),
         t96 AS (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS t96_cents
           FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey)
         SELECT t95.o_custkey, t95_cents, t96_cents
         FROM t95 JOIN t96 ON t95.o_custkey = t96.o_custkey
         WHERE t95_cents > 0 AND t96_cents * 10 > t95_cents * 12""",
    "q_tpcds_exists_counts" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
                CAST(sum(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich
         FROM customer
         WHERE c_custkey IN (
             SELECT o_custkey FROM orders
             WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996)
           AND c_custkey IN (
             SELECT o_custkey FROM orders
             WHERE o_orderkey IN (
               SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'))
         GROUP BY c_mktsegment""",
    "q_tpcds_channels" ->
      """WITH u AS (
           SELECT 'deep_discount' AS channel,
                  CAST(year(l_shipdate) AS BIGINT) AS yr,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem WHERE l_discount >= 0.08
           UNION ALL
           SELECT 'bulk', CAST(year(l_shipdate) AS BIGINT),
                  CAST(round(l_extendedprice * 100) AS BIGINT)
           FROM lineitem WHERE l_quantity >= 40
           UNION ALL
           SELECT 'tax_free', CAST(year(l_shipdate) AS BIGINT),
                  CAST(round(l_extendedprice * 100) AS BIGINT)
           FROM lineitem WHERE l_tax = 0.0)
         SELECT channel, yr, count(*) AS n_lines,
                CAST(sum(cents) AS BIGINT) AS rev_cents
         FROM u GROUP BY channel, yr""",
    "q_tpcds_winjoin" ->
      """WITH w AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                  count(*) OVER (PARTITION BY l_partkey) AS cnt,
                  sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    OVER (PARTITION BY l_partkey) AS part_sum
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size <= 10)
         SELECT count(*) AS n_lines, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM w WHERE cents * 10 * cnt > part_sum * 13""",
    "q_tpcds_freq_cte" ->
      """WITH frequent AS (
           SELECT l_partkey FROM lineitem
           GROUP BY l_partkey HAVING count(DISTINCT l_orderkey) >= 8),
         spenders AS (
           SELECT o_custkey FROM orders GROUP BY o_custkey
           HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) >= 25000000),
         spender_orders AS (
           SELECT o_orderkey FROM orders
           WHERE o_custkey IN (SELECT o_custkey FROM spenders))
         SELECT count(*) AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM lineitem
         WHERE l_partkey IN (SELECT l_partkey FROM frequent)
           AND l_orderkey IN (SELECT o_orderkey FROM spender_orders)""",
    "q_tpcds_margin_rollup" ->
      """WITH base AS (
           SELECT r_name, n_name, l_quantity,
                  CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         agg AS (
           SELECT r_name, n_name, CAST(sum(rev_e4) AS BIGINT) AS rev_e4,
                  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                  CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
           FROM base GROUP BY ROLLUP(r_name, n_name))
         SELECT r_name, n_name, rev_e4, sum_qty, gid,
                rank() OVER (PARTITION BY gid, r_name
                  ORDER BY rev_e4 DESC, coalesce(n_name, '') ASC) AS rk
         FROM agg""",
    "q_tpcds_growth" ->
      """WITH spend AS (
           SELECT o_custkey, year(o_orderdate) AS yr,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM orders WHERE year(o_orderdate) IN (1995, 1996)
           GROUP BY o_custkey, year(o_orderdate)),
         rev AS (
           SELECT o_custkey, year(l_shipdate) AS yr,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           WHERE year(l_shipdate) IN (1995, 1996)
           GROUP BY o_custkey, year(l_shipdate))
         SELECT a95.o_custkey, a95.cents AS a95, a96.cents AS a96,
                b95.cents AS b95, b96.cents AS b96
         FROM (SELECT * FROM spend WHERE yr = 1995) a95
         JOIN (SELECT * FROM spend WHERE yr = 1996) a96 USING (o_custkey)
         JOIN (SELECT * FROM rev WHERE yr = 1995) b95 USING (o_custkey)
         JOIN (SELECT * FROM rev WHERE yr = 1996) b96 USING (o_custkey)
         WHERE a95.cents > 0 AND b95.cents > 0
           AND b96.cents * a95.cents > a96.cents * b95.cents""",
    "q_tpcds_antireturn" ->
      """SELECT year(l_shipdate) AS yr, count(*) AS n_lines,
                CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
         FROM lineitem
         WHERE l_orderkey NOT IN (
           SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
         GROUP BY year(l_shipdate)""",
    "q_tpcds_overlap" ->
      """WITH c95 AS (SELECT DISTINCT o_custkey AS c95 FROM orders
                      WHERE year(o_orderdate) = 1995),
            c96 AS (SELECT DISTINCT o_custkey AS c96 FROM orders
                      WHERE year(o_orderdate) = 1996)
         SELECT
           CAST(sum(CASE WHEN c95 IS NOT NULL AND c96 IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN c96 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_95,
           CAST(sum(CASE WHEN c95 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_96
         FROM c95 FULL OUTER JOIN c96 ON c95 = c96""",
    "q_tpcds_ret_above_avg" ->
      """WITH ctr AS (
           SELECT c_custkey, c_nationkey,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS ret_cents
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE l_returnflag = 'R'
           GROUP BY c_custkey, c_nationkey),
         nat AS (
           SELECT c_nationkey, CAST(sum(ret_cents) AS BIGINT) AS nat_sum,
                  count(*) AS nat_cnt
           FROM ctr GROUP BY c_nationkey)
         SELECT c_custkey, ret_cents
         FROM ctr JOIN nat USING (c_nationkey)
         WHERE ret_cents * 10 * nat_cnt > nat_sum * 12""",
    "q_tpcds_scalar_sub" ->
      """WITH pb AS (
           SELECT l_suppkey, p_brand,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         bavg AS (
           SELECT p_brand, CAST(sum(cents) AS BIGINT) AS bsum,
                  count(*) AS bcnt
           FROM pb GROUP BY p_brand)
         SELECT n_name, count(*) AS n_pricey
         FROM pb
         JOIN bavg USING (p_brand)
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE cents * 10 * bcnt > bsum * 12
         GROUP BY n_name HAVING count(*) >= 10""",
    "q_tpcds_intersect" ->
      """WITH b94 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1994),
            b95 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1995),
            b96 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1996),
            b45 AS (SELECT o_custkey FROM b94
                    INTERSECT SELECT o_custkey FROM b95)
         SELECT (SELECT count(*) FROM
                   (SELECT o_custkey FROM b45
                    INTERSECT SELECT o_custkey FROM b96)) AS n_all3,
                (SELECT count(*) FROM
                   (SELECT o_custkey FROM b45
                    EXCEPT SELECT o_custkey FROM b96)) AS n_lapsed""",
    "q_tpcds_exists_chain" ->
      """SELECT count(DISTINCT l1.l_orderkey) AS n_orders,
                count(*) AS n_lines,
                CAST(sum(CAST(round(l1.l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS rev_cents
         FROM lineitem l1
         WHERE year(l1.l_shipdate) = 1995
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_returnflag = 'R')
           AND EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l1.l_orderkey
                         AND o.o_orderpriority = '1-URGENT')""",
    "q_tpcds_bestworst" ->
      """WITH agg AS (
           SELECT s_nationkey, s_suppkey,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS rev_cents
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY s_nationkey, s_suppkey),
         best AS (
           SELECT s_nationkey,
                  rank() OVER (PARTITION BY s_nationkey
                    ORDER BY rev_cents DESC, s_suppkey ASC) AS rk,
                  s_suppkey AS best_supp, rev_cents AS best_cents
           FROM agg),
         worst AS (
           SELECT s_nationkey,
                  rank() OVER (PARTITION BY s_nationkey
                    ORDER BY rev_cents ASC, s_suppkey ASC) AS rk,
                  s_suppkey AS worst_supp, rev_cents AS worst_cents
           FROM agg)
         SELECT b.s_nationkey, CAST(b.rk AS BIGINT) AS rk,
                best_supp, best_cents, worst_supp, worst_cents
         FROM best b JOIN worst w
           ON b.s_nationkey = w.s_nationkey AND b.rk = w.rk
         WHERE b.rk <= 2""",
    "q_tpcds_monthdev" ->
      """WITH monthly AS (
           SELECT l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS yr,
                  CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS mon,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS rev_cents
           FROM lineitem GROUP BY 1, 2, 3),
         w AS (
           SELECT *,
                  CAST(sum(rev_cents) OVER (PARTITION BY l_suppkey, yr)
                       AS BIGINT) AS ytot,
                  count(*) OVER (PARTITION BY l_suppkey, yr) AS nmon,
                  lag(rev_cents) OVER (PARTITION BY l_suppkey, yr
                    ORDER BY mon) AS prev_cents,
                  lead(rev_cents) OVER (PARTITION BY l_suppkey, yr
                    ORDER BY mon) AS next_cents
           FROM monthly)
         SELECT l_suppkey, mon, rev_cents, prev_cents, next_cents
         FROM w WHERE abs(rev_cents * nmon - ytot) * 10 > ytot * 3""",
    "q_tpcds_pivot" ->
      """SELECT n_name,
           CAST(sum(CASE WHEN l_returnflag = 'A'
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS a_cents,
           CAST(sum(CASE WHEN l_returnflag = 'N'
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS n_cents,
           CAST(sum(CASE WHEN l_returnflag = 'R'
             THEN CAST(round(l_extendedprice * 100) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS r_cents
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_tpcds_timebucket" ->
      """WITH b AS (
           SELECT event_type,
                  CAST(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_am,
                  CAST(sum(CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_pm
           FROM events GROUP BY event_type)
         SELECT event_type, n_am, n_pm,
                CAST(CASE WHEN n_pm > 0
                     THEN ((1000000 * n_am) + (n_pm // 2)) // n_pm
                     ELSE -1 END AS BIGINT) AS am_pm_ppm
         FROM b""",
    "q_tpcds_rebuy" ->
      """WITH buy AS (
           SELECT o_custkey, l_partkey,
                  CAST(sum(l_quantity) AS BIGINT) AS q_buy
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE year(l_shipdate) = 1995
           GROUP BY o_custkey, l_partkey),
         ret AS (
           SELECT o_custkey, l_partkey,
                  CAST(sum(l_quantity) AS BIGINT) AS q_ret
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE year(l_shipdate) = 1995 AND l_returnflag = 'R'
           GROUP BY o_custkey, l_partkey),
         rebuy AS (
           SELECT o_custkey, l_partkey,
                  CAST(sum(l_quantity) AS BIGINT) AS q_rebuy
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE year(l_shipdate) = 1996
           GROUP BY o_custkey, l_partkey)
         SELECT c_mktsegment, count(*) AS n_triples,
                CAST(sum(q_buy) AS BIGINT) AS sum_buy,
                CAST(sum(q_ret) AS BIGINT) AS sum_ret,
                CAST(sum(q_rebuy) AS BIGINT) AS sum_rebuy
         FROM buy
         JOIN ret USING (o_custkey, l_partkey)
         JOIN rebuy USING (o_custkey, l_partkey)
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q_tpcds_nextmonth" ->
      """WITH om AS (
           SELECT o_custkey,
                  CAST(year(o_orderdate) * 12 + month(o_orderdate)
                       AS BIGINT) AS ym,
                  o_totalprice
           FROM orders),
         first AS (
           SELECT o_custkey, CAST(min(ym) AS BIGINT) AS first_ym
           FROM om GROUP BY o_custkey),
         nextm AS (
           SELECT om.o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS next_cents
           FROM om JOIN first USING (o_custkey)
           WHERE ym = first_ym + 1
           GROUP BY om.o_custkey)
         SELECT next_cents // 500000 AS bucket,
                count(*) AS n_customers
         FROM nextm GROUP BY 1""",
    "q_tpcds_sharegrowth" ->
      """WITH y95 AS (
           SELECT r_name, n_name,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           // 100) AS BIGINT) AS n95_usd
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE year(l_shipdate) = 1995 GROUP BY r_name, n_name),
         y95w AS (
           SELECT *,
                  CAST(sum(n95_usd) OVER (PARTITION BY r_name)
                       AS BIGINT) AS r95_usd FROM y95),
         y95p AS (
           SELECT *, ((1000000 * n95_usd) + (r95_usd // 2)) // r95_usd
                       AS p95 FROM y95w),
         y96 AS (
           SELECT r_name, n_name,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           // 100) AS BIGINT) AS n96_usd
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE year(l_shipdate) = 1996 GROUP BY r_name, n_name),
         y96w AS (
           SELECT *,
                  CAST(sum(n96_usd) OVER (PARTITION BY r_name)
                       AS BIGINT) AS r96_usd FROM y96),
         y96p AS (
           SELECT *, ((1000000 * n96_usd) + (r96_usd // 2)) // r96_usd
                       AS p96 FROM y96w)
         SELECT r_name, n_name, n95_usd, r95_usd, n96_usd, r96_usd,
                CAST(p95 AS BIGINT) AS share95_ppm,
                CAST(p96 AS BIGINT) AS share96_ppm
         FROM y95p JOIN y96p USING (r_name, n_name)
         WHERE p96 > p95""",
    "q_tpcds_rankgate" ->
      """WITH base AS (
           SELECT r_name, n_name, l_extendedprice
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         top2 AS (
           SELECT r_name, n_name FROM (
             SELECT r_name, n_name,
                    rank() OVER (PARTITION BY r_name
                      ORDER BY sum(CAST(round(l_extendedprice * 100)
                                        AS BIGINT)) DESC,
                               n_name ASC) AS rk
             FROM base GROUP BY r_name, n_name) WHERE rk <= 2)
         SELECT r_name, n_name,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS rev_cents,
                CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
         FROM base JOIN top2 USING (r_name, n_name)
         GROUP BY ROLLUP(r_name, n_name)""",
    "q_tpcds_flagmatrix" ->
      """WITH b95 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1995),
            b96 AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE year(o_orderdate) = 1996)
         SELECT (b95.o_custkey IS NOT NULL) AS has95,
                (b96.o_custkey IS NOT NULL) AS has96,
                count(*) AS n_customers,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                     AS BIGINT) AS acct_cents
         FROM customer
         LEFT JOIN b95 ON c_custkey = b95.o_custkey
         LEFT JOIN b96 ON c_custkey = b96.o_custkey
         GROUP BY 1, 2""",
    "q_tpcds_aging" ->
      """SELECT n_name,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                              <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                              > 30 AND datediff('day', o_orderdate,
                              l_shipdate) <= 60
                         THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                              > 60 AND datediff('day', o_orderdate,
                              l_shipdate) <= 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS d90,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                              > 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS d90plus
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name""",
    "q_tpcds_share" ->
      """WITH nat AS (
           SELECT n_name,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS rev_cents
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_name),
         tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS tot FROM nat)
         SELECT n_name, rev_cents,
                CAST(((1000000 * rev_cents) + (tot // 2)) // tot
                     AS BIGINT) AS share_ppm
         FROM nat CROSS JOIN tot""",
    "q_tpcds_notin" ->
      """SELECT c_mktsegment, count(*) AS n_quiet,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                  AS bal_cents
         FROM customer
         WHERE c_custkey NOT IN (
           SELECT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment""",
    "q_tpcds_multidistinct" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
                CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
                CAST(count(DISTINCT (o_custkey, o_orderpriority)) AS BIGINT)
                  AS n_cust_prio,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS rev_cents
         FROM orders GROUP BY 1""",
    "q_tpcds_lateral" ->
      """SELECT n_name, t.s_name, t.s_acctbal
         FROM nation,
         LATERAL (
           SELECT s_name, s_acctbal FROM supplier
           WHERE s_nationkey = n_nationkey
           ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 2) t""",
    "q_tpcds_returnratio" ->
      """WITH base AS (
           SELECT l_linestatus, l_partkey,
                  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS amt,
                  CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS ret_amt,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
                  CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
                    AS ret_qty
           FROM lineitem GROUP BY 1, 2
           HAVING amt > 0 AND qty > 0),
         ppm AS (
           SELECT *,
                  CAST(((1000000 * ret_amt) + (amt // 2)) // amt AS BIGINT)
                    AS amt_ppm,
                  CAST(((1000000 * ret_qty) + (qty // 2)) // qty AS BIGINT)
                    AS qty_ppm
           FROM base),
         amount AS (
           SELECT 'amount' AS board, l_linestatus, l_partkey,
                  amt_ppm AS ret_ppm, CAST(rk AS BIGINT) AS rk FROM (
             SELECT *, rank() OVER (PARTITION BY l_linestatus
               ORDER BY amt_ppm DESC, l_partkey ASC) AS rk FROM ppm)
           WHERE rk <= 5),
         quantity AS (
           SELECT 'quantity' AS board, l_linestatus, l_partkey,
                  qty_ppm AS ret_ppm, CAST(rk AS BIGINT) AS rk FROM (
             SELECT *, rank() OVER (PARTITION BY l_linestatus
               ORDER BY qty_ppm DESC, l_partkey ASC) AS rk FROM ppm)
           WHERE rk <= 5)
         SELECT * FROM amount UNION ALL SELECT * FROM quantity""",
    "q_tpcds_returns_profit" ->
      """WITH ret AS (
           SELECT l_orderkey AS rk, l_linenumber AS rl,
                  CAST(round((l_extendedprice * (1 - l_discount)) * 100)
                       AS BIGINT) AS refund_cents
           FROM lineitem WHERE l_returnflag = 'R')
         SELECT n_name,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS sales_cents,
                CAST(sum(coalesce(refund_cents, 0)) AS BIGINT)
                  AS refund_cents_sum,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                     - sum(coalesce(refund_cents, 0)) AS BIGINT) AS net_cents,
                CAST(GROUPING(n_name) AS BIGINT) AS gid
         FROM lineitem
         LEFT JOIN ret ON l_orderkey = rk AND l_linenumber = rl
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY ROLLUP(n_name)"""
  )
}
