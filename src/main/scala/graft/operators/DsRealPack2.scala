package graft.operators

import graft.QueryPack
import graft.dsreal.{DsOracle, DsTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL-schema TPC-DS queries, continuation of [[DsRealPack]] (which
  * documents the derived star and the adaptation rules): this pack
  * closes the final 17 of the reference's 103 validated query texts
  * (flink-end-to-end-tests/flink-tpcds-test/TpcdsTestProgram.java:137,
  * tpcds-tool/query/query{9,18,44,45,49,50,61,66,70,74,76,77,80,83,
  * 84,91,93}.sql) — with DsRealPack's waves, every one of the 103 now
  * runs with its real schema and semantics against a DuckDB oracle.
  *
  * Same adaptation discipline as DsRealPack (parameter-level only):
  * money in integer cents, averages as exact micro-units
  * ((sum div n)*1e6 + ((sum%n)*1e6) div n — overflow-safe), ratio
  * gates cross-multiplied into BIGINT, rank() keys totalized with the
  * entity key appended so LIMIT cuts deterministically, date/zip/
  * category parameters shifted into the generator's domain. Two
  * text-level notes: q70's inner state-ranking subquery partitions by
  * the same column it groups by in the reference (rank is
  * degenerately 1 for every state), so it is adapted to a global
  * top-3 rank to keep the gate meaningful; q77's catalog branch keeps
  * the reference's bare cross join of the cs and cr aggregates.
  *
  * Scale posture: every dim joined here is broadcast-sized; fact
  * scans are single-pass per channel slice with conditional
  * aggregation replacing the reference's repeated scalar subqueries
  * (q9: 10 subqueries -> 1 scan; q61: 2 -> 1; q44: the null-addr
  * baseline folds into the per-item pass as a conditional sum). Keys
  * in `textOnly` have no DataFrame translation: they run their oracle
  * text, by DsRealPack's rule.
  */
object DsRealPack2 extends QueryPack {

  private def pin(df: DataFrame) = graft.ext.Materialize.pin(df)

  /** Exact micro-mean (x1e6), overflow-safe: split into quotient and
    * scaled remainder so sum is never multiplied while large. */
  private def mmSql(c: String): String =
    s"CAST((CAST((sum($c) - (sum($c) % count(*))) / (count(*)) AS BIGINT)) * 1000000" +
      s" + CAST((((sum($c) % count(*)) * 1000000) - (((sum($c) % count(*)) * 1000000) % count(*))) / (count(*)) AS BIGINT) AS BIGINT)"

  /** Served by their verbatim text, as DsRealPack's `textOnly`. */
  private val textOnly: Seq[String] = Seq(
    "q18", "q45", "q49", "q50", "q66", "q76", "q91", "q93")
    .map("q_dsreal_" + _)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    twins ++ textOnly.map(k => k -> SqlTextPack.text(k))

  /** The DataFrame translations kept, each with its `// kept:` rule. */
  private def twins: Map[String, (SparkSession, String) => DataFrame] = Map(

    // query9.sql: five quantity-band buckets over store_sales, each
    // reporting avg discount when the band is populous, avg net paid
    // otherwise. The reference runs 15 scalar subqueries over the same
    // fact; here ONE conditional-aggregation pass computes all five
    // (count, sum-discount, sum-paid) triples — the single-scan shape
    // that survives 100 TB. Bands rescaled to the generator's 1..50
    // quantity domain; thresholds bracket the sf0.01 band counts so
    // both CASE branches are exercised.
    // kept: rule (a), text plans 15 lineitem scans, budget 1
    "q_dsreal_q9" -> ((s, d) => {
      import s.implicits._
      val ranges = Seq((1, 10, 3000L), (11, 20, 5000L), (21, 30, 3500L),
        (31, 40, 6000L), (41, 50, 2000L))
      val aggs = ranges.zipWithIndex.flatMap { case ((lo, hi, _), i) =>
        val in = $"ss_quantity".between(lo, hi)
        val n = i + 1
        Seq(count(when(in, 1)).as(s"c$n"),
          sum(when(in, $"ss_ext_discount_amt_cents")).as(s"d$n"),
          sum(when(in, $"ss_net_paid_cents")).as(s"p$n"))
      }
      val one = DsTables.storeSales(s, d).agg(aggs.head, aggs.tail: _*)
      val r1 = DsTables.reason(s).filter($"r_reason_sk" === 1)
        .select(lit(1).as("r_tag"))
      def micro(sumC: String, cntC: String) =
        expr(s"($sumC div $cntC) * 1000000" +
          s" + (($sumC % $cntC) * 1000000) div $cntC")
      val buckets = ranges.zipWithIndex.map { case ((_, _, t), i) =>
        val n = i + 1
        when(col(s"c$n") > t, micro(s"d$n", s"c$n"))
          .otherwise(micro(s"p$n", s"c$n")).as(s"bucket$n")
      }
      one.crossJoin(broadcast(r1)).select(buckets: _*)
    }),

    // query61.sql: promoted share of store revenue for one category /
    // timezone / month. The reference computes numerator and
    // denominator as two full scans differing only by the promotion
    // join; here ONE scan left-joins promotion and splits with a
    // conditional sum — same two numbers, half the fact I/O.
    // kept: rule (a), text plans 2 lineitem scans, budget 1
    "q_dsreal_q61" -> ((s, d) => {
      import s.implicits._
      val dd = DsTables.dateDim(s)
        .filter($"d_year" === 1998 && $"d_moy" === 11).select($"d_date_sk")
      val st = DsTables.store(s).filter($"s_gmt_offset" === -5)
        .select($"s_store_sk")
      val cust = DsTables.customerDim(s, d)
        .select($"c_customer_sk", $"c_current_addr_sk")
      val ca = DsTables.customerAddress(s, d)
        .filter($"ca_gmt_offset" === -5).select($"ca_address_sk")
      val it = DsTables.item(s, d).filter($"i_category" === "PROMO")
        .select($"i_item_sk")
      val pr = DsTables.promotion(s)
        .select($"p_promo_sk", $"p_channel_dmail", $"p_channel_email",
          $"p_channel_tv")
      val promoted = $"p_channel_dmail" === "Y" ||
        $"p_channel_email" === "Y" || $"p_channel_tv" === "Y"
      DsTables.storeSales(s, d)
        .join(broadcast(dd), $"ss_sold_date_sk" === $"d_date_sk")
        .join(broadcast(st), $"ss_store_sk" === $"s_store_sk")
        .join(broadcast(cust), $"ss_customer_sk" === $"c_customer_sk")
        .join(broadcast(ca), $"c_current_addr_sk" === $"ca_address_sk")
        .join(broadcast(it), $"ss_item_sk" === $"i_item_sk")
        .join(broadcast(pr), $"ss_promo_sk" === $"p_promo_sk", "left")
        .agg(sum(when(promoted, $"ss_ext_sales_price_cents"))
          .as("promotions"),
          sum($"ss_ext_sales_price_cents").as("total"))
        .select($"promotions", $"total",
          expr("(promotions * 1000000) div total").as("ratio_ppm"))
    }),

    // query44.sql: best/worst items of store 4 by average net profit,
    // both ranked against the HAVING baseline (90% of the store's
    // average over its null-address slice). The reference scans the
    // fact three times (per-item, baseline, and again for the desc
    // rank); here ONE grouped pass computes per-item sums AND the
    // baseline as a conditional sum folded over the groups, the
    // per-item frame is pinned, and the baseline, the gate, and both
    // rank directions all read the pin. Rank
    // keys are totalized with item_sk so rnk is a unique 1..n and the
    // asc/desc join stays 1:1.
    // kept: rules (a)+(b), text plans 4 lineitem scans; golden plan
    "q_dsreal_q44" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val per = pin(DsTables.storeSales(s, d).filter($"ss_store_sk" === 4)
        .groupBy($"ss_item_sk")
        .agg(sum($"ss_net_profit_cents").as("np_sum"),
          count(lit(1)).as("np_cnt"),
          sum(when($"ss_addr_sk".isNull, $"ss_net_profit_cents"))
            .as("base_sum_part"),
          count(when($"ss_addr_sk".isNull, 1)).as("base_cnt_part")))
      val base = per.agg(sum($"base_sum_part").as("b_sum"),
        sum($"base_cnt_part").as("b_cnt"))
      val gated = per.crossJoin(broadcast(base))
        .filter($"np_sum" * $"b_cnt" * 10 > $"b_sum" * $"np_cnt" * 9)
        .select($"ss_item_sk".as("item_sk"),
          expr("(np_sum div np_cnt) * 1000000" +
            " + ((np_sum % np_cnt) * 1000000) div np_cnt").as("rank_col"))
      val asc = gated.withColumn("rnk", rank().over(
          Window.orderBy($"rank_col".asc, $"item_sk".asc)).cast("long"))
        .filter($"rnk" < 11).select($"rnk", $"item_sk".as("asc_sk"))
      val dsc = gated.withColumn("rnk2", rank().over(
          Window.orderBy($"rank_col".desc, $"item_sk".desc)).cast("long"))
        .filter($"rnk2" < 11).select($"rnk2", $"item_sk".as("desc_sk"))
      val it = DsTables.item(s, d).select($"i_item_sk", $"i_product_name")
      asc.join(dsc, $"rnk" === $"rnk2")
        .join(broadcast(it.select($"i_item_sk".as("sk1"),
          $"i_product_name".as("best_performing"))), $"asc_sk" === $"sk1")
        .join(broadcast(it.select($"i_item_sk".as("sk2"),
          $"i_product_name".as("worst_performing"))), $"desc_sk" === $"sk2")
        .select($"rnk", $"best_performing", $"worst_performing")
        .orderBy($"rnk")
        .limit(100)
    }),

    // query70.sql: net-profit ROLLUP over the state/county hierarchy
    // for a 12-month window, states gated to the top performers,
    // ranked within each hierarchy parent. The reference's inner
    // ranking subquery partitions by the column it groups by (rank is
    // constantly 1), adapted to a global top-3 so the gate bites; the
    // fact is scanned ONCE — the (state, county) pre-aggregate is
    // pinned and both the state ranking and the ROLLUP read the pin.
    // kept: rules (a)+(b), text plans 3 lineitem scans; golden plan
    "q_dsreal_q70" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dd = DsTables.dateDim(s).filter($"d_month_seq".between(48, 59))
        .select($"d_date_sk")
      val st = DsTables.store(s)
        .select($"s_store_sk", $"s_state", $"s_county")
      val per = pin(DsTables.storeSales(s, d)
        .join(broadcast(dd), $"ss_sold_date_sk" === $"d_date_sk")
        .join(broadcast(st), $"ss_store_sk" === $"s_store_sk")
        .groupBy($"s_state", $"s_county")
        .agg(sum($"ss_net_profit_cents").as("np")))
      val topStates = per.groupBy($"s_state").agg(sum($"np").as("snp"))
        .withColumn("ranking", rank().over(
          Window.orderBy($"snp".desc, $"s_state")).cast("long"))
        .filter($"ranking" <= 3).select($"s_state".as("gate_state"))
      per.join(broadcast(topStates), $"s_state" === $"gate_state",
          "left_semi")
        .rollup($"s_state", $"s_county")
        .agg(sum($"np").as("total_sum"),
          grouping($"s_state").as("g_st"),
          grouping($"s_county").as("g_co"))
        .withColumn("lochierarchy", ($"g_st" + $"g_co").cast("long"))
        .withColumn("rank_within_parent", rank().over(
          Window.partitionBy($"g_st" + $"g_co",
              when($"g_co" === 0, $"s_state"))
            .orderBy($"total_sum".desc, $"s_state", $"s_county"))
          .cast("long"))
        .select($"total_sum", $"s_state", $"s_county", $"lochierarchy",
          $"rank_within_parent")
        .orderBy($"lochierarchy".desc,
          when($"lochierarchy" === 0, $"s_state"), $"rank_within_parent",
          $"s_state", $"s_county")
        .limit(100)
    }),

    // query74.sql: customers whose web net-paid total grew faster
    // year-over-year than their store total — q11's shape with
    // net_paid instead of ext price, the growth gate cross-multiplied
    // exact. One pinned year_total frame serves all four roles.
    // kept: rule (a), text plans 4 lineitem scans, budget 1
    "q_dsreal_q74" -> ((s, d) => {
      import s.implicits._
      val dd = DsTables.dateDim(s).filter($"d_year".isin(2000, 2001))
        .select($"d_date_sk", $"d_year")
      val cust = DsTables.customerDim(s, d)
        .select($"c_customer_sk", $"c_customer_id", $"c_first_name",
          $"c_last_name")
      def channelTotal(f: DataFrame, cc: String, dc: String, paid: String) =
        f.join(broadcast(dd), col(dc) === $"d_date_sk")
          .join(broadcast(cust), col(cc) === $"c_customer_sk")
          .groupBy($"c_customer_id", $"c_first_name", $"c_last_name",
            $"d_year")
          .agg(sum(col(paid)).as("year_total"))
      val yearTotal = pin(
        channelTotal(DsTables.storeSales(s, d), "ss_customer_sk",
            "ss_sold_date_sk", "ss_net_paid_cents")
          .withColumn("sale_type", lit("s"))
          .union(channelTotal(DsTables.webSales(s, d),
            "ws_bill_customer_sk", "ws_sold_date_sk", "ws_net_paid_cents")
            .withColumn("sale_type", lit("w"))))
      def slice(t: String, y: Int, p: String) = yearTotal
        .filter($"sale_type" === t && $"d_year" === y)
        .select($"c_customer_id".as(s"${p}_id"),
          $"c_first_name".as(s"${p}_fn"), $"c_last_name".as(s"${p}_ln"),
          $"year_total".as(s"${p}_total"))
      slice("s", 2000, "sf").filter($"sf_total" > 0)
        .join(slice("w", 2000, "wf").filter($"wf_total" > 0),
          $"sf_id" === $"wf_id")
        .join(slice("s", 2001, "ss2"), $"sf_id" === $"ss2_id")
        .join(slice("w", 2001, "ws2"), $"sf_id" === $"ws2_id")
        .filter($"ws2_total" * $"sf_total" > $"ss2_total" * $"wf_total")
        .select($"ss2_id".as("customer_id"),
          $"ss2_fn".as("customer_first_name"),
          $"ss2_ln".as("customer_last_name"))
        .orderBy($"customer_id", $"customer_first_name",
          $"customer_last_name")
        .limit(100)
    }),

    // query83.sql: returned quantities per item across the three
    // channels for the periods containing three probe dates (the
    // nested d_date -> period -> d_date dance kept as broadcast semi
    // joins), each channel's share as exact micro-percent. Period
    // widened from the reference's week to the quarter: the final
    // join keeps only items returned in ALL THREE channels, and three
    // weeks of derived returns have no triple-channel item at sf0.01
    // (the q14b week->month precedent).
    // kept: rule (c), text 16 jobs vs 15, 16 stages vs 15
    "q_dsreal_q83" -> ((s, d) => {
      import s.implicits._
      val probe = DsTables.dateDim(s)
        .filter($"d_date".isin(lit("2000-06-30").cast("date"),
          lit("2000-09-27").cast("date"), lit("2000-11-17").cast("date")))
        .select($"d_year".as("probe_year"), $"d_qoy".as("probe_qoy"))
      val dates = DsTables.dateDim(s)
        .join(broadcast(probe), $"d_year" === $"probe_year" &&
          $"d_qoy" === $"probe_qoy", "left_semi")
        .select($"d_date_sk".as("rd_sk"))
      val it = DsTables.item(s, d).select($"i_item_sk", $"i_item_id")
      def items(r: DataFrame, itemC: String, dateC: String, qtyC: String,
          alias: String) =
        r.join(broadcast(dates), col(dateC) === $"rd_sk")
          .join(broadcast(it), col(itemC) === $"i_item_sk")
          .groupBy($"i_item_id")
          .agg(sum(col(qtyC)).as(alias))
      val sr = items(DsTables.storeReturns(s, d), "sr_item_sk",
        "sr_returned_date_sk", "sr_return_quantity", "sr_item_qty")
      val cr = items(DsTables.catalogReturns(s, d), "cr_item_sk",
        "cr_returned_date_sk", "cr_return_quantity", "cr_item_qty")
        .withColumnRenamed("i_item_id", "cr_id")
      val wr = items(DsTables.webReturns(s, d), "wr_item_sk",
        "wr_returned_date_sk", "wr_return_quantity", "wr_item_qty")
        .withColumnRenamed("i_item_id", "wr_id")
      sr.join(cr, $"i_item_id" === $"cr_id")
        .join(wr, $"i_item_id" === $"wr_id")
        .withColumn("tot",
          $"sr_item_qty" + $"cr_item_qty" + $"wr_item_qty")
        .select($"i_item_id".as("item_id"), $"sr_item_qty",
          expr("(sr_item_qty * 100000000) div (tot * 3)").as("sr_dev"),
          $"cr_item_qty",
          expr("(cr_item_qty * 100000000) div (tot * 3)").as("cr_dev"),
          $"wr_item_qty",
          expr("(wr_item_qty * 100000000) div (tot * 3)").as("wr_dev"),
          expr("(tot * 1000000) div 3").as("average"))
        .orderBy($"item_id", $"sr_item_qty")
        .limit(100)
    }),

    // query84.sql: customers in one city whose current household sits
    // in a 50k income window, fanned out to the store returns sharing
    // their demographics id (the reference's sr_cdemo_sk = cd_demo_sk
    // key) — the whole customer-side snowflake reduces to a tiny
    // city-gated frame that broadcasts against the returns scan.
    // kept: rule (c), text 9 jobs vs 8, 10 stages vs 9
    "q_dsreal_q84" -> ((s, d) => {
      import s.implicits._
      val ca = DsTables.customerAddress(s, d)
        .filter($"ca_city" === "City_7").select($"ca_address_sk")
      val ib = DsTables.incomeBand(s)
        .filter($"ib_lower_bound" >= 30000 &&
          $"ib_upper_bound" <= 30000 + 50000)
        .select($"ib_income_band_sk")
      val hd = DsTables.householdDemographics(s)
        .join(broadcast(ib), $"hd_income_band_sk" === $"ib_income_band_sk")
        .select($"hd_demo_sk")
      val cd = DsTables.customerDemographics(s).select($"cd_demo_sk")
      val custSide = DsTables.customerDim(s, d)
        .select($"c_customer_id", $"c_first_name", $"c_last_name",
          $"c_current_addr_sk", $"c_current_cdemo_sk",
          $"c_current_hdemo_sk")
        .join(broadcast(ca), $"c_current_addr_sk" === $"ca_address_sk")
        .join(broadcast(cd), $"c_current_cdemo_sk" === $"cd_demo_sk")
        .join(broadcast(hd), $"c_current_hdemo_sk" === $"hd_demo_sk")
      DsTables.storeReturns(s, d)
        .join(broadcast(custSide), $"sr_cdemo_sk" === $"cd_demo_sk")
        .select($"c_customer_id".as("customer_id"),
          concat(coalesce($"c_last_name", lit("")), lit(", "),
            coalesce($"c_first_name", lit(""))).as("customername"))
        .orderBy($"customer_id", $"customername")
        .limit(100)
    }),

    // query77.sql: 30-day per-channel sales/returns/profit with each
    // channel keyed by its own location dim (store / call center /
    // web page), ROLLUP over (channel, id). The store and web
    // branches left-join their returns on the location key; the
    // catalog branch keeps the reference's bare CROSS JOIN of the cs
    // and cr aggregates.
    // kept: no text: the raw text plans a cartesian product
    "q_dsreal_q77" -> ((s, d) => {
      import s.implicits._
      val dd30 = DsTables.dateDim(s)
        .filter($"d_date".between(lit("2000-08-23").cast("date"),
          date_add(lit("2000-08-23").cast("date"), 30)))
        .select($"d_date_sk")
      val ss = DsTables.storeSales(s, d)
        .join(broadcast(dd30), $"ss_sold_date_sk" === $"d_date_sk")
        .join(broadcast(DsTables.store(s).select($"s_store_sk")),
          $"ss_store_sk" === $"s_store_sk")
        .groupBy($"s_store_sk")
        .agg(sum($"ss_ext_sales_price_cents").as("sales"),
          sum($"ss_net_profit_cents").as("profit"))
      val sr = DsTables.storeReturns(s, d)
        .join(broadcast(dd30), $"sr_returned_date_sk" === $"d_date_sk")
        .join(broadcast(DsTables.store(s)
          .select($"s_store_sk".as("r_store_sk"))),
          $"sr_store_sk" === $"r_store_sk")
        .groupBy($"r_store_sk")
        .agg(sum($"sr_return_amt_cents").as("returns_amt"),
          sum($"sr_net_loss_cents").as("profit_loss"))
      val storeChan = ss.join(sr, $"s_store_sk" === $"r_store_sk", "left")
        .select(lit("store channel").as("channel"),
          $"s_store_sk".as("id"), $"sales",
          coalesce($"returns_amt", lit(0L)).as("returns_amt"),
          ($"profit" - coalesce($"profit_loss", lit(0L))).as("profit"))
      val cs = DsTables.catalogSales(s, d)
        .join(broadcast(dd30), $"cs_sold_date_sk" === $"d_date_sk")
        .groupBy($"cs_call_center_sk")
        .agg(sum($"cs_ext_sales_price_cents").as("sales"),
          sum($"cs_net_profit_cents").as("profit"))
      val cr = DsTables.catalogReturns(s, d)
        .join(broadcast(dd30), $"cr_returned_date_sk" === $"d_date_sk")
        .groupBy($"cr_call_center_sk")
        .agg(sum($"cr_return_amt_cents").as("returns_amt"),
          sum($"cr_net_loss_cents").as("profit_loss"))
      val catalogChan = cs.crossJoin(broadcast(cr))
        .select(lit("catalog channel").as("channel"),
          $"cs_call_center_sk".as("id"), $"sales",
          $"returns_amt", ($"profit" - $"profit_loss").as("profit"))
      val wp = DsTables.webPage(s).select($"wp_web_page_sk")
      val ws = DsTables.webSales(s, d)
        .join(broadcast(dd30), $"ws_sold_date_sk" === $"d_date_sk")
        .join(broadcast(wp), $"ws_web_page_sk" === $"wp_web_page_sk")
        .groupBy($"wp_web_page_sk")
        .agg(sum($"ws_ext_sales_price_cents").as("sales"),
          sum($"ws_net_profit_cents").as("profit"))
      val wr = DsTables.webReturns(s, d)
        .join(broadcast(dd30), $"wr_returned_date_sk" === $"d_date_sk")
        .join(broadcast(wp.select($"wp_web_page_sk".as("r_page_sk"))),
          $"wr_web_page_sk" === $"r_page_sk")
        .groupBy($"r_page_sk")
        .agg(sum($"wr_return_amt_cents").as("returns_amt"),
          sum($"wr_net_loss_cents").as("profit_loss"))
      val webChan = ws.join(wr, $"wp_web_page_sk" === $"r_page_sk", "left")
        .select(lit("web channel").as("channel"),
          $"wp_web_page_sk".as("id"), $"sales",
          coalesce($"returns_amt", lit(0L)).as("returns_amt"),
          ($"profit" - coalesce($"profit_loss", lit(0L))).as("profit"))
      storeChan.union(catalogChan).union(webChan)
        .rollup($"channel", $"id")
        .agg(sum($"sales").as("sales"),
          sum($"returns_amt").as("returns_amt"),
          sum($"profit").as("profit"))
        .orderBy($"channel", $"id")
        .limit(100)
    }),

    // query80.sql: 30-day per-channel report over promoted (non-TV)
    // sales of high-priced items, sales left-joined to their returns,
    // ROLLUP over (channel, 'prefix'||id).
    // kept: rule (d), text misses the sf0.001 oracle, as this twin does
    "q_dsreal_q80" -> ((s, d) => {
      import s.implicits._
      val dd30 = DsTables.dateDim(s)
        .filter($"d_date".between(lit("2000-08-23").cast("date"),
          date_add(lit("2000-08-23").cast("date"), 30)))
        .select($"d_date_sk")
      val it = DsTables.item(s, d)
        .filter($"i_current_price_cents" > 95000).select($"i_item_sk")
      val pr = DsTables.promotion(s).filter($"p_channel_tv" === "N")
        .select($"p_promo_sk")
      def branch(f: DataFrame, r: DataFrame, itemC: String, ordC: String,
          ritemC: String, rordC: String, dateC: String, extC: String,
          npC: String, ramtC: String, rlossC: String, promoC: String,
          dim: DataFrame, dimSk: String, dimId: String, label: String,
          idPrefix: String) =
        f.join(r, col(itemC) === col(ritemC) && col(ordC) === col(rordC),
            "left")
          .join(broadcast(dd30), col(dateC) === $"d_date_sk")
          .join(broadcast(dim), col(s"${label}_fk") === col(dimSk))
          .join(broadcast(it), col(itemC) === $"i_item_sk")
          .join(broadcast(pr), col(promoC) === $"p_promo_sk")
          .groupBy(col(dimId))
          .agg(sum(col(extC)).as("sales"),
            sum(coalesce(col(ramtC), lit(0L))).as("returns_amt"),
            sum(col(npC) - coalesce(col(rlossC), lit(0L))).as("profit"))
          .select(lit(s"$label channel").as("channel"),
            concat(lit(idPrefix), col(dimId)).as("id"), $"sales",
            $"returns_amt", $"profit")
      val store = branch(
        DsTables.storeSales(s, d)
          .withColumn("store_fk", $"ss_store_sk"),
        DsTables.storeReturns(s, d), "ss_item_sk", "ss_ticket_number",
        "sr_item_sk", "sr_ticket_number", "ss_sold_date_sk",
        "ss_ext_sales_price_cents", "ss_net_profit_cents",
        "sr_return_amt_cents", "sr_net_loss_cents", "ss_promo_sk",
        DsTables.store(s).select($"s_store_sk", $"s_store_id"),
        "s_store_sk", "s_store_id", "store", "store")
      val catalog = branch(
        DsTables.catalogSales(s, d)
          .withColumn("catalog_fk", $"cs_catalog_page_sk"),
        DsTables.catalogReturns(s, d), "cs_item_sk", "cs_order_number",
        "cr_item_sk", "cr_order_number", "cs_sold_date_sk",
        "cs_ext_sales_price_cents", "cs_net_profit_cents",
        "cr_return_amt_cents", "cr_net_loss_cents", "cs_promo_sk",
        DsTables.catalogPage(s), "cp_catalog_page_sk",
        "cp_catalog_page_id", "catalog", "catalog_page")
      val web = branch(
        DsTables.webSales(s, d).withColumn("web_fk", $"ws_web_site_sk"),
        DsTables.webReturns(s, d), "ws_item_sk", "ws_order_number",
        "wr_item_sk", "wr_order_number", "ws_sold_date_sk",
        "ws_ext_sales_price_cents", "ws_net_profit_cents",
        "wr_return_amt_cents", "wr_net_loss_cents", "ws_promo_sk",
        DsTables.webSite(s).select($"web_site_sk", $"web_site_id"),
        "web_site_sk", "web_site_id", "web", "web_site")
      store.union(catalog).union(web)
        .rollup($"channel", $"id")
        .agg(sum($"sales").as("sales"),
          sum($"returns_amt").as("returns_amt"),
          sum($"profit").as("profit"))
        .orderBy($"channel", $"id")
        .limit(100)
    })
  )

  def oracle: Map[String, String] = {
    val P = DsOracle.prelude
    def microSql(sumC: String, cntC: String) =
      s"(CAST(($sumC - ($sumC % $cntC)) / ($cntC) AS BIGINT)) * 1000000 + CAST(((($sumC % $cntC) * 1000000) - ((($sumC % $cntC) * 1000000) % $cntC)) / ($cntC) AS BIGINT)"
    def microB(num: String, den: String) = microSql(num, den)
    val q9Ranges = Seq((1, 10, 3000), (11, 20, 5000), (21, 30, 3500),
      (31, 40, 6000), (41, 50, 2000))
    val q9Buckets = q9Ranges.zipWithIndex.map { case ((lo, hi, t), i) =>
      def sub(c: String) =
        s"""(SELECT CAST(${microSql(s"sum($c)", "count(*)")} AS BIGINT)
           FROM store_sales WHERE ss_quantity BETWEEN $lo AND $hi)"""
      s"""CASE WHEN (SELECT count(*) FROM store_sales
                  WHERE ss_quantity BETWEEN $lo AND $hi) > $t
            THEN ${sub("ss_ext_discount_amt_cents")}
            ELSE ${sub("ss_net_paid_cents")} END AS bucket${i + 1}"""
    }.mkString(",\n       ")

    Map(
      "q_dsreal_q9" -> (P + s"""
SELECT $q9Buckets
FROM reason WHERE r_reason_sk = 1"""),

      "q_dsreal_q18" -> (P + s"""
SELECT i_item_id, ca_country, ca_state, ca_county,
       ${mmSql("cs_quantity")} AS agg1,
       ${mmSql("cs_list_price_cents")} AS agg2,
       ${mmSql("cs_coupon_amt_cents")} AS agg3,
       ${mmSql("cs_sales_price_cents")} AS agg4,
       ${mmSql("cs_net_profit_cents")} AS agg5,
       ${mmSql("c_birth_year")} AS agg6,
       ${mmSql("cd1.cd_dep_count")} AS agg7
FROM catalog_sales, customer_demographics cd1,
     customer_demographics cd2, customer_dim, customer_address,
     date_dim, item
WHERE cs_sold_date_sk = d_date_sk AND cs_item_sk = i_item_sk
  AND cs_bill_cdemo_sk = cd1.cd_demo_sk
  AND cs_bill_customer_sk = c_customer_sk
  AND cd1.cd_gender = 'F' AND cd1.cd_education_status = 'Unknown'
  AND c_current_cdemo_sk = cd2.cd_demo_sk
  AND c_current_addr_sk = ca_address_sk
  AND c_birth_month IN (1,6,8,9,12,2)
  AND d_year = 1998
  AND ca_state IN ('TN','NY','NM')
GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
ORDER BY ca_country NULLS FIRST, ca_state NULLS FIRST,
         ca_county NULLS FIRST, i_item_id NULLS FIRST
LIMIT 100"""),

      "q_dsreal_q45" -> (P + """
SELECT ca_zip, ca_city, CAST(sum(ws_sales_price_cents) AS BIGINT)
         AS sum_sales
FROM web_sales, customer_dim, customer_address, date_dim, item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_item_sk = i_item_sk
  AND (substr(ca_zip, 1, 5) IN ('Z1','Z7','Z13','Z19','Z25','Z31',
                                'Z37','Z43','Z49')
       OR i_item_id IN (SELECT i_item_id FROM item
                        WHERE i_item_sk IN (2,3,5,7,11,13,17,19,23,29)))
  AND ws_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip, ca_city
ORDER BY ca_zip, ca_city
LIMIT 100"""),

      "q_dsreal_q50" -> (P + """
SELECT s_store_name, s_company_id, s_street_number, s_street_name,
       s_street_type, s_suite_number, s_city, s_county, s_state, s_zip,
       CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk <= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS days_30,
       CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 30
                      AND sr_returned_date_sk - ss_sold_date_sk <= 60
                     THEN 1 ELSE 0 END) AS BIGINT) AS days_31_60,
       CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 60
                      AND sr_returned_date_sk - ss_sold_date_sk <= 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS days_61_90,
       CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 90
                      AND sr_returned_date_sk - ss_sold_date_sk <= 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS days_91_120,
       CAST(sum(CASE WHEN sr_returned_date_sk - ss_sold_date_sk > 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS days_over_120
FROM store_sales, store_returns, store, date_dim d1, date_dim d2
WHERE d2.d_year = 2001 AND d2.d_moy = 8
  AND ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
  AND ss_sold_date_sk = d1.d_date_sk
  AND sr_returned_date_sk = d2.d_date_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_store_sk = s_store_sk
GROUP BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
ORDER BY s_store_name, s_company_id, s_street_number, s_street_name,
         s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
LIMIT 100"""),

      "q_dsreal_q61" -> (P + """
SELECT promotions, total,
       CAST(((promotions * 1000000) - ((promotions * 1000000) % total)) / (total) AS BIGINT) AS ratio_ppm
FROM
  (SELECT CAST(sum(ss_ext_sales_price_cents) AS BIGINT) AS promotions
   FROM store_sales, store, promotion, date_dim, customer_dim,
        customer_address, item
   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
     AND ss_promo_sk = p_promo_sk AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk AND ss_item_sk = i_item_sk
     AND ca_gmt_offset = -5 AND i_category = 'PROMO'
     AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y'
          OR p_channel_tv = 'Y')
     AND s_gmt_offset = -5 AND d_year = 1998 AND d_moy = 11)
       promotional_sales,
  (SELECT CAST(sum(ss_ext_sales_price_cents) AS BIGINT) AS total
   FROM store_sales, store, date_dim, customer_dim, customer_address,
        item
   WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
     AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk AND ss_item_sk = i_item_sk
     AND ca_gmt_offset = -5 AND i_category = 'PROMO'
     AND s_gmt_offset = -5 AND d_year = 1998 AND d_moy = 11) all_sales"""),

      "q_dsreal_q76" -> (P + """
SELECT channel, col_name, d_year, d_qoy, i_category,
       count(*) AS sales_cnt,
       CAST(sum(ext_sales_price) AS BIGINT) AS sales_amt
FROM (
  SELECT 'store' AS channel, 'ss_store_sk' AS col_name, d_year, d_qoy,
         i_category, ss_ext_sales_price_cents AS ext_sales_price
  FROM store_sales, item, date_dim
  WHERE ss_store_sk IS NULL AND ss_sold_date_sk = d_date_sk
    AND ss_item_sk = i_item_sk
  UNION ALL
  SELECT 'web', 'ws_ship_customer_sk', d_year, d_qoy, i_category,
         ws_ext_sales_price_cents
  FROM web_sales, item, date_dim
  WHERE ws_ship_customer_sk IS NULL AND ws_sold_date_sk = d_date_sk
    AND ws_item_sk = i_item_sk
  UNION ALL
  SELECT 'catalog', 'cs_ship_addr_sk', d_year, d_qoy, i_category,
         cs_ext_sales_price_cents
  FROM catalog_sales, item, date_dim
  WHERE cs_ship_addr_sk IS NULL AND cs_sold_date_sk = d_date_sk
    AND cs_item_sk = i_item_sk) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name, d_year, d_qoy, i_category
LIMIT 100"""),

      "q_dsreal_q93" -> (P + """
SELECT ss_customer_sk, CAST(sum(act_sales) AS BIGINT) AS sumsales
FROM (
  SELECT ss_item_sk, ss_ticket_number, ss_customer_sk,
         CASE WHEN sr_return_quantity IS NOT NULL
              THEN (ss_quantity - sr_return_quantity)
                   * ss_sales_price_cents
              ELSE ss_quantity * ss_sales_price_cents END AS act_sales
  FROM store_sales LEFT OUTER JOIN store_returns
         ON (sr_item_sk = ss_item_sk
             AND sr_ticket_number = ss_ticket_number),
       reason
  WHERE sr_reason_sk = r_reason_sk AND r_reason_desc = 'Reason_8') t
GROUP BY ss_customer_sk
ORDER BY sumsales, ss_customer_sk
LIMIT 100"""),

      "q_dsreal_q44" -> (P + s""",
v1 AS (
  SELECT ss_item_sk AS item_sk,
         ${microB("sum(ss_net_profit_cents)", "count(*)")} AS rank_col,
         sum(ss_net_profit_cents) AS np_sum, count(*) AS np_cnt
  FROM store_sales WHERE ss_store_sk = 4
  GROUP BY ss_item_sk),
base AS (
  SELECT sum(ss_net_profit_cents) AS b_sum, count(*) AS b_cnt
  FROM store_sales WHERE ss_store_sk = 4 AND ss_addr_sk IS NULL),
gated AS (
  SELECT item_sk, rank_col FROM v1, base
  WHERE np_sum * b_cnt * 10 > b_sum * np_cnt * 9),
asceding AS (
  SELECT * FROM (
    SELECT item_sk,
           CAST(rank() OVER (ORDER BY rank_col ASC, item_sk ASC)
             AS BIGINT) AS rnk
    FROM gated) v11 WHERE rnk < 11),
descending AS (
  SELECT * FROM (
    SELECT item_sk,
           CAST(rank() OVER (ORDER BY rank_col DESC, item_sk DESC)
             AS BIGINT) AS rnk
    FROM gated) v21 WHERE rnk < 11)
SELECT asceding.rnk AS rnk, i1.i_product_name AS best_performing,
       i2.i_product_name AS worst_performing
FROM asceding, descending, item i1, item i2
WHERE asceding.rnk = descending.rnk
  AND i1.i_item_sk = asceding.item_sk
  AND i2.i_item_sk = descending.item_sk
ORDER BY rnk
LIMIT 100"""),

      "q_dsreal_q49" -> (P + s"""
SELECT channel, item, return_ratio, return_rank, currency_rank FROM (
  ${Seq(("web", "web_sales", "web_returns", "ws", "wr",
      "ws_order_number", "wr_order_number"),
    ("catalog", "catalog_sales", "catalog_returns", "cs", "cr",
      "cs_order_number", "cr_order_number"),
    ("store", "store_sales", "store_returns", "ss", "sr",
      "ss_ticket_number", "sr_ticket_number"))
    .map { case (label, sf, rf, sp, rp, so, ro) =>
      val qty = if (sp == "ss") "ss_quantity" else s"${sp}_quantity"
      s"""SELECT '$label' AS channel, item, return_ratio, return_rank,
         currency_rank
  FROM (
    SELECT item, return_ratio,
           CAST(rank() OVER (ORDER BY return_ratio, item)
             AS BIGINT) AS return_rank,
           CAST(rank() OVER (ORDER BY currency_ratio, item)
             AS BIGINT) AS currency_rank
    FROM (
      SELECT ${sp}_item_sk AS item,
             CAST(${microB(s"sum(COALESCE(${rp}_return_quantity, 0))",
               s"sum(COALESCE($qty, 0))")} AS BIGINT) AS return_ratio,
             CAST(${microB(s"sum(COALESCE(${rp}_return_amt_cents, 0))",
               s"sum(COALESCE(${sp}_net_paid_cents, 0))")} AS BIGINT)
               AS currency_ratio
      FROM $sf LEFT OUTER JOIN $rf
             ON ($so = $ro AND ${sp}_item_sk = ${rp}_item_sk),
           date_dim
      WHERE ${rp}_return_amt_cents > 10000
        AND ${sp}_net_profit_cents > 1
        AND ${sp}_net_paid_cents > 0 AND $qty > 0
        AND ${sp}_sold_date_sk = d_date_sk
        AND d_year = 2000 AND d_moy = 12
      GROUP BY ${sp}_item_sk) in_$sp) ranked
  WHERE return_rank <= 10 OR currency_rank <= 10"""
    }.mkString("\n  UNION\n  ")}) u
ORDER BY channel, return_rank, currency_rank, item
LIMIT 100"""),

      "q_dsreal_q70" -> (P + """
SELECT CAST(sum(np) AS BIGINT) AS total_sum, s_state, s_county,
       CAST(grouping(s_state) + grouping(s_county) AS BIGINT)
         AS lochierarchy,
       CAST(rank() OVER (
         PARTITION BY grouping(s_state) + grouping(s_county),
                      CASE WHEN grouping(s_county) = 0 THEN s_state END
         ORDER BY sum(np) DESC, s_state NULLS FIRST, s_county NULLS FIRST)
         AS BIGINT) AS rank_within_parent
FROM (
  SELECT s_state, s_county, sum(ss_net_profit_cents) AS np
  FROM store_sales, date_dim d1, store
  WHERE d1.d_month_seq BETWEEN 48 AND 59
    AND d1.d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
  GROUP BY s_state, s_county) per
WHERE s_state IN (
  SELECT s_state FROM (
    SELECT s_state,
           rank() OVER (ORDER BY sum(ss_net_profit_cents) DESC, s_state)
             AS ranking
    FROM store_sales, store, date_dim
    WHERE d_month_seq BETWEEN 48 AND 59
      AND d_date_sk = ss_sold_date_sk AND s_store_sk = ss_store_sk
    GROUP BY s_state) tmp1
  WHERE ranking <= 3)
GROUP BY ROLLUP (s_state, s_county)
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN s_state END NULLS FIRST,
         rank_within_parent, s_state NULLS FIRST, s_county NULLS FIRST
LIMIT 100"""),

      "q_dsreal_q74" -> (P + """,
year_total AS (
  SELECT c_customer_id AS customer_id,
         c_first_name AS customer_first_name,
         c_last_name AS customer_last_name, d_year AS dyear,
         sum(ss_net_paid_cents) AS year_total, 's' AS sale_type
  FROM customer_dim, store_sales, date_dim
  WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
    AND d_year IN (2000, 2001)
  GROUP BY c_customer_id, c_first_name, c_last_name, d_year
  UNION ALL
  SELECT c_customer_id, c_first_name, c_last_name, d_year,
         sum(ws_net_paid_cents), 'w'
  FROM customer_dim, web_sales, date_dim
  WHERE c_customer_sk = ws_bill_customer_sk
    AND ws_sold_date_sk = d_date_sk AND d_year IN (2000, 2001)
  GROUP BY c_customer_id, c_first_name, c_last_name, d_year)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_first_name,
       t_s_secyear.customer_last_name
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 2000 AND t_s_secyear.dyear = 2001
  AND t_w_firstyear.dyear = 2000 AND t_w_secyear.dyear = 2001
  AND t_s_firstyear.year_total > 0 AND t_w_firstyear.year_total > 0
  AND t_w_secyear.year_total * t_s_firstyear.year_total >
      t_s_secyear.year_total * t_w_firstyear.year_total
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_first_name,
         t_s_secyear.customer_last_name
LIMIT 100"""),

      "q_dsreal_q83" -> (P + """,
probe_dates AS (
  SELECT d_date FROM date_dim
  WHERE d_year * 10 + d_qoy IN (
    SELECT d_year * 10 + d_qoy FROM date_dim
    WHERE d_date IN (DATE '2000-06-30', DATE '2000-09-27',
                     DATE '2000-11-17'))),
sr_items AS (
  SELECT i_item_id AS item_id,
         CAST(sum(sr_return_quantity) AS BIGINT) AS sr_item_qty
  FROM store_returns, item, date_dim
  WHERE sr_item_sk = i_item_sk
    AND d_date IN (SELECT d_date FROM probe_dates)
    AND sr_returned_date_sk = d_date_sk
  GROUP BY i_item_id),
cr_items AS (
  SELECT i_item_id AS item_id,
         CAST(sum(cr_return_quantity) AS BIGINT) AS cr_item_qty
  FROM catalog_returns, item, date_dim
  WHERE cr_item_sk = i_item_sk
    AND d_date IN (SELECT d_date FROM probe_dates)
    AND cr_returned_date_sk = d_date_sk
  GROUP BY i_item_id),
wr_items AS (
  SELECT i_item_id AS item_id,
         CAST(sum(wr_return_quantity) AS BIGINT) AS wr_item_qty
  FROM web_returns, item, date_dim
  WHERE wr_item_sk = i_item_sk
    AND d_date IN (SELECT d_date FROM probe_dates)
    AND wr_returned_date_sk = d_date_sk
  GROUP BY i_item_id)
SELECT sr_items.item_id AS item_id, sr_item_qty,
       CAST(((sr_item_qty * 100000000) - ((sr_item_qty * 100000000) % ((sr_item_qty + cr_item_qty + wr_item_qty) * 3))) / (((sr_item_qty + cr_item_qty + wr_item_qty) * 3)) AS BIGINT) AS sr_dev,
       cr_item_qty,
       CAST(((cr_item_qty * 100000000) - ((cr_item_qty * 100000000) % ((sr_item_qty + cr_item_qty + wr_item_qty) * 3))) / (((sr_item_qty + cr_item_qty + wr_item_qty) * 3)) AS BIGINT) AS cr_dev,
       wr_item_qty,
       CAST(((wr_item_qty * 100000000) - ((wr_item_qty * 100000000) % ((sr_item_qty + cr_item_qty + wr_item_qty) * 3))) / (((sr_item_qty + cr_item_qty + wr_item_qty) * 3)) AS BIGINT) AS wr_dev,
       CAST((((sr_item_qty + cr_item_qty + wr_item_qty) * 1000000) - (((sr_item_qty + cr_item_qty + wr_item_qty) * 1000000) % 3)) / (3) AS BIGINT)
         AS average
FROM sr_items, cr_items, wr_items
WHERE sr_items.item_id = cr_items.item_id
  AND sr_items.item_id = wr_items.item_id
ORDER BY item_id, sr_item_qty
LIMIT 100"""),

      "q_dsreal_q84" -> (P + """
SELECT c_customer_id AS customer_id,
       COALESCE(c_last_name, '') || ', ' || COALESCE(c_first_name, '')
         AS customername
FROM customer_dim, customer_address, customer_demographics,
     household_demographics, income_band, store_returns
WHERE ca_city = 'City_7'
  AND c_current_addr_sk = ca_address_sk
  AND ib_lower_bound >= 30000 AND ib_upper_bound <= 30000 + 50000
  AND ib_income_band_sk = hd_income_band_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND sr_cdemo_sk = cd_demo_sk
ORDER BY customer_id, customername
LIMIT 100"""),

      "q_dsreal_q91" -> (P + """
SELECT cc_call_center_id AS call_center, cc_name AS call_center_name,
       cc_manager AS manager,
       CAST(sum(cr_net_loss_cents) AS BIGINT) AS returns_loss
FROM call_center, catalog_returns, date_dim, customer_dim,
     customer_address, customer_demographics, household_demographics
WHERE cr_call_center_sk = cc_call_center_sk
  AND cr_returned_date_sk = d_date_sk
  AND cr_returning_customer_sk = c_customer_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND ca_address_sk = c_current_addr_sk
  AND d_year = 2000
  AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
       OR (cd_marital_status = 'W'
           AND cd_education_status = 'Advanced Degree'))
  AND hd_buy_potential LIKE 'Unknown%'
  AND ca_gmt_offset = -7
GROUP BY cc_call_center_id, cc_name, cc_manager, cd_marital_status,
         cd_education_status
ORDER BY returns_loss DESC, call_center"""),

      "q_dsreal_q66" -> {
        val months = Seq("jan", "feb", "mar", "apr", "may", "jun", "jul",
          "aug", "sep", "oct", "nov", "dec")
        def innerBranch(fact: String, p: String, salesE: String,
            netE: String) = s"""
    SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
           w_state, w_country, 'DHL,BARIAN' AS ship_carriers,
           d_year AS year,
           ${months.zipWithIndex.map { case (mn, i) =>
             s"""sum(CASE WHEN d_moy = ${i + 1} THEN $salesE
             ELSE 0 END) AS ${mn}_sales,
           sum(CASE WHEN d_moy = ${i + 1} THEN $netE
             ELSE 0 END) AS ${mn}_net"""
           }.mkString(",\n           ")}
    FROM $fact, warehouse, date_dim, time_dim, ship_mode
    WHERE ${p}_warehouse_sk = w_warehouse_sk
      AND ${p}_sold_date_sk = d_date_sk
      AND ${p}_sold_time_sk = t_time_sk
      AND ${p}_ship_mode_sk = sm_ship_mode_sk
      AND d_year = 2001
      AND t_time BETWEEN 30838 AND 30838 + 28800
      AND sm_carrier IN ('DHL','BARIAN')
    GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
             w_state, w_country, d_year"""
        P + s"""
SELECT w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state,
       w_country, ship_carriers, year,
       ${months.map { mn =>
         s"""CAST(sum(${mn}_sales) AS BIGINT) AS ${mn}_sales,
       CAST(sum(CAST(((${mn}_sales * 1000000) - ((${mn}_sales * 1000000) % w_warehouse_sq_ft)) / (w_warehouse_sq_ft) AS BIGINT)) AS BIGINT)
         AS ${mn}_sales_per_sq_foot,
       CAST(sum(${mn}_net) AS BIGINT) AS ${mn}_net"""
       }.mkString(",\n       ")}
FROM (${innerBranch("web_sales", "ws",
          "ws_ext_sales_price_cents * ws_quantity",
          "ws_net_paid_cents * ws_quantity")}
  UNION ALL${innerBranch("catalog_sales", "cs",
          "cs_sales_price_cents * cs_quantity",
          "cs_net_paid_inc_tax_cents * cs_quantity")}) x
GROUP BY w_warehouse_name, w_warehouse_sq_ft, w_city, w_county,
         w_state, w_country, ship_carriers, year
ORDER BY w_warehouse_name
LIMIT 100"""
      },

      "q_dsreal_q77" -> (P + """,
ss AS (
  SELECT s_store_sk,
         sum(ss_ext_sales_price_cents) AS sales,
         sum(ss_net_profit_cents) AS profit
  FROM store_sales, date_dim, store
  WHERE ss_sold_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND ss_store_sk = s_store_sk
  GROUP BY s_store_sk),
sr AS (
  SELECT s_store_sk,
         sum(sr_return_amt_cents) AS returns_amt,
         sum(sr_net_loss_cents) AS profit_loss
  FROM store_returns, date_dim, store
  WHERE sr_returned_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND sr_store_sk = s_store_sk
  GROUP BY s_store_sk),
cs AS (
  SELECT cs_call_center_sk,
         sum(cs_ext_sales_price_cents) AS sales,
         sum(cs_net_profit_cents) AS profit
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
  GROUP BY cs_call_center_sk),
cr AS (
  SELECT cr_call_center_sk,
         sum(cr_return_amt_cents) AS returns_amt,
         sum(cr_net_loss_cents) AS profit_loss
  FROM catalog_returns, date_dim
  WHERE cr_returned_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
  GROUP BY cr_call_center_sk),
wsp AS (
  SELECT wp_web_page_sk,
         sum(ws_ext_sales_price_cents) AS sales,
         sum(ws_net_profit_cents) AS profit
  FROM web_sales, date_dim, web_page
  WHERE ws_sold_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND ws_web_page_sk = wp_web_page_sk
  GROUP BY wp_web_page_sk),
wrp AS (
  SELECT wp_web_page_sk,
         sum(wr_return_amt_cents) AS returns_amt,
         sum(wr_net_loss_cents) AS profit_loss
  FROM web_returns, date_dim, web_page
  WHERE wr_returned_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND wr_web_page_sk = wp_web_page_sk
  GROUP BY wp_web_page_sk)
SELECT channel, id, CAST(sum(sales) AS BIGINT) AS sales,
       CAST(sum(returns_amt) AS BIGINT) AS returns_amt,
       CAST(sum(profit) AS BIGINT) AS profit
FROM (
  SELECT 'store channel' AS channel, ss.s_store_sk AS id, sales,
         COALESCE(returns_amt, 0) AS returns_amt,
         profit - COALESCE(profit_loss, 0) AS profit
  FROM ss LEFT JOIN sr ON ss.s_store_sk = sr.s_store_sk
  UNION ALL
  SELECT 'catalog channel', cs_call_center_sk, sales, returns_amt,
         profit - profit_loss
  FROM cs, cr
  UNION ALL
  SELECT 'web channel', wsp.wp_web_page_sk, sales,
         COALESCE(returns_amt, 0), profit - COALESCE(profit_loss, 0)
  FROM wsp LEFT JOIN wrp ON wsp.wp_web_page_sk = wrp.wp_web_page_sk) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100"""),

      "q_dsreal_q80" -> (P + """,
ssr AS (
  SELECT s_store_id AS store_id,
         sum(ss_ext_sales_price_cents) AS sales,
         sum(COALESCE(sr_return_amt_cents, 0)) AS returns_amt,
         sum(ss_net_profit_cents - COALESCE(sr_net_loss_cents, 0))
           AS profit
  FROM store_sales LEFT OUTER JOIN store_returns
         ON (ss_item_sk = sr_item_sk
             AND ss_ticket_number = sr_ticket_number),
       date_dim, store, item, promotion
  WHERE ss_sold_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND ss_store_sk = s_store_sk
    AND ss_item_sk = i_item_sk AND i_current_price_cents > 95000
    AND ss_promo_sk = p_promo_sk AND p_channel_tv = 'N'
  GROUP BY s_store_id),
csr AS (
  SELECT cp_catalog_page_id AS catalog_page_id,
         sum(cs_ext_sales_price_cents) AS sales,
         sum(COALESCE(cr_return_amt_cents, 0)) AS returns_amt,
         sum(cs_net_profit_cents - COALESCE(cr_net_loss_cents, 0))
           AS profit
  FROM catalog_sales LEFT OUTER JOIN catalog_returns
         ON (cs_item_sk = cr_item_sk
             AND cs_order_number = cr_order_number),
       date_dim, catalog_page, item, promotion
  WHERE cs_sold_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND cs_catalog_page_sk = cp_catalog_page_sk
    AND cs_item_sk = i_item_sk AND i_current_price_cents > 95000
    AND cs_promo_sk = p_promo_sk AND p_channel_tv = 'N'
  GROUP BY cp_catalog_page_id),
wsr AS (
  SELECT web_site_id,
         sum(ws_ext_sales_price_cents) AS sales,
         sum(COALESCE(wr_return_amt_cents, 0)) AS returns_amt,
         sum(ws_net_profit_cents - COALESCE(wr_net_loss_cents, 0))
           AS profit
  FROM web_sales LEFT OUTER JOIN web_returns
         ON (ws_item_sk = wr_item_sk
             AND ws_order_number = wr_order_number),
       date_dim, web_site, item, promotion
  WHERE ws_sold_date_sk = d_date_sk
    AND d_date BETWEEN DATE '2000-08-23'
                   AND DATE '2000-08-23' + INTERVAL 30 DAY
    AND ws_web_site_sk = web_site_sk
    AND ws_item_sk = i_item_sk AND i_current_price_cents > 95000
    AND ws_promo_sk = p_promo_sk AND p_channel_tv = 'N'
  GROUP BY web_site_id)
SELECT channel, id, CAST(sum(sales) AS BIGINT) AS sales,
       CAST(sum(returns_amt) AS BIGINT) AS returns_amt,
       CAST(sum(profit) AS BIGINT) AS profit
FROM (
  SELECT 'store channel' AS channel, 'store' || store_id AS id,
         sales, returns_amt, profit
  FROM ssr
  UNION ALL
  SELECT 'catalog channel', 'catalog_page' || catalog_page_id,
         sales, returns_amt, profit
  FROM csr
  UNION ALL
  SELECT 'web channel', 'web_site' || web_site_id,
         sales, returns_amt, profit
  FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100""")
    )
  }
}
