package graft.operators

import graft.{QueryPack, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation surface: distinct aggs, rollup/cube/grouping sets,
  * LISTAGG/COLLECT, stats aggs, HLL approx distinct, min_by/max_by,
  * filtered aggregation, SINGLE_VALUE.
  *
  * Reference capabilities (SURVEY.md §2.4):
  *  - BatchExecHashAggregate.java:52 (partial/final hash agg)
  *  - DecomposeGroupingSetsRule.scala:159 (grouping sets via Expand)
  *  - aggfunctions: ListAgg, Collect, SingleValue, Min/MaxWithRetract
  *  - BatchApproxCountDistinctAggFunctions.java:55 (HLL++)
  *
  * Scale notes: every query here is a single hash-agg shuffle with
  * map-side partial aggregation; collect_list/set queries group on
  * low-cardinality keys so the collected arrays stay bounded.
  */
object AggregatePack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DISTINCT aggregates (Catalyst expands via Expand, like Flink's
    // distinct-agg split).
    "q_agg_distinct" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_orderkey").as("n_orders"),
          sum_distinct($"l_quantity").as("sum_dq"),
          count(lit(1)).as("n_rows"))
    }),

    "q_rollup" -> ((s, d) => {
      import s.implicits._
      // unfanned (here and q_stddev_var/q_percentile — Probe fanab, r17):
      // one-pass aggregations whose partial agg IS the parallel work;
      // the fan exchange bought nothing. These ran unfanned through
      // r15 with identical oracle hashes.
      T.lineitemRaw(s, d).rollup($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          grouping_id().cast("int").as("gid"))
    }),

    "q_cube" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d).cube($"l_returnflag", $"l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          grouping_id().cast("int").as("gid"))
    }),

    "q_groupingsets" -> ((s, d) => {
      // raw (unfanned) view: sum_price is a raw DOUBLE sum over the
      // whole table — float-summation-order sensitive vs the oracle
      // under the scan fan-out (see Tables.loadRaw)
      T.lineitemRaw(s, d).createOrReplaceTempView("lineitem_raw")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               sum(l_extendedprice) AS sum_price,
               CAST(grouping_id() AS INT) AS gid
        FROM lineitem_raw
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      """)
    }),

    // LISTAGG (Flink ListAggFunction) — sorted for determinism.
    "q_listagg" -> ((s, d) => {
      import s.implicits._
      T.nation(s, d).join(T.region(s, d), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(array_join(array_sort(collect_list($"n_name")), ",").as("nations"))
    }),

    // COLLECT (multiset agg) — sorted numerically, then joined to a
    // scalar string (driver comparator can't sort raw array columns).
    "q_collect_set" -> ((s, d) => {
      import s.implicits._
      T.supplier(s, d).groupBy($"s_nationkey")
        .agg(array_join(
          transform(array_sort(collect_set($"s_suppkey")), _.cast("string")),
          ",").as("suppkeys"))
    }),

    // STDDEV/VAR family.
    "q_stddev_var" -> ((s, d) => {
      import s.implicits._
      T.lineitemRaw(s, d).groupBy($"l_returnflag")
        .agg(
          stddev_samp($"l_quantity").as("sd_samp"),
          stddev_pop($"l_quantity").as("sd_pop"),
          var_samp($"l_quantity").as("v_samp"),
          var_pop($"l_quantity").as("v_pop"))
    }),

    // APPROX_COUNT_DISTINCT — Spark's HLL++ mirrors Flink's
    // BatchApproxCountDistinctAggFunctions (both HLL++, same paper).
    // Sketch internals differ per engine, so the emitted columns are the
    // engine-stable exact count plus an in-query tolerance check on the
    // HLL estimate; the oracle emits the exact count and literal true.
    "q_approx_distinct" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_partkey").as("exact_parts"),
          approx_count_distinct($"l_partkey").as("approx_tmp"))
        .select(
          $"l_returnflag",
          $"exact_parts",
          (abs($"approx_tmp".cast("double") - $"exact_parts".cast("double"))
            / $"exact_parts".cast("double") <= 0.05).as("within_tol"))
    }),

    // Approximate percentile sketch (KLL/GK-style; Flink exposes the
    // same family through its PERCENTILE/approx aggs). Engine sketches
    // differ, so the check is the q_approx_distinct tolerance pattern:
    // emit the exact value and an in-query accuracy boolean.
    "q_approx_percentile" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d).groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap_tmp"))
        .select(
          $"l_returnflag",
          $"exact_p50",
          (abs($"ap_tmp".cast("double") - $"exact_p50")
            / $"exact_p50" <= 0.01).as("within_tol"))
    }),

    // MAX_BY / MIN_BY (acctbal unique per nation -> deterministic).
    "q_minmax_by" -> ((s, d) => {
      import s.implicits._
      T.supplier(s, d).groupBy($"s_nationkey")
        .agg(
          max_by($"s_name", $"s_acctbal").as("richest"),
          min_by($"s_name", $"s_acctbal").as("poorest"),
          max($"s_acctbal").as("max_bal"))
    }),

    // Filtered aggregation (FILTER clause / count_if).
    "q_filtered_agg" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d).groupBy($"o_orderpriority")
        .agg(
          count(when($"o_orderstatus" === "F", 1)).as("n_f"),
          count(when($"o_orderstatus" === "O", 1)).as("n_o"),
          sum(when($"o_totalprice" > 200000.0, $"o_totalprice")
            .otherwise(0.0)).as("big_total"))
    }),

    // Exact interpolated percentiles (Flink PERCENTILE_CONT-style).
    "q_percentile" -> ((s, d) => {
      import s.implicits._
      T.lineitemRaw(s, d).groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
          expr("percentile(l_extendedprice, 0.75)").as("p75_price"))
    }),

    // JSON_OBJECTAGG (Flink JsonObjectAggFunction): status -> count maps
    // as JSON text, key-sorted for determinism.
    "q_json_objectagg" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .groupBy($"o_orderpriority")
        .agg(concat(lit("{"),
          concat_ws(",", sort_array(collect_list(
            concat(lit("\""), $"o_orderstatus", lit("\":"), $"n")))),
          lit("}")).as("jo"))
    }),

    // JSON_ARRAYAGG (Flink JsonArrayAggFunction), value-sorted.
    "q_json_arrayagg" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .filter($"o_totalprice" > 300000.0)
        .groupBy($"o_orderpriority")
        .agg(to_json(sort_array(collect_list($"o_orderkey"))).as("ja"))
    }),

    // SINGLE_VALUE (Flink SingleValueAggFunction): custom typed Aggregator
    // that throws on >1 row per group.
    "q_single_value" -> ((s, d) => {
      import s.implicits._
      val sv = graft.functions.GraftFunctions.single_value($"o_totalprice")
      T.orders(s, d).groupBy($"o_orderkey").agg(sv.as("price"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q_agg_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey) AS n_orders,
         sum(DISTINCT l_quantity) AS sum_dq,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
         count(*) AS n,
         CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q_groupingsets" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_extendedprice) AS sum_price,
         CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    "q_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q_collect_set" ->
      """SELECT s_nationkey,
         array_to_string(list_sort(list(DISTINCT s_suppkey)), ',') AS suppkeys
         FROM supplier GROUP BY s_nationkey""",
    "q_approx_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS exact_parts,
         true AS within_tol
         FROM lineitem GROUP BY l_returnflag""",
    "q_approx_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.5) AS exact_p50,
         true AS within_tol
         FROM lineitem GROUP BY l_returnflag""",
    "q_stddev_var" ->
      """SELECT l_returnflag,
         stddev_samp(l_quantity) AS sd_samp,
         stddev_pop(l_quantity) AS sd_pop,
         var_samp(l_quantity) AS v_samp,
         var_pop(l_quantity) AS v_pop
         FROM lineitem GROUP BY l_returnflag""",
    "q_minmax_by" ->
      """SELECT s_nationkey,
         arg_max(s_name, s_acctbal) AS richest,
         arg_min(s_name, s_acctbal) AS poorest,
         max(s_acctbal) AS max_bal
         FROM supplier GROUP BY s_nationkey""",
    "q_filtered_agg" ->
      """SELECT o_orderpriority,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         sum(CASE WHEN o_totalprice > 200000.0 THEN o_totalprice ELSE 0.0 END) AS big_total
         FROM orders GROUP BY o_orderpriority""",
    "q_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS med_qty,
         quantile_cont(l_quantity, 0.9) AS p90_qty,
         quantile_cont(l_extendedprice, 0.25) AS p25_price,
         quantile_cont(l_extendedprice, 0.75) AS p75_price
         FROM lineitem GROUP BY l_returnflag""",
    "q_json_objectagg" ->
      """WITH per AS (
           SELECT o_orderpriority, o_orderstatus, count(*) AS n
           FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority,
           '{' || string_agg('"' || o_orderstatus || '":' || n, ','
                             ORDER BY o_orderstatus) || '}' AS jo
         FROM per GROUP BY o_orderpriority""",
    "q_json_arrayagg" ->
      """SELECT o_orderpriority,
           to_json(list_sort(list(o_orderkey)))::VARCHAR AS ja
         FROM orders WHERE o_totalprice > 300000.0
         GROUP BY o_orderpriority""",
    "q_single_value" ->
      """SELECT o_orderkey, min(o_totalprice) AS price
         FROM orders GROUP BY o_orderkey"""
  )
}
