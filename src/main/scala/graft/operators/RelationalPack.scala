package graft.operators

import graft.{QueryPack, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch relational core: calc (fused project+filter), every join shape,
  * sort/limit, set operations.
  *
  * Reference capabilities (see SURVEY.md §2.2, §2.3, §2.8, §2.9):
  *  - Calc: flink-table-planner .../exec/batch/BatchExecCalc.java:38
  *  - Hash/SortMerge/NestedLoop joins: BatchExecHashJoin.java:55,
  *    BatchExecSortMergeJoin.java:55, BatchExecNestedLoopJoin.java:46
  *  - Sort-limit: BatchExecSortLimit.java:48
  *  - Union/Intersect/Except rewrites: FlinkBatchRuleSets (set-op rules)
  *
  * Spark-first design notes (100 TB posture):
  *  - All joins are declared via the DataFrame API; Catalyst picks
  *    broadcast vs shuffled-hash vs sort-merge. Tiny dimensions
  *    (region/nation/supplier) are explicitly `broadcast()`-hinted so the
  *    big fact table never shuffles for them.
  *  - Filters/projections sit directly on the scan so parquet pushdown and
  *    column pruning engage (verify with .explain: PushedFilters/ReadSchema).
  *  - Aggregations are partial+final automatically (map-side combine), so
  *    the only full shuffle is on the (low-cardinality) group keys.
  */
object RelationalPack extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1: scan -> filter -> hash agg (partial/final). The flagship.
    "q1_agg" -> ((s, d) => {
      import s.implicits._
      // lineitemRaw (not lineitem): this query's outputs are raw DOUBLE
      // sums over the whole table — the scan fan-out would change float
      // summation order and move them an ulp across the oracle rounding
      // boundary (measured r16; see Tables.loadRaw)
      T.lineitemRaw(s, d)
        .filter($"l_shipdate" <= lit("2000-12-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice").as("sum_base_price"),
          sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
          sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
          avg($"l_quantity").as("avg_qty"),
          avg($"l_extendedprice").as("avg_price"),
          avg($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // Calc: fused project + filter + CASE/temporal arithmetic in one
    // whole-stage-codegen'd stage.
    "q_calc" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .filter($"o_totalprice" > 150000.0 && $"o_orderstatus" =!= "P")
        .select(
          $"o_orderkey",
          upper($"o_orderpriority").as("prio_up"),
          when($"o_orderstatus" === "F", $"o_totalprice" * 0.9)
            .otherwise($"o_totalprice").as("adj_price"),
          (year($"o_orderdate") * lit(100) + month($"o_orderdate"))
            .cast("int").as("yyyymm"))
    }),

    // Inner equi join fact-to-fact (shuffle join on orderkey) + agg.
    "q_join_inner" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey", $"o_orderstatus")
        .agg(
          sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Left outer join preserving customers with zero orders.
    "q_join_left" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .join(T.orders(s, d), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey", $"c_name")
        .agg(
          count($"o_orderkey").as("n_orders"),
          coalesce(sum($"o_totalprice"), lit(0.0)).as("total_spent"))
    }),

    // Right outer join preserving parts never shipped.
    "q_join_right" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(T.part(s, d), $"l_partkey" === $"p_partkey", "right")
        .groupBy($"p_partkey", $"p_brand")
        .agg(
          count($"l_orderkey").as("n_lineitems"),
          coalesce(sum($"l_quantity"), lit(0.0)).as("total_qty"))
    }),

    // Full outer join of two pre-aggregated sides.
    "q_join_full" -> ((s, d) => {
      import s.implicits._
      val supp = T.supplier(s, d).groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      val cust = T.customer(s, d).groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      supp.join(cust, $"s_nationkey" === $"c_nationkey", "full")
        .select(
          coalesce($"s_nationkey", $"c_nationkey").as("nationkey"),
          coalesce($"n_supp", lit(0L)).as("n_supp"),
          coalesce($"n_cust", lit(0L)).as("n_cust"))
    }),

    // Left-semi join (SQL EXISTS / IN).
    "q_join_semi" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .join(T.orders(s, d).filter($"o_orderstatus" === "F"),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
    }),

    // Left-anti join (SQL NOT EXISTS).
    "q_join_anti" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .join(T.orders(s, d).filter($"o_orderstatus" === "P"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
    }),

    // Theta (non-equi) join -> BroadcastNestedLoopJoin on the tiny side.
    "q_join_theta" -> ((s, d) => {
      import s.implicits._
      T.supplier(s, d)
        .join(broadcast(T.nation(s, d)), $"s_acctbal" > $"n_nationkey" * lit(400.0))
        .select($"s_suppkey", $"n_nationkey")
    }),

    // Cross join of two tiny dimensions.
    "q_join_cross" -> ((s, d) => {
      import s.implicits._
      T.region(s, d).crossJoin(broadcast(T.nation(s, d)))
        .select($"r_name", $"n_name")
    }),

    // TPC-H Q5-flavored 6-way join: the big fact joins are shuffled on
    // their keys; all dimensions are broadcast so only lineitem⋈orders
    // moves data at scale.
    "q_multiway_join" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .join(T.orders(s, d), $"c_custkey" === $"o_custkey")
        // unfanned (Probe fanab, r17): the join re-shuffles by
        // l_orderkey at session width anyway; the width-5 fan exchange
        // in front of it was pure cost
        .join(T.lineitemRaw(s, d), $"o_orderkey" === $"l_orderkey")
        .join(broadcast(T.supplier(s, d)),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(T.nation(s, d)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(T.region(s, d).filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        .groupBy($"n_name")
        .agg(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
    }),

    // Global sort + limit -> TakeOrderedAndProject (no full global sort at
    // scale: per-partition top-k then merge on driver).
    "q_sort_limit" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
        .select($"o_orderkey", $"o_totalprice")
    }),

    "q_union_all" -> ((s, d) => {
      import s.implicits._
      val f = T.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
      val big = T.orders(s, d).filter($"o_totalprice" > 100000.0).select($"o_custkey")
      f.unionAll(big)
    }),

    "q_union_distinct" -> ((s, d) => {
      import s.implicits._
      val f = T.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
      val big = T.orders(s, d).filter($"o_totalprice" > 100000.0).select($"o_custkey")
      f.union(big).distinct()
    }),

    "q_intersect" -> ((s, d) => {
      import s.implicits._
      val f = T.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
      val big = T.orders(s, d).filter($"o_totalprice" > 100000.0).select($"o_custkey")
      f.intersect(big)
    }),

    "q_intersect_all" -> ((s, d) => {
      import s.implicits._
      val f = T.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
      val big = T.orders(s, d).filter($"o_totalprice" > 100000.0).select($"o_custkey")
      f.intersectAll(big)
    }),

    "q_except" -> ((s, d) => {
      import s.implicits._
      val p = T.orders(s, d).filter($"o_orderstatus" === "P").select($"o_custkey")
      val f = T.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
      p.except(f)
    }),

    "q_except_all" -> ((s, d) => {
      import s.implicits._
      val f = T.orders(s, d).filter($"o_orderstatus" === "F").select($"o_custkey")
      val big = T.orders(s, d).filter($"o_totalprice" > 100000.0).select($"o_custkey")
      f.exceptAll(big)
    }),

    // Correlated scalar subquery + IN-subquery (decorrelated by Catalyst
    // into joins, mirroring Flink's FlinkSubQueryRemoveRule).
    "q_subquery_in" -> ((s, d) => {
      T.registerAll(s, d)
      s.sql("""
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
          AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
      """)
    })
  )

  def oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         sum(l_extendedprice) AS sum_base_price,
         sum(l_extendedprice*(1.0-l_discount)) AS sum_disc_price,
         sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)) AS sum_charge,
         avg(l_quantity) AS avg_qty,
         avg(l_extendedprice) AS avg_price,
         avg(l_discount) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q_calc" ->
      """SELECT o_orderkey, upper(o_orderpriority) AS prio_up,
         CASE WHEN o_orderstatus='F' THEN o_totalprice*0.9 ELSE o_totalprice END AS adj_price,
         CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT) AS yyyymm
         FROM orders WHERE o_totalprice > 150000.0 AND o_orderstatus <> 'P'""",
    "q_join_inner" ->
      """SELECT o_orderkey, o_orderstatus,
         sum(l_extendedprice*(1.0-l_discount)) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey, o_orderstatus""",
    "q_join_left" ->
      """SELECT c_custkey, c_name,
         count(o_orderkey) AS n_orders,
         coalesce(sum(o_totalprice), 0.0) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name""",
    "q_join_right" ->
      """SELECT p_partkey, p_brand,
         count(l_orderkey) AS n_lineitems,
         coalesce(sum(l_quantity), 0.0) AS total_qty
         FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
         GROUP BY p_partkey, p_brand""",
    "q_join_full" ->
      """SELECT coalesce(s_nationkey, c_nationkey) AS nationkey,
         coalesce(n_supp, 0) AS n_supp, coalesce(n_cust, 0) AS n_cust
         FROM (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) a
         FULL JOIN (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) b
         ON s_nationkey = c_nationkey""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""",
    "q_join_theta" ->
      """SELECT s_suppkey, n_nationkey FROM supplier, nation
         WHERE s_acctbal > n_nationkey * 400.0""",
    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation""",
    "q_multiway_join" ->
      """SELECT n_name, sum(l_extendedprice*(1.0-l_discount)) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q_union_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0""",
    "q_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         UNION
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0""",
    "q_intersect_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT ALL
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0""",
    "q_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
    "q_except_all" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT ALL
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0""",
    "q_subquery_in" ->
      """SELECT c_custkey, c_acctbal FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
           AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')"""
  )
}
