package graft.operators

import graft.{QueryPack, Tables => T}
import graft.ext.VertexLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative dataflow (SURVEY.md §2.13 iterations row; reference
  * flink-java .../operators/DeltaIteration.java and IterativeDataSet.java
  * — previously the one declared-out-of-scope §2.13 row).
  *
  * Both queries run on the bipartite part<->supplier graph read
  * straight off lineitem (suppliers offset by +100000 so the id
  * spaces cannot collide), symmetrized so every node has in- and
  * out-edges — one scan, no join, so the per-run cost is the iteration
  * itself, not graph construction. All iteration arithmetic is INTEGER
  * (micro-rank units, floor division) so Spark and the DuckDB
  * recursive-CTE oracle agree bit-for-bit — float PageRank would
  * hash-diverge on summation order.
  *
  * Both run as [[VertexLoop]] programs: the adjacency is built and
  * persisted once, hash-partitioned by node id, and each round is one
  * Spark job whose only shuffle is the map-side-combined messages — no
  * per-round Catalyst planning, broadcast build or AQE re-plan. The
  * fixed-round Catalyst form (a broadcast rank/frontier join plus an
  * aggregation, pinned per round) spent three jobs and a fresh plan per
  * round, most of its wall time in scheduling.
  */
object IteratePack extends QueryPack {

  /** One bound for BOTH the Spark loop and the oracle's recursive
    * CTE — a graph whose seed eccentricity exceeds it fails the Spark
    * convergence require() loudly instead of silently diverging from a
    * shorter-bounded oracle walk. */
  private val MaxHops = 20

  /** PageRank's fixed round count. */
  private val PageRankRounds = 10

  /** BFS distance of a node no round has reached yet (output as null). */
  private val Unreached = Long.MaxValue

  /** Adjacency of the symmetric part<->supplier graph. The unfanned
    * read: the adjacency build is itself a shuffle by node id, so a
    * fan-out exchange in front of it would be pure cost. */
  private def adjacency(s: SparkSession, d: String) =
    VertexLoop.adjacency(T.lineitemRaw(s, d)
      .select(col("l_partkey"), col("l_suppkey") + 100000L))

  /** Integer PageRank, damping 0.85 as the exact rational 17/20:
    * rank'(v) = 150000 + (17 * sum_{u->v} (rank(u) div deg(u))) div 20,
    * all BIGINT, every node sending every round. */
  private[graft] val pageRankProgram: VertexLoop.Program =
    new VertexLoop.Program {
      def init(id: Long): Long = 1000000L
      def sends(value: Long, changed: Boolean): Boolean = true
      def message(value: Long, degree: Int): Long = value / degree
      def combine(a: Long, b: Long): Long = a + b
      def update(value: Long, inbox: Option[Long]): Long =
        150000L + 17L * inbox.getOrElse(0L) / 20L
    }

  /** Frontier BFS hop levels from `seed`: only a node whose distance
    * improved last round sends (distance + 1), and a node keeps the
    * minimum of its distance and its inbox. */
  private[graft] def bfsProgram(seed: Long): VertexLoop.Program =
    new VertexLoop.Program {
      def init(id: Long): Long = if (id == seed) 0L else Unreached
      def sends(value: Long, changed: Boolean): Boolean =
        changed && value != Unreached
      def message(value: Long, degree: Int): Long = value + 1L
      def combine(a: Long, b: Long): Long = math.min(a, b)
      def update(value: Long, inbox: Option[Long]): Long =
        inbox.fold(value)(math.min(value, _))
    }

  /** q_pagerank as (frame, rounds, converged); rounds stop early only
    * at an exact fixpoint, where further rounds could not change a
    * rank. */
  private[graft] def pageRank(s: SparkSession, d: String)
      : (DataFrame, Int, Boolean) = {
    val adj = adjacency(s, d)
    try VertexLoop.run(s, adj, pageRankProgram, PageRankRounds, "rank_micro")
    finally adj.unpersist(blocking = false)
  }

  /** q_bfs_levels as (frame, rounds, converged): BFS from the minimum
    * node id, run until a round improves no distance. */
  private[graft] def bfsLevels(s: SparkSession, d: String)
      : (DataFrame, Int, Boolean) = {
    val adj = adjacency(s, d)
    try {
      // the one set-up job, which also builds adj; an empty graph keeps
      // the Unreached seed and converges in round 1 with no rows
      val seed = adj.keys.fold(Unreached)(math.min)
      val (out, rounds, converged) =
        VertexLoop.run(s, adj, bfsProgram(seed), MaxHops, "dist")
      (out.select(col("id"),
        when(col("dist") =!= Unreached, col("dist")).as("dist")),
        rounds, converged)
    } finally adj.unpersist(blocking = false)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> ((s, d) => pageRank(s, d)._1),
    "q_bfs_levels" -> ((s, d) => {
      val (out, _, converged) = bfsLevels(s, d)
      require(converged, "BFS did not converge within the round bound")
      out
    })
  )

  def oracle: Map[String, String] = Map(
    "q_pagerank" ->
      """WITH RECURSIVE
         fwd AS (
           SELECT DISTINCT l_partkey AS src, l_suppkey + 100000 AS dst
           FROM lineitem),
         edges AS (
           SELECT src, dst FROM fwd
           UNION ALL SELECT dst, src FROM fwd),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         pr AS (
           SELECT 0 AS iter, id, CAST(1000000 AS BIGINT) AS rank_micro
           FROM nodes
           UNION ALL
           SELECT pr.iter + 1, e.dst AS id,
                  CAST(150000 + (17 * SUM(pr.rank_micro // d.d)) // 20
                       AS BIGINT)
           FROM pr JOIN edges e ON pr.id = e.src
                   JOIN deg d ON d.src = pr.id
           WHERE pr.iter < 10
           GROUP BY pr.iter, e.dst)
         SELECT id, rank_micro FROM pr WHERE iter = 10""",
    "q_bfs_levels" ->
      s"""WITH RECURSIVE
         fwd AS (
           SELECT DISTINCT l_partkey AS src, l_suppkey + 100000 AS dst
           FROM lineitem),
         edges AS (
           SELECT src, dst FROM fwd
           UNION ALL SELECT dst, src FROM fwd),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         walk AS (
           SELECT id, CAST(0 AS BIGINT) AS dist
           FROM (SELECT MIN(id) AS id FROM nodes)
           UNION
           SELECT e.dst AS id, w.dist + 1 AS dist
           FROM walk w JOIN edges e ON w.id = e.src
           WHERE w.dist < $MaxHops)
         SELECT n.id, MIN(w.dist) AS dist
         FROM nodes n LEFT JOIN walk w ON n.id = w.id
         GROUP BY n.id"""
  )
}
