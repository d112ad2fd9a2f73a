package graft.ext

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Co-partitioned vertex iteration, graft's one iteration engine
  * (reference flink-java .../operators/DeltaIteration.java — Flink keeps
  * the solution set partitioned by key and ships only the workset;
  * SURVEY.md §2.13 iterations row). q_pagerank, q_bfs_levels and
  * [[ConnectedComponents]] run on it.
  *
  * The symmetric adjacency lists are built ONCE ([[adjacency]]),
  * hash-partitioned by vertex id and persisted; the vertex state lives
  * in the same partitioner, so the edges never move again. A round is
  * ONE Spark job with two stages:
  *
  *  1. every sending vertex emits one message per neighbour, combined
  *     map-side per destination (`Program.combine`) — the round's only
  *     shuffle carries the combined messages, packed into one primitive
  *     array per (map task, target partition), so no per-record
  *     serialization or shuffle aggregator runs;
  *  2. each state partition merges its inbox by vertex id and is pinned
  *     through [[Materialize.pinRdd]]; the pin job's action is the
  *     round's change count, the one scalar that reaches the driver.
  *
  * A program that asks for the hop (`Program.hops`, pointer jumping)
  * adds two shuffles of the same packed blocks to that job: each vertex
  * whose value names another vertex sends it a request, and the named
  * vertex's reply — its value before the round — joins the requester's
  * inbox through `combine`.
  *
  * No Catalyst plan is analyzed, optimized or AQE-replanned per round:
  * on a small graph the Catalyst round (broadcast build job, shuffle-map
  * job, result job, plus planning) was dominated by scheduling, not
  * compute (Drizzle, SOSP 2017, makes the same split).
  *
  * Every state merge is KEYED — a per-partition hash lookup by vertex
  * id, never a positional zip of two partitions — so a recomputed
  * adjacency partition that comes back in another row order (a shuffle
  * re-fetch) yields the same answer. The state is never broadcast or
  * collected; both `graft.checkpoint.reliable` modes apply to the
  * per-round pin. Each task holds its partition's senders, combined
  * messages and inbox in hash maps that do not spill (as GraphX's
  * vertex partitions do), so a partition must fit in task memory.
  */
object VertexLoop {

  /** A vertex program over BIGINT values and BIGINT messages. All
    * functions must be deterministic, and `combine` associative and
    * commutative: messages are combined in whatever order the shuffle
    * delivers them. */
  trait Program extends Serializable {
    /** Value of vertex `id` before round 1. */
    def init(id: Long): Long
    /** Whether a vertex holding `value` sends this round; `changed`
      * says whether the previous round changed it (true before round
      * 1). */
    def sends(value: Long, changed: Boolean): Boolean
    /** The message a sender with `degree` neighbours sends to each. */
    def message(value: Long, degree: Int): Long
    def combine(a: Long, b: Long): Long
    /** The vertex's next value, given its combined inbox (None when no
      * message arrived). */
    def update(value: Long, inbox: Option[Long]): Long
    /** Whether each vertex whose value is the id of another vertex also
      * receives that vertex's value (as it stood before the round) in
      * its inbox. */
    def hops: Boolean = false
  }

  private final case class Vertex(value: Long, changed: Boolean)

  /** Undirected adjacency of `edges` (two integral columns, endpoint
    * pairs in either orientation, duplicates allowed; a row with a null
    * endpoint is dropped): vertex id -> its distinct neighbours, sorted,
    * hash-partitioned by id ([[sizedWidth]] of the edge input) and
    * persisted. Lazy — the first round (or any action) builds it. The
    * caller unpersists it after [[run]]. */
  def adjacency(edges: DataFrame): RDD[(Long, Array[Long])] = {
    require(edges.columns.length == 2,
      s"edges need exactly two endpoint columns, got ${edges.columns.mkString(", ")}")
    val Array(a, b) = edges.columns.map(col)
    val pairs = edges.where(a.isNotNull && b.isNotNull)
      .select(a.cast(LongType), b.cast(LongType))
    val part = new HashPartitioner(sizedWidth(pairs))
    val routed = pairs.queryExecution.toRdd.mapPartitions { rows =>
      val out = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
      def add(v: Long, n: Long): Unit = {
        val o = out(part.getPartition(v)); o += v; o += n
      }
      rows.foreach { r =>
        add(r.getLong(0), r.getLong(1)); add(r.getLong(1), r.getLong(0))
      }
      packed(out)
    }
    exchange(routed, part.numPartitions).mapPartitions({ blocks =>
      val nbrs = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
      foreachPair(blocks) { (v, n) =>
        nbrs.getOrElseUpdate(v, new mutable.ArrayBuilder.ofLong) += n }
      nbrs.iterator.map { case (v, ns) => v -> ns.result().sorted.distinct }
    }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Partition count for a graph iterated round after round: one
    * partition per ~2 MB of `df`'s plan-estimated size (no job), clamped
    * to [1, defaultParallelism] — each partition is a task in every
    * round, so a small graph runs a handful of tasks per round and a
    * large one the full width. */
  private def sizedWidth(df: DataFrame): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val para = df.sparkSession.sparkContext.defaultParallelism
    math.max(1L, math.min(para.toLong, (est / (2L << 20)).toLong)).toInt
  }

  /** Moves packed pairs to their partitions: `buckets` holds, per map
    * task, one (target partition, key, value, key, value, ...) record
    * per non-empty target. A HashPartitioner sends Int key p < n to
    * partition p, so the bucket index is the shuffle key. */
  private def exchange(buckets: RDD[(Int, Array[Long])], n: Int)
      : RDD[(Int, Array[Long])] =
    new ShuffledRDD[Int, Array[Long], Array[Long]](buckets, new HashPartitioner(n))

  /** The non-empty per-target builders of one map task as (target
    * partition, packed pairs) blocks. */
  private def packed(out: Array[mutable.ArrayBuilder.ofLong])
      : Iterator[(Int, Array[Long])] =
    out.iterator.map(_.result()).zipWithIndex.collect {
      case (o, p) if o.nonEmpty => p -> o }

  private def foreachPair(blocks: Iterator[(Int, Array[Long])])
      (f: (Long, Long) => Unit): Unit =
    blocks.foreach { case (_, a) =>
      var i = 0
      while (i < a.length) { f(a(i), a(i + 1)); i += 2 }
    }

  /** Run `prog` over the vertices of `adj` (as built by [[adjacency]]:
    * partitioned by vertex id, and every neighbour also a vertex —
    * a message to any other id is dropped) until a round changes no
    * vertex or `maxRounds` rounds ran. Returns
    * (frame of (`id`, `valueCol`), rounds run, converged) — converged
    * means the last round changed nothing, so stopping there is exact
    * for a fixed-round program too. A superseded round is released as
    * soon as the next one is pinned. */
  def run(spark: SparkSession, adj: RDD[(Long, Array[Long])], prog: Program,
      maxRounds: Int, valueCol: String): (DataFrame, Int, Boolean) = {
    require(maxRounds >= 1, s"non-positive round bound: $maxRounds")
    val part = adj.partitioner.getOrElse(throw new IllegalArgumentException(
      "adjacency must be hash-partitioned by vertex id (see adjacency)"))
    // round 0 is a narrow view over the persisted adjacency, not a pin
    // (releasing it is a no-op)
    var state: RDD[(Long, Vertex)] = adj.mapPartitions(
      _.map { case (id, _) => id -> Vertex(prog.init(id), changed = true) },
      preservesPartitioning = true)
    var rounds = 0
    var changed = -1L
    try {
      while (rounds < maxRounds && changed != 0L) {
        rounds += 1
        val next = step(adj, state, part, prog)
        changed =
          try Materialize.pinRdd(spark, next)(_.filter(_._2.changed).count())
          catch { case t: Throwable => next.unpersist(blocking = false); throw t }
        state.unpersist(blocking = false)
        state = next
      }
    } catch { case t: Throwable => state.unpersist(blocking = false); throw t }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField(valueCol, LongType, nullable = false)))
    val out = state.map { case (id, v) => Row(id, v.value) }
    (spark.createDataFrame(out, schema), rounds, changed == 0L)
  }

  private def step(adj: RDD[(Long, Array[Long])], state: RDD[(Long, Vertex)],
      part: Partitioner, prog: Program): RDD[(Long, Vertex)] = {
    val sent = adj.zipPartitions(state) { (es, vs) =>
      val senders = mutable.LongMap.empty[Long]
      vs.foreach { case (id, v) =>
        if (prog.sends(v.value, v.changed)) senders(id) = v.value }
      // combined map-side: one message per destination
      val out = Array.fill(part.numPartitions)(mutable.LongMap.empty[Long])
      es.foreach { case (id, nbrs) =>
        senders.get(id).foreach { v =>
          val m = prog.message(v, nbrs.length)
          nbrs.foreach { d =>
            val o = out(part.getPartition(d))
            o(d) = o.get(d).fold(m)(prog.combine(_, m))
          }
        }
      }
      out.iterator.zipWithIndex.collect { case (o, p) if o.nonEmpty =>
        val pairs = new mutable.ArrayBuilder.ofLong
        o.foreach { case (d, m) => pairs += d; pairs += m }
        p -> pairs.result()
      }
    }
    val messages = exchange(sent, part.numPartitions)
    // both shuffles are partitioned alike, so the union keeps partition
    // p of each in partition p (a PartitionerAwareUnionRDD)
    val inboxes =
      if (prog.hops) messages.union(hopReplies(state, part)) else messages
    state.zipPartitions(inboxes, preservesPartitioning = true) {
      (vs, blocks) =>
        val inbox = mutable.LongMap.empty[Long]
        foreachPair(blocks) { (d, m) =>
          inbox(d) = inbox.get(d).fold(m)(prog.combine(_, m)) }
        vs.map { case (id, v) =>
          val next = prog.update(v.value, inbox.get(id))
          id -> Vertex(next, next != v.value)
        }
    }
  }

  /** Replies to the hop requests of `state`: every vertex whose value
    * names another vertex asks that vertex's partition for its value,
    * and the reply (requester, value) goes back to the requester's
    * partition. A request naming no vertex gets no reply. */
  private def hopReplies(state: RDD[(Long, Vertex)], part: Partitioner)
      : RDD[(Int, Array[Long])] = {
    val n = part.numPartitions
    val requests = state.mapPartitions { vs =>
      val out = Array.fill(n)(new mutable.ArrayBuilder.ofLong)
      vs.foreach { case (id, v) =>
        if (v.value != id) {
          val o = out(part.getPartition(v.value)); o += v.value; o += id
        }
      }
      packed(out)
    }
    exchange(state.zipPartitions(exchange(requests, n)) { (vs, blocks) =>
      val value = mutable.LongMap.empty[Long]
      vs.foreach { case (id, v) => value(id) = v.value }
      val out = Array.fill(n)(new mutable.ArrayBuilder.ofLong)
      foreachPair(blocks) { (named, requester) =>
        value.get(named).foreach { x =>
          val o = out(part.getPartition(requester)); o += requester; o += x
        }
      }
      packed(out)
    }, n)
  }
}
