package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed connected components for duplicate-cluster resolution
  * (north-star ext op: corpus-scale dedup needs TRANSITIVE clusters —
  * if A~B and B~C come out of LSH, all three are one duplicate group
  * even when A and C never share a bucket).
  *
  * Algorithm: hash-min label propagation WITH pointer doubling. Every
  * node starts labeled with its own id; each round a node takes the
  * min of (its label, its neighbors' labels, its label's label); stop
  * when nothing changed. Plain hash-min needs diameter rounds — a
  * length-d chain of near-dups takes d rounds — but the label-of-label
  * shortcut halves remaining path lengths every round (the classic
  * pointer-jumping trick, same convergence class as large-star/
  * small-star in Kiveris et al., "Connected Components in MapReduce
  * and Beyond", SoCC'14), so rounds are O(log diameter). The fixpoint
  * labels each node with the smallest node id in its component —
  * deterministic, engine-independent.
  *
  * Scale posture: a [[VertexLoop]] program — the adjacency is built and
  * persisted once, partitioned by node id, and a round is one Spark
  * job: neighbours' labels arrive as combined messages (only a node
  * whose label changed last round sends; the others' labels already
  * arrived), the label's label through the loop's hop. No driver-side
  * graph, collect or broadcast. The LSH dedup graphs this feeds are
  * unions of stars (doc -> bucket representative), which settle in 2-4
  * rounds; the log bound is the insurance against adversarial chain
  * topologies. If maxRounds is hit before the fixpoint the call THROWS
  * instead of returning silently-partial clusters.
  */
object ConnectedComponents {

  private[graft] val program: VertexLoop.Program = new VertexLoop.Program {
    def init(id: Long): Long = id
    def sends(value: Long, changed: Boolean): Boolean = changed
    def message(value: Long, degree: Int): Long = value
    def combine(a: Long, b: Long): Long = math.min(a, b)
    def update(value: Long, inbox: Option[Long]): Long =
      inbox.fold(value)(math.min(value, _))
    override def hops: Boolean = true
  }

  /** `nodes`: one column `id`. `edges`: columns `a`, `b` (undirected,
    * need not be symmetric or deduplicated). Ids must be of an integral
    * type (TINYINT to BIGINT; anything else throws, as the loop keys
    * vertices by a Long). Returns (`id`, `lbl`), both BIGINT, where
    * `lbl` = min node id in the component, for every id in `nodes` or
    * `edges` (a null id is dropped). */
  def run(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 30): DataFrame =
    components(nodes, edges, maxRounds)._1

  /** [[run]] and the number of rounds it took. */
  private[graft] def components(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    Seq("nodes.id" -> nodes.schema("id"), "edges.a" -> edges.schema("a"),
        "edges.b" -> edges.schema("b")).foreach { case (name, f) =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
        case t => throw new IllegalArgumentException(
          s"connected components needs integral ids, but $name is ${t.simpleString}")
      }
    }
    // a self-edge per node puts a node that is in no edge into the
    // adjacency too, so it gets lbl = id
    val adj = VertexLoop.adjacency(edges.select(col("a"), col("b"))
      .union(nodes.select(col("id"), col("id"))))
    try {
      val (out, rounds, converged) =
        VertexLoop.run(edges.sparkSession, adj, program, maxRounds, "lbl")
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxRounds rounds")
      (out, rounds)
    } finally adj.unpersist(blocking = false)
  }
}
