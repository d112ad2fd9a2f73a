package graft.ext

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * Scale posture: one round = two shuffle joins (edges x labels,
  * labels x labels) + one shuffle aggregation (min per node) — all
  * narrow-key hash shuffles, no driver-side graph. The LSH dedup
  * graphs this feeds are unions of stars (doc -> bucket
  * representative), which settle in 2-4 rounds; the log bound is the
  * insurance against adversarial chain topologies. If maxRounds is
  * hit before the fixpoint the call THROWS instead of returning
  * silently-partial clusters.
  */
object ConnectedComponents {

  /** Rounds the most recent [[run]] took to converge — diagnostics
    * only (lets the job-count spec assert "one job per round" without
    * threading a metrics object through the API). */
  @volatile var lastRunRounds: Int = 0

  /** `nodes`: one column `id`. `edges`: columns `a`, `b` (undirected,
    * need not be symmetric or deduplicated). Returns (`id`, `lbl`)
    * where `lbl` = min node id in the component. */
  def run(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    // Every round re-scans `sym`, so its partition count is a per-round
    // TASK count multiplier. Left alone it inherits the upstream
    // partitioning (e.g. the 32-wide fanned documents scan behind the
    // LSH band edges — measured r17: 33 cached partitions for a ~20k-row
    // edge table, ~70 tasks per round job on q_dedup_clusters), which is
    // pure task-launch overhead round after round. Derive the width from
    // the PLAN-estimated size instead (VertexLoop.sizedWidth) — the same
    // scale-adaptive posture as FanOut.fanOutSized: a billion-edge graph
    // still gets full width, a banding graph a handful of tasks per round.
    val symRaw = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val sym = symRaw
      .repartition(VertexLoop.sizedWidth(symRaw), col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The label universe must cover every id the edges mention: an
    // endpoint missing from `nodes` would otherwise never receive a
    // label row, its contributions would be dropped by the convergence
    // inner-join, and the loop could declare victory on wrong labels.
    // Materialize.pin (not persist): the label-of-label self-join would
    // otherwise DOUBLE the logical plan every round — exponential plan
    // strings and an OOM in explain/codegen by round ~10. Pinning cuts
    // the lineage so every round starts from a leaf. By default this is
    // a localCheckpoint (fast, executor-resident — executor loss aborts
    // the job loudly); set `graft.checkpoint.reliable=true` plus a
    // checkpoint dir for 1000-executor runs where node failures
    // mid-iteration are expected and the job must survive them.
    var labels = Materialize.pin(nodes.select(col("id"))
      .union(sym.select(col("a").as("id")))
      .distinct()
      .select(col("id"), col("id").as("lbl")))
    // One count job up front buys every round its join strategy: a
    // pinned round re-enters the plan as a bare RDD scan with default
    // (pessimistic) stats, so without a hint BOTH per-round joins
    // re-shuffle their inputs every round — including the persisted
    // edge table, whose partitioning a pin cannot carry across jobs.
    // Hinting the label table as the SMALL side (broadcast while it
    // fits, shuffle_hash beyond — Iterate.smallSide) keeps the edges
    // in place: per-round data movement drops to the min-label
    // aggregation itself. The label row count is CONSTANT across
    // rounds (the id universe), so one estimate serves the whole loop.
    val nIds = labels.count()
    // the bare pin of the CURRENT round, releasable once superseded
    // (labels itself becomes a projection over it after round 1)
    var curPin = labels
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // Candidate labels via ONE join (was two, r17): a node a's
      // candidates are (a) its neighbors' labels — propagation along
      // the graph edges — and (b) its label's label (pointer doubling,
      // halving remaining chain lengths every round). Both are label
      // lookups along an edge: (b) is exactly propagation along the
      // synthetic edge (id -> lbl(id)). Unioning those label-pointer
      // edges into the streamed side therefore computes both candidate
      // sets with a SINGLE broadcast of the label table — the previous
      // two-join form built the same broadcast twice per round (the
      // rename made the exchanges canonically different, so not even
      // ReuseExchange recovered the second build job; measured r17 in
      // the pinned subplans: 2 BroadcastExchanges per round, 0 reused).
      // The unioned streamed rows add |nodes| to |edges| — trivial.
      val viaBoth = sym
        .union(labels.toDF("a", "b")) // (id -> lbl(id)) pointer edges
        .join(Iterate.smallSide(labels.toDF("jid", "jlbl"), nIds),
          col("b") === col("jid"))
        .select(col("a").as("id"), col("jlbl").as("lbl"),
          lit(false).as("is_self"))
      // the node's own current label rides through the union tagged
      // is_self, so the SAME aggregation that computes the new label
      // also yields the previous one. Convergence is observed DURING
      // the pin job via Dataset.observe (CollectMetrics accumulates
      // sum(lbl < prev) while the checkpoint action materializes the
      // frame), so a round costs exactly ONE job — no second
      // full-table convergence scan (the pre-r8 isEmpty probe doubled
      // per-round job count and was ~13% of the whole bench sweep on
      // q_dedup_clusters).
      val obs = Observation(s"cc_round_$round")
      val nextPrev = Materialize.pin(
        viaBoth
          .union(labels.select(col("id"), col("lbl"), lit(true).as("is_self")))
          .groupBy("id").agg(min("lbl").as("lbl"),
            min(when(col("is_self"), col("lbl"))).as("prev"))
          .observe(obs, coalesce(
            sum(when(col("lbl") < col("prev"), 1L).otherwise(0L)),
            lit(0L)).as("changed")))
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      // the superseded round's blocks go NOW — GC-driven reaping lets
      // dead rounds pile up and degrade every query sharing the session
      Materialize.release(curPin)
      curPin = nextPrev
      labels = nextPrev.select(col("id"), col("lbl"))
      round += 1
    }
    sym.unpersist()
    lastRunRounds = round
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds")
    labels
  }
}
