package graft.ext

import org.apache.spark.sql.DataFrame

/** Generic bounded iteration (SURVEY.md §2.13 iterations row;
  * reference flink-streaming-java
  * .../api/datastream/IterativeStream.java and the DataSet bulk
  * iteration in flink-java .../operators/IterativeDataSet.java —
  * Flink feeds a stream/set back into itself with a termination
  * bound).
  *
  * Spark has no feedback edges, so the Spark-first re-expression is a
  * driver loop over MATERIALIZED rounds: each round's output is pinned
  * through [[Materialize.pin]] (lineage cut, eager), which is what
  * makes an iterative dataflow viable at all on Catalyst — without the
  * pin the logical plan doubles per round and explain/codegen blows up
  * around round 10. A superseded round's blocks are released
  * DETERMINISTICALLY ([[Materialize.release]]) as soon as the next
  * round is pinned — GC-driven reaping is not fast enough when many
  * iterative queries share a session (measured: leftover round blocks
  * degraded every later query in a 160-query sweep) — so steady-state
  * storage is exactly two rounds. Fault tolerance follows the
  * Materialize contract: default localCheckpoint (executor-resident,
  * loud failure on executor loss), `graft.checkpoint.reliable=true`
  * for 1000-executor runs that must survive node loss mid-iteration.
  *
  * Termination is Flink's model: a fixed max round count, optionally
  * tightened by a convergence predicate evaluated per round (the
  * DataSet API's aggregator-based convergence criterion). The
  * predicate sees (previous, current) and should be a cheap
  * distributed check (count of changed rows, not a collect of the
  * frames).
  *
  * Every round here is a fresh Catalyst plan: analysis, optimization,
  * AQE re-planning and a job per exchange, which dominates a round over
  * a small frame. Iterations that pass messages along a fixed edge set
  * (PageRank, BFS) run on [[VertexLoop]] instead — edges co-partitioned
  * once, one job per round, no per-round planning.
  */
object Iterate {

  /** Hint `df` as the SMALL side of a per-round iterative join:
    * `broadcast` while `estRows * bytesPerRow` fits the session's
    * `spark.sql.autoBroadcastJoinThreshold`, else `shuffle_hash`.
    *
    * Iterative loops can't lean on Catalyst's own size-based broadcast
    * choice: a pinned round re-enters the plan as a bare RDD scan with
    * default (= unusably pessimistic) stats, so without a hint the
    * planner would never broadcast, and with an unconditional
    * `broadcast()` a rank/frontier table that outgrows driver memory
    * (billions of nodes) would OOM the driver. This is the automatic
    * switch between the two regimes — callers pass a cheap upper-bound
    * row estimate (e.g. the label count in ConnectedComponents,
    * computed once, constant across rounds), mirroring how the
    * reference runs bulk iterations on the shuffle plane when the
    * solution set is large
    * (flink-java .../operators/IterativeDataSet.java).
    *
    * `bytesPerRow` defaults to 64: a broadcast hashed relation of two
    * BIGINT columns costs ~48-64 B/row with bucket overhead —
    * deliberately conservative so the switch to shuffle_hash fires
    * BEFORE the driver is at risk. */
  def smallSide(df: DataFrame, estRows: Long,
      bytesPerRow: Long = 64): DataFrame = {
    require(estRows >= 0, s"negative row estimate: $estRows")
    require(bytesPerRow >= 1, s"non-positive bytesPerRow: $bytesPerRow")
    val thr = org.apache.spark.sql.GraftSqlBridge
      .autoBroadcastThreshold(df.sparkSession)
    // divide, don't multiply: estRows * bytesPerRow could overflow
    if (thr > 0 && estRows <= thr / bytesPerRow)
      org.apache.spark.sql.functions.broadcast(df)
    else df.hint("shuffle_hash")
  }

  /** Run `step` for exactly `rounds` rounds. `step` receives the
    * previous round's frame and the 1-based round number.
    *
    * `pinEvery` trades pin-job overhead against plan depth: with
    * `pinEvery = k`, k consecutive steps compose lazily into ONE
    * materialization, so a 10-round loop runs 10/k jobs with plans k
    * steps deep. Keep k small (2-4): plan size is exponential in k
    * when a step references its input more than once, linear
    * otherwise. k = 1 (the default) is the pin-per-round behavior
    * convergence-checked loops need. */
  def loop(init: DataFrame, rounds: Int, pinEvery: Int = 1)
      (step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(rounds >= 0, s"negative round count: $rounds")
    require(pinEvery >= 1, s"non-positive pinEvery: $pinEvery")
    var cur = Materialize.pin(init)
    // a step/pin failure mid-loop must not leave the current round's
    // blocks stranded in the shared session until GC — release before
    // rethrowing (the release contract this loop exists to uphold)
    try {
      var r = 1
      while (r <= rounds) {
        var frame = cur
        val upTo = math.min(rounds, r + pinEvery - 1)
        while (r <= upTo) { frame = step(frame, r); r += 1 }
        val next = Materialize.pin(frame)
        Materialize.release(cur)
        cur = next
      }
      cur
    } catch { case t: Throwable => Materialize.release(cur); throw t }
  }

  /** Run `step` until `converged(prev, next)` or `maxRounds`. Returns
    * (result, roundsRun, converged) — callers that require the
    * fixpoint can assert on the flag (the ConnectedComponents
    * contract: hitting the bound silently would mean wrong answers).
    */
  def loopUntil(init: DataFrame, maxRounds: Int)
      (step: (DataFrame, Int) => DataFrame)
      (converged: (DataFrame, DataFrame) => Boolean)
      : (DataFrame, Int, Boolean) = {
    require(maxRounds >= 1, s"non-positive round bound: $maxRounds")
    var cur = Materialize.pin(init)
    // release in-flight pins (cur, and next if already pinned) before
    // rethrowing — see loop()
    try {
      var r = 0
      while (r < maxRounds) {
        r += 1
        val next = Materialize.pin(step(cur, r))
        val done =
          try converged(cur, next) // before releasing prev: it reads both
          catch { case t: Throwable => Materialize.release(next); throw t }
        Materialize.release(cur)
        cur = next
        if (done) return (cur, r, true)
      }
      (cur, r, false)
    } catch { case t: Throwable => Materialize.release(cur); throw t }
  }
}
