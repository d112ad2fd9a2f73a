package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ext.{Iterate, Materialize, VertexLoop}
import graft.operators.IteratePack
import org.apache.spark.HashPartitioner
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Counts evaluations of the reordering adjacency in the order-
  * independence test (local mode: tasks run in this JVM). */
object AdjacencyEvaluations { val count = new AtomicInteger }

/** graft.ext.Iterate (bounded DataFrame iteration) and graft.ext.VertexLoop
  * (the co-partitioned vertex loop behind q_pagerank / q_bfs_levels);
  * reference IterativeStream.java / IterativeDataSet.java /
  * DeltaIteration.java, SURVEY §2.13 iterations row.
  */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `n` once the asynchronous listener bus has delivered every event
    * posted so far. */
  private def quiesce(n: AtomicInteger): Int = {
    GraftSqlBridge.awaitListeners(spark)
    n.get()
  }

  test("vertex loop cadence: q_bfs_levels and q_pagerank run exactly " +
      "one job per round plus a fixed set-up, and keep only the final " +
      "round pinned") {
    val sc = spark.sparkContext
    val group = "vertex-loop-cadence"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "vertex loop job cadence")
    def jobsOf[A](body: => A): (A, Int) = {
      val before = quiesce(jobs)
      val pinsBefore = sc.getPersistentRDDs.keySet
      val out = body
      val added = sc.getPersistentRDDs.keySet -- pinsBefore
      assert(added.size == 1, s"expected only the final round pinned, " +
        s"found ${added.size} persisted RDDs (adjacency or a superseded " +
        "round leaked)")
      (out, quiesce(jobs) - before)
    }
    try {
      // the first read of a parquet table infers its schema with a job
      // of its own; the session memoizes the frame, so take that first
      Tables.lineitemRaw(spark, TestSpark.sf)
      // set-up = 1 job: the seed (minimum node id), which also builds
      // and persists the adjacency
      val ((bfs, bfsRounds, converged), bfsJobs) =
        jobsOf(IteratePack.bfsLevels(spark, TestSpark.sf))
      assert(converged && bfsRounds >= 3, s"BFS ran $bfsRounds rounds")
      assert(bfsJobs == bfsRounds + 1,
        s"BFS ran $bfsJobs jobs for $bfsRounds rounds (expected rounds + 1)")
      // set-up = 0 jobs: round 1's job builds the adjacency
      val ((pr, prRounds, _), prJobs) =
        jobsOf(IteratePack.pageRank(spark, TestSpark.sf))
      assert(prRounds == 10, s"PageRank ran $prRounds rounds")
      assert(prJobs == prRounds,
        s"PageRank ran $prJobs jobs for $prRounds rounds (expected rounds)")
      assert(bfs.count() > 0 && pr.count() > 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("vertex loop merges by key: adjacency partitions recomputed in " +
      "another row order every round give the same BFS and PageRank") {
    val sp = spark
    val rnd = new scala.util.Random(11)
    val n = 300
    // plus a separate 3-node path, which BFS from the minimum id never
    // reaches
    val edges = Seq.fill(700)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b } ++ Seq((1000L, 1001L), (1001L, 1002L))
    val nbrs: Map[Long, Array[Long]] = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).distinct.toArray }
    // NOT persisted: every round recomputes every adjacency partition,
    // and each evaluation rotates its rows and flips neighbour order
    val adj = sp.sparkContext.parallelize(nbrs.toSeq, 3)
      .partitionBy(new HashPartitioner(4))
      .mapPartitions({ it =>
        val rows = it.toArray
        val k = AdjacencyEvaluations.count.incrementAndGet()
        val cut = if (rows.isEmpty) 0 else k % rows.length
        (rows.drop(cut) ++ rows.take(cut)).iterator.map { case (v, ns) =>
          v -> (if (k % 2 == 0) ns.reverse else ns) }
      }, preservesPartitioning = true)

    // plain-Scala references
    val seed = nbrs.keys.min
    val dist = scala.collection.mutable.Map(seed -> 0L)
    var frontier = Seq(seed)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(v => nbrs(v).toSeq.map(_ -> (dist(v) + 1)))
        .filterNot { case (u, _) => dist.contains(u) }
        .groupBy(_._1).map { case (u, ds) => dist(u) = ds.head._2; u }.toSeq
    }
    val wantBfs = nbrs.keys.map(v => v -> dist.getOrElse(v, Long.MaxValue)).toMap
    var rank = nbrs.keys.map(_ -> 1000000L).toMap
    (1 to 10).foreach { _ =>
      rank = nbrs.map { case (v, ns) =>
        v -> (150000L + 17L * ns.map(u => rank(u) / nbrs(u).length).sum / 20L) }
    }

    def run(prog: VertexLoop.Program, rounds: Int) = {
      val before = AdjacencyEvaluations.count.get()
      val (out, ran, _) = VertexLoop.run(sp, adj, prog, rounds, "v")
      assert(AdjacencyEvaluations.count.get() - before >= ran * 4,
        "adjacency partitions were not recomputed every round")
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(run(IteratePack.bfsProgram(seed), 50) == wantBfs)
    assert(run(IteratePack.pageRankProgram, 10) == rank)
  }

  test("q_bfs_levels and q_pagerank give identical rows with reliable " +
      "checkpoints") {
    val sp = spark
    def rows() = Seq("q_bfs_levels", "q_pagerank").map(q =>
      SparkEntry.queries(q)(sp, TestSpark.sf).collect().map(_.toString)
        .sorted.toSeq)
    val local = rows()
    val dir = java.nio.file.Files.createTempDirectory("graft-vl-ckpt")
    sp.sparkContext.setCheckpointDir(dir.toString)
    sp.conf.set(Materialize.ReliableConf, "true")
    val reliable = try rows() finally sp.conf.set(Materialize.ReliableConf, "false")
    assert(local.forall(_.nonEmpty))
    assert(local == reliable)
    val wrote = java.nio.file.Files.walk(dir)
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "expected reliable checkpoint files under the dir")
  }

  test("loop runs exactly N rounds and threads the round number") {
    val sp = spark
    import sp.implicits._
    val init = Seq((1L, 0L), (2L, 0L)).toDF("id", "acc")
    // acc += round each round: after 12 rounds acc = 1+2+...+12 = 78.
    // 12 rounds is past the plan-doubling blowup point an unpinned
    // self-referencing loop hits (~round 10) — completing at all is
    // the lineage-cut guarantee.
    val out = Iterate.loop(init, 12) { (df, r) =>
      df.select($"id", ($"acc" + r).as("acc"))
    }
    assert(out.orderBy("id").collect().map(_.getLong(1)).toSeq ==
      Seq(78L, 78L))
  }

  test("q_bfs_levels: no per-round convergence scan — convergence is " +
      "read off the pin job's Observation (one action per round, the " +
      "ConnectedComponents contract)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val extraActions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      // the pre-r8 BFS ran an isEmpty join scan per round; any isEmpty
      // (or stray collect) during the query is the regression
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "isEmpty" || funcName == "collect")
          extraActions.incrementAndGet(): Unit
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val n = SparkEntry.queries("q_bfs_levels")(spark, TestSpark.sf).count()
      assert(n > 0)
      GraftSqlBridge.awaitListeners(spark)
      val cur = extraActions.get()
      assert(cur == 0,
        s"BFS ran $cur isEmpty/collect actions — per-round convergence " +
          "scans crept back in")
    } finally spark.listenerManager.unregister(listener)
  }

  test("loop with 0 rounds returns the (pinned) init unchanged") {
    val sp = spark
    import sp.implicits._
    val init = Seq(5L).toDF("v")
    assert(Iterate.loop(init, 0)((df, _) => df.limit(0)).count() == 1)
  }

  test("loopUntil stops at the fixpoint round with converged=true") {
    val sp = spark
    import sp.implicits._
    // v -> min(v+1, 5): fixpoint 5 reached from 1 after 4 improving
    // rounds; detected on the 5th (no change), well under the bound.
    val init = Seq(1L).toDF("v")
    val (out, rounds, converged) = Iterate.loopUntil(init, 50) { (df, _) =>
      df.select(least($"v" + 1L, lit(5L)).as("v"))
    } { (prev, next) =>
      next.as("n").join(prev.as("p"), lit(true))
        .filter($"n.v" =!= $"p.v").isEmpty
    }
    assert(converged)
    assert(rounds == 5, s"expected detection on round 5, got $rounds")
    assert(out.head.getLong(0) == 5L)
  }

  test("superseded rounds release their blocks: only the final pin " +
      "remains registered") {
    val sp = spark
    import sp.implicits._
    val before = sp.sparkContext.getPersistentRDDs.keySet
    val out = Iterate.loop(Seq(1L).toDF("v"), 6) { (df, _) =>
      df.select(($"v" + 1L).as("v"))
    }
    val added = sp.sparkContext.getPersistentRDDs.keySet -- before
    // init pin + 6 round pins ran; 6 were superseded and released
    assert(added.size == 1,
      s"expected exactly the final round's RDD to stay pinned, " +
        s"found ${added.size}")
    assert(out.head.getLong(0) == 7L)
  }

  test("smallSide: broadcast under the threshold, shuffle_hash above " +
      "it (the iterative-join size switch)") {
    val sp = spark
    import sp.implicits._
    val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val b = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "w")
    def planOf(small: org.apache.spark.sql.DataFrame) =
      small.join(b, "id").queryExecution.executedPlan.toString
    // 2 rows × 64 B is far under the default 10 MB threshold
    val smallPlan = planOf(Iterate.smallSide(a, 2))
    assert(smallPlan.contains("BroadcastHashJoin"), smallPlan)
    // an estimate that cannot fit any threshold must switch the hint
    val bigPlan = planOf(Iterate.smallSide(a, Long.MaxValue / 128))
    assert(bigPlan.contains("ShuffledHashJoin"), bigPlan)
    assert(!bigPlan.contains("BroadcastHashJoin"), bigPlan)
    // broadcast disabled entirely (-1) must also take the shuffle path
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = sp.conf.get(thrKey)
    try {
      sp.conf.set(thrKey, "-1")
      val offPlan = planOf(Iterate.smallSide(a, 2))
      assert(offPlan.contains("ShuffledHashJoin"), offPlan)
    } finally sp.conf.set(thrKey, saved)
  }

  test("q_pagerank is bit-identical under the shuffle_hash regime " +
      "(broadcast disabled): the size switch changes the plan, " +
      "never the answer") {
    val sp = spark
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = sp.conf.get(thrKey)
    val broadcastRun = SparkEntry.queries("q_pagerank")(sp, TestSpark.sf)
      .collect().map(_.toString).sorted
    val shuffleRun = try {
      sp.conf.set(thrKey, "-1")
      SparkEntry.queries("q_pagerank")(sp, TestSpark.sf)
        .collect().map(_.toString).sorted
    } finally sp.conf.set(thrKey, saved)
    assert(broadcastRun.length > 0)
    assert(broadcastRun.toSeq == shuffleRun.toSeq,
      "rank table differs between broadcast and shuffle_hash regimes")
  }

  test("loopUntil reports converged=false when the bound cuts it off") {
    val sp = spark
    import sp.implicits._
    val init = Seq(0L).toDF("v")
    val (out, rounds, converged) = Iterate.loopUntil(init, 3) { (df, _) =>
      df.select(($"v" + 1L).as("v"))
    } { (_, _) => false }
    assert(!converged && rounds == 3 && out.head.getLong(0) == 3L)
  }
}
