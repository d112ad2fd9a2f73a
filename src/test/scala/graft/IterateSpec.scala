package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ext.{ConnectedComponents, Materialize, VertexLoop}
import graft.operators.IteratePack
import org.apache.spark.HashPartitioner
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Counts evaluations of the reordering adjacency in the order-
  * independence tests (local mode: tasks run in this JVM). */
object AdjacencyEvaluations { val count = new AtomicInteger }

/** graft.ext.VertexLoop, the co-partitioned vertex loop behind
  * q_pagerank, q_bfs_levels and ConnectedComponents (q_dedup_clusters);
  * reference DeltaIteration.java, SURVEY §2.13 iterations row.
  */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `n` once the asynchronous listener bus has delivered every event
    * posted so far. */
  private def quiesce(n: AtomicInteger): Int = {
    GraftSqlBridge.awaitListeners(spark)
    n.get()
  }

  /** Counts the jobs of job group `group` while a [[withJobCount]] body
    * runs. */
  private final class JobCount(group: String) {
    private val jobs = new AtomicInteger
    val listener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet(): Unit
    }

    /** `body`'s result and the jobs it ran; asserts that it leaves
      * exactly one new persisted RDD, the final round's pin. */
    def apply[A](body: => A): (A, Int) = {
      val sc = spark.sparkContext
      val before = quiesce(jobs)
      val pinsBefore = sc.getPersistentRDDs.keySet
      val out = body
      val added = sc.getPersistentRDDs.keySet -- pinsBefore
      assert(added.size == 1, s"expected only the final round pinned, " +
        s"found ${added.size} persisted RDDs (adjacency or a superseded " +
        "round leaked)")
      (out, quiesce(jobs) - before)
    }
  }

  private def withJobCount(group: String)(body: JobCount => Unit): Unit = {
    val sc = spark.sparkContext
    val count = new JobCount(group)
    sc.addSparkListener(count.listener)
    sc.setJobGroup(group, "vertex loop job cadence")
    try body(count) finally {
      sc.clearJobGroup()
      sc.removeSparkListener(count.listener)
    }
  }

  test("vertex loop cadence: q_bfs_levels and q_pagerank run exactly " +
      "one job per round plus a fixed set-up, and keep only the final " +
      "round pinned") {
    withJobCount("vertex-loop-cadence") { jobsOf =>
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
    }
  }

  test("connected components cadence: one job per round, only the final " +
      "round pinned") {
    val sp = spark
    import sp.implicits._
    // a 64-node path (shuffled ids) takes several pointer-doubling
    // rounds; local frames, so building the adjacency plans no exchange
    // and the set-up runs no job of its own: round 1's job builds it
    val ids = new scala.util.Random(5).shuffle((0L until 64L).toVector)
    val nodes = ids.toDF("id")
    val edges = ids.zip(ids.tail).toDF("a", "b")
    withJobCount("cc-cadence") { jobsOf =>
      val ((cc, rounds), jobs) =
        jobsOf(ConnectedComponents.components(nodes, edges, 30))
      assert(rounds >= 3, s"a 64-path converged in $rounds rounds")
      assert(jobs == rounds,
        s"CC ran $jobs jobs for $rounds rounds (expected rounds)")
      assert(cc.as[(Long, Long)].collect().toSet == ids.map(_ -> 0L).toSet)
    }
  }

  /** An adjacency over `nbrs` that is NOT persisted: every round
    * recomputes every partition, and each evaluation rotates its rows
    * and flips neighbour order. */
  private def reordering(nbrs: Map[Long, Array[Long]]) =
    spark.sparkContext.parallelize(nbrs.toSeq, 3)
      .partitionBy(new HashPartitioner(4))
      .mapPartitions({ it =>
        val rows = it.toArray
        val k = AdjacencyEvaluations.count.incrementAndGet()
        val cut = if (rows.isEmpty) 0 else k % rows.length
        (rows.drop(cut) ++ rows.take(cut)).iterator.map { case (v, ns) =>
          v -> (if (k % 2 == 0) ns.reverse else ns) }
      }, preservesPartitioning = true)

  /** `prog`'s values over a [[reordering]] adjacency, checking that every
    * round recomputed its 4 partitions. */
  private def runReordered(adj: org.apache.spark.rdd.RDD[(Long, Array[Long])],
      prog: VertexLoop.Program, rounds: Int): Map[Long, Long] = {
    val before = AdjacencyEvaluations.count.get()
    val (out, ran, _) = VertexLoop.run(spark, adj, prog, rounds, "v")
    assert(AdjacencyEvaluations.count.get() - before >= ran * 4,
      "adjacency partitions were not recomputed every round")
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("vertex loop merges by key: adjacency partitions recomputed in " +
      "another row order every round give the same BFS and PageRank") {
    val rnd = new scala.util.Random(11)
    val n = 300
    // plus a separate 3-node path, which BFS from the minimum id never
    // reaches
    val edges = Seq.fill(700)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b } ++ Seq((1000L, 1001L), (1001L, 1002L))
    val nbrs: Map[Long, Array[Long]] = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).distinct.toArray }
    val adj = reordering(nbrs)

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

    assert(runReordered(adj, IteratePack.bfsProgram(seed), 50) == wantBfs)
    assert(runReordered(adj, IteratePack.pageRankProgram, 10) == rank)
  }

  test("connected components merge by key: adjacency partitions " +
      "recomputed in another row order every round give the union-find " +
      "components") {
    val rnd = new scala.util.Random(12)
    // sparse enough to leave many components, some of them long paths
    val ids = rnd.shuffle((0L until 2000L).toVector).take(300)
    val edges = Seq.fill(240)((ids(rnd.nextInt(300)), ids(rnd.nextInt(300))))
      .filter { case (a, b) => a != b } ++
      ids.take(40).zip(ids.slice(1, 40))
    val nbrs: Map[Long, Array[Long]] = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).distinct.toArray }
    val parent = scala.collection.mutable.Map(nbrs.keys.map(v => v -> v).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val minOf = nbrs.keys.groupBy(find).map { case (r, vs) => r -> vs.min }
    val want = nbrs.keys.map(v => v -> minOf(find(v))).toMap
    assert(want.values.toSet.size > 10, "expected many components")
    assert(runReordered(reordering(nbrs), ConnectedComponents.program, 30) ==
      want)
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

}
