package graft

import graft.ext.{MinHashLSH, Multimodal, TextOps, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fingerprint is invariant to token order/repetition") {
    val df = Seq((1L, "a b c"), (2L, "c b a a"), (3L, "a b d"))
      .toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("simhash16 identical for permuted text, in [0, 65536)") {
    val df = Seq((1L, "x y z w"), (2L, "w z y x"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val sh = df.select($"doc_id", TextOps.simhash16($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < 65536))
  }

  test("ConnectedComponents closes chains transitively to the component min") {
    import graft.ext.ConnectedComponents
    // 1-2, 2-3, 3-4 chain (diameter 3: needs >1 propagation round) plus
    // isolated 9 and a separate pair 7-8
    val nodes = Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (7L, 8L)).toDF("a", "b")
    val got = ConnectedComponents.run(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 9L))
    // edge endpoints missing from `nodes` still join the label universe
    // (id 1 below is edge-only) — they must not break propagation
    val got2 = ConnectedComponents.run(Seq(5L).toDF("id"),
        Seq((1L, 5L)).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 1L, 5L -> 1L))
  }

  test("ConnectedComponents differential: 10 random graphs (cycles, " +
      "stars, self-loops, duplicate edges, isolated nodes) == a " +
      "union-find oracle") {
    import graft.ext.ConnectedComponents
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(30)
      // non-contiguous shuffled ids so min-label ≠ position
      val ids = rnd.shuffle((0L until 1000L).toVector).take(n)
      val m = rnd.nextInt(2 * n)
      val edges = Vector.fill(m)(
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))) // self-loops + dups ok
      // union-find oracle, then component label = min id in component
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val minOf = ids.groupBy(find).map { case (root, members) =>
        root -> members.min
      }
      val want = ids.map(i => i -> minOf(find(i))).toMap
      val got = ConnectedComponents.run(ids.toDF("id"),
          edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed n=$n m=$m\n" +
        s"diff=${(got.toSet -- want.toSet).take(5)}")
    }
  }

  test("ConnectedComponents converges on a 200-node chain (pointer doubling)") {
    import graft.ext.ConnectedComponents
    // path 0-1-2-...-199: diameter 199. Plain hash-min would need 199
    // rounds (> maxRounds=30 -> throw); pointer doubling needs ~log2(199).
    val nodes = (0L until 200L).toDF("id")
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val got = ConnectedComponents.run(nodes, edges)
      .as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("ConnectedComponents takes integral ids of any width and rejects others") {
    import graft.ext.ConnectedComponents
    val got = ConnectedComponents.run(Seq(1, 2, 3).toDF("id"),
        Seq((2.toShort, 3.toShort)).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    // 1.2 and 1.7 would both read as vertex 1 if the ids were cast
    val e = intercept[IllegalArgumentException](ConnectedComponents.run(
      Seq(1.2, 1.7).toDF("id"), Seq((1.2, 1.7)).toDF("a", "b")))
    assert(e.getMessage.contains("nodes.id is double"))
    val e2 = intercept[IllegalArgumentException](ConnectedComponents.run(
      Seq(1L).toDF("id"), Seq((1L, "x")).toDF("a", "b")))
    assert(e2.getMessage.contains("edges.b is string"))
  }

  test("clusters merges chained near-dups that one-hop rep assignment splits") {
    // A~B and B~C near-dups; A and C share little directly. The cluster
    // form must put all three in one group keyed by the min doc id.
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "beta gamma delta epsilon eta theta"),
      (10L, "one two three four five six")).toDF("doc_id", "text")
    val got = MinHashLSH.clusters(df, "doc_id", "text", 16, 8)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(10L) == 10L)
    assert(got(2L) == 1L, "B shares bands with A")
    assert(got(3L) == 1L, "C reaches A transitively through B")
  }

  test("PrefixSum.cumBefore equals the single-task window cumsum") {
    import graft.ext.PrefixSum
    import org.apache.spark.sql.expressions.Window
    // negative values included: the per-partition subtotal must be the
    // slice SUM, not the max running prefix
    val df = (1 to 500).map(i =>
      (s"src_${i % 3}", i.toLong, (i % 7 - 3).toLong)).toDF("g", "k", "v")
    val viaPs = PrefixSum.cumBefore(spark, df, "g", "k", "v", partitions = 8)
      .orderBy("g", "k").collect().toSeq
    val w = Window.partitionBy($"g").orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, -1)
    val viaWin = df
      .withColumn("cum_before", coalesce(sum($"v").over(w), lit(0L)))
      .select($"g", $"k", $"v", $"cum_before")
      .orderBy("g", "k").collect().toSeq
    assert(viaPs == viaWin)
  }

  test("PrefixSum differential: 8 random datasets x random partition " +
      "counts == an in-memory scanLeft oracle") {
    import graft.ext.PrefixSum
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nGroups = 1 + rnd.nextInt(4)
      val rows = (0 until nGroups).flatMap { g =>
        val keys = rnd.shuffle((0L until 500L).toVector)
          .take(10 + rnd.nextInt(60)) // unique keys per group
        keys.map(k => (s"g$g", k, (rnd.nextInt(21) - 10).toLong))
      }
      val parts = 1 + rnd.nextInt(12)
      val got = PrefixSum.cumBefore(spark, rows.toDF("g", "k", "v"),
          "g", "k", "v", partitions = parts)
        .select($"g", $"k", $"cum_before").as[(String, Long, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val sorted = rs.sortBy(_._2)
        sorted.zip(sorted.scanLeft(0L)(_ + _._3))
          .map { case ((_, k, _), cum) => (g, k) -> cum }
      }
      assert(got == want,
        s"seed=$seed parts=$parts diff=${(got.toSet -- want.toSet).take(5)}")
    }
  }

  test("nearDuplicates finds the identical-set pair with jaccard 1.0") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),
      (3L, "one two three four")).toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDuplicates(df, "doc_id", "text", 8, 4, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("short docs (fewer tokens than the shingle width) are singletons, not dups") {
    import graft.ext.TextOps
    // empty shingle sets must NOT share a seed signature: unrelated
    // 1- and 2-token docs would otherwise become mutual duplicates
    val df = Seq((1L, "a b"), (2L, "x"),
      (3L, "p q r s t u"), (4L, "p q r s t u")).toDF("doc_id", "text")
    val got = MinHashLSH.dedupByLSHOf(df, "doc_id",
        TextOps.minhashOf(TextOps.shingles(col("text"), 3), 16), 16, 4)
      .select(col("doc_id"), col("rep_id")).as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 2L, "short docs stay singletons")
    assert(got(3L) == 3L && got(4L) == 3L, "real shingle dups still collapse")
  }

  test("dedupByLSHOf rejects a signature whose length disagrees with numHashes") {
    import graft.ext.TextOps
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val bad = MinHashLSH.dedupByLSHOf(df, "doc_id",
      TextOps.minhashOf(TextOps.shingles(col("text"), 2), 8), // 8 != 16
      16, 4)
    val e = intercept[Exception] { bad.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("MinHash signature must have 16")))
  }

  test("dedupByLSH groups exact near-dups under min rep") {
    val df = Seq(
      (10L, "alpha beta gamma delta"),
      (20L, "delta gamma beta alpha"),
      (30L, "one two three four")).toDF("doc_id", "text")
    val reps = MinHashLSH.dedupByLSH(df, "doc_id", "text")
      .select($"doc_id", $"rep_id").as[(Long, Long)].collect().toMap
    assert(reps(10L) == 10L && reps(20L) == 10L && reps(30L) == 30L)
  }

  test("bruteForceTopK: nearest neighbor of a vector is its near-copy") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = VectorOps.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), 1)
      .select($"vec_id").as[Long].head()
    assert(got == 1L)
  }

  test("lshBucket: identical vectors share a bucket, dims match planes") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val b = vecs.select($"vec_id",
        VectorOps.lshBucket($"embedding", 8, 64).as("b"))
      .as[(Long, String)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b(0L).length == 8 && b(0L).forall(c => c == '0' || c == '1'))
  }

  test("multimodal meta: deterministic stub decode from sha256") {
    val docs = Seq((7L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.withMedia(docs, "text")
      .select($"doc_id", $"media").as[Multimodal.MediaRow]
    val m = Multimodal.extractMeta(spark, media).collect().head
    val expSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("hello world".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(m.n_bytes == 11L && m.sha == expSha)
    val (w, h) = Multimodal.decodeStub(expSha)
    assert(m.width == w && m.height == h)
    assert(w >= 64 && w < 320 && h >= 64 && h < 320)
  }

  test("langGuess picks marker-dominant language deterministically") {
    val df = Seq(
      (1L, "the cat and the dog is here"),
      (2L, "el gato la casa los perros es"),
      (3L, "zz yy xx")).toDF("doc_id", "text")
    val g = df.select($"doc_id", TextOps.langGuess($"text").as("g"))
      .as[(Long, String)].collect().toMap
    assert(g(1L) == "en" && g(2L) == "es" && g(3L) == "und")
  }
}
