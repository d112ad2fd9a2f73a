package graft

import graft.ext.{JaccardJoin, TextOps}
import graft.operators.Salting
import graft.streaming.ChangelogJoin
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-technique tests: bucketed co-located joins, salted skew joins,
  * changelog two-sided join. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("SampleBudget.modulus caps the expected recall-probe sample at " +
      "the absolute budget for ANY corpus size") {
    import graft.ext.SampleBudget.modulus
    // expected sample = n / modulus; must never exceed the budget
    for (n <- Seq(0L, 1L, 100L, 255L, 256L, 257L, 10000L, 1000000000L,
        100000000000L)) {
      val m = modulus(n, 256L)
      assert(m >= 1, s"n=$n")
      assert(n.toDouble / m <= 256.0, s"n=$n m=$m sample=${n.toDouble / m}")
      // and it never over-shrinks: one step coarser would break budget
      if (n > 256) assert(n.toDouble / (m - 1) > 256.0, s"n=$n m=$m")
    }
    // the sf0.01 fixtures reproduce the historical fractions exactly
    assert(modulus(500L, 256L) == 2L) // semdedup_recall: the old 50%
    assert(modulus(500L, 128L) == 4L) // lsh_recall: the old 25%
  }

  test("bucketed tables co-locate: join plan has no shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.lineitem(spark, TestSpark.sf)
        .write.mode("overwrite").bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucketed")
      Tables.orders(spark, TestSpark.sf)
        .write.mode("overwrite").bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("o_bucketed")
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").agg(sum($"l_quantity").as("q"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the join itself must not re-shuffle its bucketed inputs: the only
      // allowed exchange is the one ABOVE the join for the groupBy
      val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin").last
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinPart.contains("Exchange hashpartitioning(o_orderkey"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("JaccardJoin: hot grams generate no candidate pairs (prefix filter)") {
    // 200 docs share the stop-bigram "of the" but are otherwise unique:
    // a naive inverted-index self-join makes 200*199/2 = 19900 pairs out
    // of that one gram. Prefix filtering must keep candidates ~0 because
    // the hot gram sorts last (highest df) in every doc's gram order.
    val docs = (1 to 200).map { i =>
      (i.toLong, "s", Seq("of the", s"uniq_a_$i", s"uniq_b_$i", s"uniq_c_$i"))
    }.toDF("doc_id", "source", "grams")
    val nCand = JaccardJoin.candidates(docs, "doc_id", "source", "grams", 0.6)
      .count()
    assert(nCand == 0, s"expected 0 candidates from hot-gram corpus, got $nCand")
    // and a genuine near-dup pair IS still found, exactly
    val withDup = docs.union(Seq(
      (900L, "s", Seq("x y", "y z", "z w", "w v")),
      (901L, "s", Seq("x y", "y z", "z w", "q r"))
    ).toDF("doc_id", "source", "grams"))
    val pairs = JaccardJoin.selfJoin(withDup, "doc_id", "source", "grams", 0.6)
      .select($"id1", $"id2", $"jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((900L, 901L, 0.6))) // |∩|=3, |∪|=5
  }

  test("cluster edges stay O(n*bands) on a template-heavy corpus") {
    import graft.ext.MinHashLSH
    // 100 identical docs (one mega-bucket per band — the template-heavy
    // web-corpus shape) + 50 unique docs. The in-bucket CLIQUE would be
    // 100*99/2 = 4950 pairs; bucket-min edges must stay <= n * bands.
    val docs = ((1 to 100).map(i =>
        (i.toLong, "all the same template text here body")) ++
      (101 to 150).map(i =>
        (i.toLong, s"unique_${i}_a unique_${i}_b unique_${i}_c unique_${i}_d")))
      .toDF("doc_id", "text")
    val bands = 4
    val nEdges = MinHashLSH.bucketMinEdges(docs, "doc_id", "text", 16, bands)
      .count()
    assert(nEdges <= 150L * bands,
      s"edge count $nEdges exceeds the n*bands bound ${150 * bands}")
    // and the clustering over those edges is still exact: one cluster of
    // 100 under rep 1, singletons elsewhere
    val cl = MinHashLSH.clusters(docs, "doc_id", "text", 16, bands)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert((1 to 100).forall(i => cl(i.toLong) == 1L))
    assert((101 to 150).forall(i => cl(i.toLong) == i.toLong))
  }

  test("simhashBandPairs equals brute-force all-pairs hd<=3") {
    val docs = (1 to 120).map { i =>
      // sketches clustered so some pairs are within hd 3 and most are not
      val sh = ((i % 7) * 9377 + (i % 3)) & 0xFFFF
      (i.toLong, s"src${i % 2}", sh.toLong)
    }.toDF("doc_id", "source", "sh")
    val banded = TextOps.simhashBandPairs(docs, "doc_id", "source", "sh")
      .select($"id1", $"id2", $"hd").as[(Long, Long, Int)].collect().toSet
    import graft.functions.HammingDistance.hamming
    val brute = docs.as("a").join(docs.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        hamming(col("a.sh"), col("b.sh")).as("hd"))
      .filter($"hd" <= 3).as[(Long, Long, Int)].collect().toSet
    assert(banded == brute && brute.nonEmpty)
  }

  test("salted join equals the plain join on skewed data") {
    // one hot key (90% of rows) + a tail
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong))
      .toDF("k", "uid")
    val small = Seq((1L, "hot"), (950L, "cold")).toDF("k2", "name")
    val plain = big.join(small, $"k" === $"k2").select($"uid", $"name")
    val salted = Salting.saltedJoin(big, small, $"k", $"k2", $"uid", 8)
      .select($"uid", $"name")
    assert(salted.collect().toSet == plain.collect().toSet)
    assert(salted.count() == 901)
  }

  test("ChangelogJoin.leftOuter pads, retracts padding on match, restores on unmatch") {
    val lIn = MemoryStream[(String, Long, String)]
    val rIn = MemoryStream[(String, Long, String)]
    val joined = ChangelogJoin.leftOuter(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3)
      .map(d => (d.row_kind, d.left._3, d.right.map(_._3).getOrElse("NULL")))
      .toDF("kind", "l", "r")
    val q = joined.writeStream.format("memory").queryName("cloj")
      .outputMode("update").start()
    lIn.addData(("+I", 1L, "l1"))
    q.processAllAvailable() // -> +I (l1, NULL)
    rIn.addData(("+I", 1L, "r1"))
    q.processAllAvailable() // -> -D (l1, NULL), +I (l1, r1)
    rIn.addData(("-D", 1L, "r1"))
    q.processAllAvailable() // -> -D (l1, r1), +I (l1, NULL)
    q.stop()
    val got = spark.table("cloj").as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("+I", "l1", "NULL"),
      ("-D", "l1", "NULL"), ("+I", "l1", "r1"),
      ("-D", "l1", "r1"), ("+I", "l1", "NULL")))
  }

  test("ChangelogJoin.fullOuter: both-side padding lifecycle") {
    val lIn = MemoryStream[(String, Long, String)]
    val rIn = MemoryStream[(String, Long, String)]
    val joined = ChangelogJoin.fullOuter(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3)
      .map(d => (d.row_kind,
        d.left.map(_._3).getOrElse("NULL"), d.right.map(_._3).getOrElse("NULL")))
      .toDF("kind", "l", "r")
    val q = joined.writeStream.format("memory").queryName("cfoj")
      .outputMode("update").start()
    rIn.addData(("+I", 1L, "r1")) // unmatched right -> padded
    q.processAllAvailable()
    lIn.addData(("+I", 1L, "l1")) // retract right padding, emit pair
    q.processAllAvailable()
    lIn.addData(("-D", 1L, "l1")) // retract pair, restore right padding
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cfoj").as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("+I", "NULL", "r1"),
      ("-D", "NULL", "r1"), ("+I", "l1", "r1"),
      ("-D", "l1", "r1"), ("+I", "NULL", "r1")))
  }

  test("ChangelogJoin.rightOuter mirrors leftOuter with sides swapped") {
    val lIn = MemoryStream[(String, Long, String)]
    val rIn = MemoryStream[(String, Long, String)]
    val joined = ChangelogJoin.rightOuter(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3)
      .map(d => (d.row_kind, d.left.map(_._3).getOrElse("NULL"), d.right._3))
      .toDF("kind", "l", "r")
    val q = joined.writeStream.format("memory").queryName("croj")
      .outputMode("update").start()
    rIn.addData(("+I", 1L, "r1"))
    q.processAllAvailable() // unmatched right -> +I (NULL, r1)
    lIn.addData(("+I", 1L, "l1"))
    q.processAllAvailable() // -D (NULL, r1), +I (l1, r1)
    lIn.addData(("-D", 1L, "l1"))
    q.processAllAvailable() // -D (l1, r1), +I (NULL, r1)
    q.stop()
    val got = spark.table("croj").as[(String, String, String)].collect().toSeq
    assert(got == Seq(
      ("+I", "NULL", "r1"),
      ("-D", "NULL", "r1"), ("+I", "l1", "r1"),
      ("-D", "l1", "r1"), ("+I", "NULL", "r1")))
  }

  test("ChangelogJoin applies a key's batch rows in caller-supplied seq order") {
    val lIn = MemoryStream[(String, Long, String, Long)] // (kind, key, payload, seq)
    val rIn = MemoryStream[(String, Long, String, Long)]
    val joined = ChangelogJoin.inner(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3, _._4, _._4)
      .map(d => (d.row_kind, d.left._3, d.right._3))
      .toDF("kind", "l", "r")
    val q = joined.writeStream.format("memory").queryName("cseq")
      .outputMode("update").start()
    rIn.addData(("+I", 1L, "r1", 0L))
    q.processAllAvailable()
    // +I and its -D land in ONE batch: seq order must apply insert first
    lIn.addData(("-D", 1L, "l1", 2L), ("+I", 1L, "l1", 1L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cseq").as[(String, String, String)].collect().toSeq
    assert(got == Seq(("+I", "l1", "r1"), ("-D", "l1", "r1")))
  }

  test("ChangelogJoin emits +I on match and -D on retraction") {
    val lIn = MemoryStream[(String, Long, String)] // (kind, key, payload)
    val rIn = MemoryStream[(String, Long, String)]
    val joined = ChangelogJoin.inner(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3)
      .map(d => (d.row_kind, d.left._3, d.right._3))
      .toDF("kind", "l", "r")
    val q = joined.writeStream.format("memory").queryName("clj")
      .outputMode("update").start()
    lIn.addData(("+I", 1L, "l1"))
    q.processAllAvailable()
    rIn.addData(("+I", 1L, "r1")) // match -> +I (l1, r1)
    q.processAllAvailable()
    lIn.addData(("-D", 1L, "l1")) // retract -> -D (l1, r1)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("clj").as[(String, String, String)].collect().toSeq
    assert(got == Seq(("+I", "l1", "r1"), ("-D", "l1", "r1")))
  }

  test("ChangelogJoin.semi: left rows live across right 0<->1 transitions only") {
    val lIn = MemoryStream[(String, Long, String)]
    val rIn = MemoryStream[(String, Long, String)]
    val joined = ChangelogJoin.semi(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3)
      .map(d => (d.row_kind, d.left._3))
      .toDF("kind", "l")
    val q = joined.writeStream.format("memory").queryName("clsemi")
      .outputMode("update").start()
    lIn.addData(("+I", 1L, "l1")) // no right match -> silent
    q.processAllAvailable()
    rIn.addData(("+I", 1L, "r1")) // 0->1: emit +I l1
    q.processAllAvailable()
    rIn.addData(("+I", 1L, "r2")) // 1->2: NOTHING
    q.processAllAvailable()
    rIn.addData(("-D", 1L, "r2")) // 2->1: NOTHING
    q.processAllAvailable()
    lIn.addData(("+I", 1L, "l2")) // arrives matched -> +I l2
    q.processAllAvailable()
    lIn.addData(("-D", 1L, "l2")) // retract while matched -> -D l2
    q.processAllAvailable()
    rIn.addData(("-D", 1L, "r1")) // 1->0: -D l1
    q.processAllAvailable()
    q.stop()
    val got = spark.table("clsemi").as[(String, String)].collect().toSeq
    assert(got == Seq(("+I", "l1"), ("+I", "l2"), ("-D", "l2"), ("-D", "l1")))
  }

  test("ChangelogJoin.anti: emit while unmatched; allowlist retraction re-emits") {
    val lIn = MemoryStream[(String, Long, String)]
    val rIn = MemoryStream[(String, Long, String)]
    val joined = ChangelogJoin.anti(lIn.toDS(), rIn.toDS())(
      _._2, _._1, _._3, _._2, _._1, _._3)
      .map(d => (d.row_kind, d.left._3))
      .toDF("kind", "l")
    val q = joined.writeStream.format("memory").queryName("clanti")
      .outputMode("update").start()
    lIn.addData(("+I", 1L, "l1")) // unmatched -> +I l1
    q.processAllAvailable()
    rIn.addData(("+I", 1L, "r1")) // 0->1: retract l1
    q.processAllAvailable()
    lIn.addData(("+I", 1L, "l2")) // arrives matched -> silent
    q.processAllAvailable()
    rIn.addData(("-D", 1L, "r1")) // 1->0: re-emit both lefts
    q.processAllAvailable()
    q.stop()
    val got = spark.table("clanti").as[(String, String)].collect().toSeq
    assert(got.take(2) == Seq(("+I", "l1"), ("-D", "l1")))
    assert(got.drop(2).toSet == Set(("+I", "l1"), ("+I", "l2")))
  }

  test("PrefixSum handles 10k distinct groups (no driver-side subtotal scan)") {
    import graft.ext.PrefixSum
    import org.apache.spark.sql.expressions.Window
    // 10k groups x 5 rows: the old implementation collect()ed the
    // (partitions x groups) subtotal table to the driver; the windowed
    // form keeps it distributed. Verify exact equality with the
    // single-task window cumsum on the full output.
    val df = (0 until 50000).map { i =>
      (s"g_${i % 10000}", (i / 10000).toLong, (i % 11 - 5).toLong)
    }.toDF("g", "k", "v")
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

  test("reliable checkpoint mode: iterative ops survive with checkpoint()") {
    import graft.ext.{ConnectedComponents, Materialize, PrefixSum}
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Materialize.ReliableConf, "true")
    try {
      // CC over a chain: exercises a pin per iteration round
      val nodes = (0L until 50L).toDF("id")
      val edges = (0L until 49L).map(i => (i, i + 1)).toDF("a", "b")
      val cc = ConnectedComponents.run(nodes, edges)
        .as[(Long, Long)].collect()
      assert(cc.length == 50 && cc.forall(_._2 == 0L))
      // PrefixSum: exercises the placement-pinning checkpoint
      val df = (1 to 100).map(i => ("s", i.toLong, 1L)).toDF("g", "k", "v")
      val ps = PrefixSum.cumBefore(spark, df, "g", "k", "v", partitions = 4)
        .select($"k", $"cum_before").as[(Long, Long)].collect().toMap
      assert((1 to 100).forall(i => ps(i.toLong) == i - 1L))
      // and the checkpoint dir actually received reliable checkpoints
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "expected reliable checkpoint files under the dir")
    } finally {
      spark.conf.set(Materialize.ReliableConf, "false")
    }
  }

  test("LineDedup collapses a boilerplate line corpus-wide, keeps unique text") {
    import graft.ext.LineDedup
    // 100 docs that are nothing but the same 10-token boilerplate line,
    // plus 20 unique docs. The winner groupBy must collapse the hot
    // line map-side (one winner row), and reconstruction must keep the
    // boilerplate ONLY in the lowest-id doc.
    val boiler = "subscribe to our newsletter for updates every single day"
    val docs = ((1 to 100).map(i => (i.toLong, boiler)) ++
      (101 to 120).map(i => (i.toLong,
        s"unique_${i}_a unique_${i}_b unique_${i}_c")))
      .toDF("doc_id", "text")
    val out = LineDedup.dedup(docs, "doc_id", "text").cache()
    val byId = out.select($"doc_id", $"n_kept", $"kept_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1L) == (1L, boiler))
    assert((2 to 100).forall(i => byId(i.toLong) == (0L, "")))
    assert((101 to 120).forall(i =>
      byId(i.toLong) == (1L, s"unique_${i}_a unique_${i}_b unique_${i}_c")))
    out.unpersist()
  }

  test("semDedup collapses exact-duplicate groups, never across clusters") {
    import graft.ext.VectorOps
    // 3 orthogonal-ish "semantic clusters" of 10 EXACT copies each
    // (identical vectors share a sign-LSH cell by construction, so the
    // in-cluster join must collapse each group to its min id), plus 5
    // far-apart singletons that must survive untouched.
    def vec(hot: Int, seed: Int): Seq[Double] =
      (0 until 64).map(i => if (i == hot) 1.0
        else if (i == (hot + 7 * seed) % 64 && seed > 0) 0.05 else 0.0)
    val rows =
      (0 until 10).map(i => (i.toLong, vec(3, 0))) ++
      (10 until 20).map(i => (i.toLong, vec(21, 0))) ++
      (20 until 30).map(i => (i.toLong, vec(47, 0))) ++
      (30 until 35).map(i => (i.toLong, vec((i - 30) * 11 + 1, i - 29)))
    val corpus = rows.toDF("vec_id", "embedding")
    val out = VectorOps.semDedup(corpus, threshold = 0.95).cache()
    val reps = out.select($"vec_id", $"rep_id").as[(Long, Long)]
      .collect().toMap
    // each copy-group collapses to its min id
    assert((0 until 10).forall(i => reps(i.toLong) == 0L))
    assert((10 until 20).forall(i => reps(i.toLong) == 10L))
    assert((20 until 30).forall(i => reps(i.toLong) == 20L))
    // singletons keep themselves — no cross-cluster merges
    assert((30 until 35).forall(i => reps(i.toLong) == i.toLong))
    out.unpersist()
  }
}
