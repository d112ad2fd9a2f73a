package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection (north-star ext op).
  *
  * Pipeline: per-doc signature (narrow, no shuffle) -> explode band keys
  * -> self-join on (band, key) for candidates -> exact Jaccard
  * verification restricted to candidates.
  *
  * 100 TB posture: the only shuffles are (a) the band-key self-join,
  * whose fan-in per bucket is bounded by collision rate (bands * rows
  * tuned so unrelated docs almost never collide), and (b) the token join
  * for verification, which touches candidate docs only — never the full
  * corpus cross product. Both are standard LSH scaling behavior
  * (Broder; Leskovec et al., Mining of Massive Datasets ch.3).
  */
object MinHashLSH {

  /** LSH-bucket deduplication: assign each doc the smallest doc id it
    * shares any band bucket with (its cluster representative) and flag
    * non-representatives as duplicates. O(n * bands) — no pairwise
    * output, so it stays linear even on corpora where the number of
    * true near-dup PAIRS is quadratic (which is exactly what happens on
    * template-heavy web/training data at 100 TB).
    * Output: doc_id, rep_id, is_dup. */
  def dedupByLSH(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    dedupByLSHOf(docs, idCol,
      TextOps.minhashSignature(col(textCol), numHashes), numHashes, bands)

  /** [[dedupByLSH]] with a caller-supplied MinHash signature column —
    * e.g. `TextOps.minhashOf(TextOps.shingles(col("text"), 3), 16)`
    * for the canonical Broder w-shingle form (order-sensitive), or a
    * signature over any other element set. */
  def dedupByLSHOf(docs: DataFrame, idCol: String, sig: org.apache.spark.sql.Column,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    // Fail fast on a signature whose length disagrees with numHashes:
    // out-of-range band slices would md5("") identically for EVERY doc,
    // silently collapsing the corpus into one duplicate cluster.
    val checked = when(sig.isNull || size(sig) === numHashes, sig)
      .otherwise(raise_error(concat(
        lit(s"MinHash signature must have $numHashes elements, got "),
        size(sig).cast("string"))))
    // Single pass over the banded rows: the per-bucket minimum is a
    // window aggregate (partition by bucket), not a groupBy + re-join —
    // so the md5-heavy signature expression is evaluated exactly once
    // and nothing needs to be cached (an earlier persist here leaked
    // MEMORY_AND_DISK blocks for the rest of the session). Bucket
    // partitions are collision-bounded, so the window never sees a
    // skewed partition the groupBy would not have seen.
    // posexplode drops null-signature docs (empty element sets) from
    // banding; the left join below restores them as singletons.
    val banded = docs.select(
        col(idCol).as("doc_id"),
        posexplode(TextOps.bandKeys(checked, bands, rows))
          .as(Seq("band", "bkey")))
    val bucketWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bkey"))
    val rep = banded
      .withColumn("mid", min(col("doc_id")).over(bucketWindow))
      .groupBy(col("doc_id"))
      .agg(min(col("mid")).as("rep_id"))
    docs.select(col(idCol).as("doc_id"))
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      .withColumn("is_dup", col("rep_id") < col("doc_id"))
  }

  /** Transitive duplicate CLUSTERS: like [[dedupByLSH]], but closes the
    * bucket graph under connectivity — if A shares a bucket with B and
    * B with C, all three land in one cluster even when A and C never
    * collide (dedupByLSH's one-hop rep assignment would split them).
    * Edges are doc -> bucket-minimum only (O(n * bands), never the
    * in-bucket clique), then [[ConnectedComponents]] resolves the
    * transitive closure. `idCol` must be of an integral type (see
    * [[ConnectedComponents.run]]). Output: doc_id, cluster_id (= min doc
    * id in the cluster; both BIGINT), is_dup. */
  def clusters(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame =
    ConnectedComponents.run(docs.select(col(idCol).as("id")),
        bucketMinEdges(docs, idCol, textCol, numHashes, bands))
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("lbl") < col("id")).as("is_dup"))

  /** The candidate edge set behind [[clusters]]: each doc connects to
    * the MINIMUM doc id of every band bucket it falls in — at most
    * n * bands edges regardless of bucket sizes (a 10^6-doc template
    * bucket contributes 10^6 - 1 edges, not the 10^12-row clique), with
    * connectivity identical to the full in-bucket clique graph. */
  def bucketMinEdges(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    // Same single-pass window shape as dedupByLSHOf: per-bucket minimum
    // via a window over (band, bkey), no cache, signature evaluated once.
    val banded = docs.select(
        col(idCol).as("doc_id"),
        posexplode(TextOps.bandKeys(
          TextOps.minhashSignature(col(textCol), numHashes), bands, rows))
          .as(Seq("band", "bkey")))
    val bucketWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bkey"))
    banded
      .withColumn("mid", min(col("doc_id")).over(bucketWindow))
      .filter(col("doc_id") =!= col("mid"))
      .select(col("doc_id").as("a"), col("mid").as("b"))
      .distinct()
  }

  /** Candidate near-duplicate pairs with exact Jaccard >= threshold.
    * Output: id1, id2 (id1 < id2), jaccard. Use for bounded candidate
    * sets; for corpus-scale dedup prefer dedupByLSH (see above). */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands

    val sigs = docs.select(
      col(idCol).as("id"),
      TextOps.distinctTokens(col(textCol)).as("toks"),
      TextOps.bandKeys(
        TextOps.minhashSignature(col(textCol), numHashes), bands, rows).as("bkeys"))

    val banded = sigs.select(col("id"),
        posexplode(col("bkeys")).as(Seq("band", "bkey")))

    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()

    val toks = sigs.select(col("id"), explode(col("toks")).as("tok"))
    val sizes = sigs.select(col("id"), size(col("toks")).as("n"))

    val inter = cand
      .join(toks.as("ta"), col("id1") === col("ta.id"))
      .join(toks.as("tb"),
        col("id2") === col("tb.id") && col("ta.tok") === col("tb.tok"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("i"))

    inter
      .join(sizes.as("s1"), col("id1") === col("s1.id"))
      .join(sizes.as("s2"), col("id2") === col("s2.id"))
      .select(col("id1"), col("id2"),
        (col("i") * lit(1.0) / (col("s1.n") + col("s2.n") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
