package graft.examples

import graft.ext.MinHashLSH
import org.apache.spark.sql.functions._

/** Empirical scaling probe: run the LSH dedup on 1x / 2x / 4x the
  * sf0.1 documents corpus (doc_ids shifted per replica so replicas are
  * near-duplicates of each other — the adversarial case) and print
  * wall times. Linear growth here is the evidence behind the
  * "O(n * bands)" claim in MinHashLSH.dedupByLSH's scaladoc.
  *
  * sbt "runMain graft.examples.ScalingProbe"
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.build()
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.1")
    Seq(1, 2, 4).foreach { mult =>
      val d = (0 until mult).map(i =>
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
        .reduce(_ unionAll _)
      spark.catalog.clearCache() // cold: the operator's persist counts
      val t0 = System.nanoTime()
      val n = MinHashLSH.dedupByLSH(d, "doc_id", "text").filter(col("is_dup")).count()
      println(f"mult=$mult docs=${5000 * mult} dups=$n time=${(System.nanoTime - t0) / 1e9}%.2f s")
    }
    // transitive clusters: same corpus, adds the connected-components
    // rounds on top of banding — still linear in docs (edges are
    // doc -> bucket-min only) with a small constant for the rounds
    Seq(1, 2, 4).foreach { mult =>
      val d = (0 until mult).map(i =>
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
        .reduce(_ unionAll _)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = MinHashLSH.clusters(d, "doc_id", "text").filter(col("is_dup")).count()
      println(f"clusters mult=$mult dups=$n time=${(System.nanoTime - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
