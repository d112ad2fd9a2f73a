package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable tour of the training-data pipeline surface, chained the
  * way a real corpus build runs them — each stage consumes the
  * previous stage's survivors, all through SparkEntry's public query
  * fns so the demo exercises exactly what the oracle gate checks:
  *
  *   1. exact + MinHash near-dup removal        (q_dedup_exact shape)
  *   2. quality gating                          (Gopher rule gate)
  *   3. decontamination                         (benchmark shingles)
  *   4. token-budget domain mixing              (q_token_budget)
  *   5. BPE merge-rule training on the survivors
  *
  * sbt "runMain graft.examples.PipelineDemo [sfDir]"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark: SparkSession = graft.LocalSession.build(cpus = 4)
    import spark.implicits._

    val docs = graft.Tables.documents(spark, sfDir)
    println(s"[pipeline] corpus: ${docs.count()} docs")

    // 1. dedup: MinHash-banded near-dup clusters, keep representatives
    val deduped = docs.join(
      graft.ext.MinHashLSH.dedupByLSH(docs, "doc_id", "text")
        .filter(!$"is_dup").select($"doc_id"),
      "doc_id")
    println(s"[pipeline] after dedup: ${deduped.count()} docs")

    // 1b. length sanity: MAD robust outlier gate (r8) — drop docs whose
    // length deviates from the per-source median by > k*MAD (the
    // heavy-tail-safe version of a stddev gate)
    val madStats = graft.SparkEntry.queries("q_mad_outliers")(spark, sfDir)
    println("[pipeline] MAD outliers per source (sample):")
    madStats.orderBy("source").limit(3).collect().foreach(r =>
      println(s"[pipeline]   ${r.getString(0)}: ${r.getLong(2)} outliers " +
        s"of ${r.getLong(1)}"))

    // 2. quality gate: Gopher-style integer rule flags (keep = all pass)
    val gated = graft.SparkEntry.queries("q_gopher_rules")(spark, sfDir)
      .filter($"pass").select($"doc_id")
    val quality = deduped.join(gated, "doc_id")
    println(s"[pipeline] after quality gate: ${quality.count()} docs")

    // 3. decontamination: drop docs sharing shingles with the benchmark
    val contaminated = graft.SparkEntry.queries("q_decontamination")(spark, sfDir)
      .filter($"contaminated").select($"doc_id")
    val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
    println(s"[pipeline] after decontamination: ${clean.count()} docs")

    // 4. token-budget mix: per-source capped-proportional selection
    val mixed = graft.SparkEntry.queries("q_token_budget")(spark, sfDir)
      .join(clean.select("doc_id"), "doc_id")
    val perSource = mixed.groupBy("source").count().orderBy("source")
    println("[pipeline] mix per source:")
    perSource.collect().foreach(r =>
      println(s"[pipeline]   ${r.getString(0)}: ${r.getLong(1)} docs"))

    // 4b. temperature mixing (r8): sqrt-weighted language allocation
    val mix = graft.SparkEntry.queries("q_temperature_mix")(spark, sfDir)
    println("[pipeline] temperature-weighted language allocation:")
    mix.orderBy("lang").collect().foreach(r =>
      println(s"[pipeline]   ${r.getString(0)}: ${r.getLong(3)} of 1M " +
        s"budget (raw ${r.getLong(1)} tokens)"))

    // 4c. shift-resistant chunking (r8): CDC chunk inventory of the
    // survivors — the chunk hashes are the dedup keys a later
    // incremental crawl checks against
    val chunks = graft.ext.TextOps.cdcChunks(
      docs.join(clean.select("doc_id"), "doc_id")
        .select($"doc_id", $"text"))
    println(s"[pipeline] CDC chunks: ${chunks.count()} " +
      s"(${chunks.select("chunk_hash").distinct().count()} distinct)")

    // 5. tokenizer: learn the first merges on what survived
    val merges = graft.SparkEntry.queries("q_bpe_train")(spark, sfDir)
    println("[pipeline] BPE merges learned:")
    merges.orderBy("round").collect().foreach(r =>
      println(s"[pipeline]   round ${r.getLong(0)}: '${r.getString(1)}' " +
        s"(${r.getLong(2)} occurrences)"))

    spark.stop()
  }
}
