package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-generated parquet star schema
  * (see TESTDATA.md / FIXTURES.md).
  *
  * Mirrors the capability of a Flink catalog table scan
  * (reference: flink-table/flink-table-planner/.../exec/batch/BatchExecTableSourceScan.java:52)
  * re-expressed as Spark DataSource V2 parquet reads: Catalyst gets full
  * pushdown (filters, column pruning, partition pruning) for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Frames memoized per (session, dir, table): every construction is
    * a parquet read (driver-side file listing + footer schema), and
    * the dsreal battery used to rebuild every referenced star frame on
    * every query call (judge r14 directive 5). A DataFrame is an
    * immutable plan bound to its session, so reuse is safe; the
    * testdata dirs are immutable, so the snapshotted file listing
    * cannot go stale. Weak-keyed on the session reference
    * ([[SessionCaches]]) so frames really do die with their session. */
  private val frameCache = SessionCaches.newRegistry[
    java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  /** The tables whose consumers do heavy per-row derivation (fact
    * joins, tokenization/shingling, vector scoring) and therefore get
    * the size-gated fan-out of [[graft.ext.FanOut]]: a single-row-group
    * parquet file is ONE scan task no matter the split config, so
    * without the fan-out those pipelines run one-core (measured r16 —
    * see FanOut's scaladoc). Dims are deliberately NOT fanned out:
    * they end up broadcast, where an extra exchange is pure cost.
    *
    * Width class per table (see FanOut): documents/embeddings feed
    * COMPUTE-BOUND consumers (shingling, vector scoring) — full
    * parallelism; lineitem feeds derivation/join/agg pipelines that
    * saturate at a few tasks (measured r16) — size-derived width. */
  private val fannedOut: Map[String, (String, Boolean)] = Map(
    "lineitem" -> ("l_orderkey", true), // sized
    "documents" -> ("doc_id", false), // compute: full width
    "embeddings" -> ("vec_id", false))

  /** [[load]] WITHOUT the fan-out — for the handful of queries whose
    * output is a raw DOUBLE aggregate over the whole table (q1_agg,
    * q_tpch_q1, q_groupingsets): repartitioning changes float
    * summation order, which moves those sums by an ulp and across the
    * oracle's rounding boundary (measured r16: exactly these three of
    * 459 failed diffcheck under the fan-out). Every other query is
    * integer-exact by repo-wide discipline (cents / micro-units) and
    * keeps the fan-out. */
  def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    SessionCaches.perSession(frameCache, spark)(
      new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
      .computeIfAbsent((dir, name + "#raw"), _ =>
        if (name == "events") buildEvents(spark, dir)
        else if (name == "embeddings") buildEmbeddings(spark, dir)
        else spark.read.parquet(s"$dir/$name.parquet"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the fan-out kill switch participates in the cache key so that
    // flipping it mid-session (specs, graft.Probe fanab) really rebuilds
    // the frame — otherwise the first build's choice would be memoized
    // and conf-off could not restore the pre-r16 plan in-session
    val fanned = fannedOut.contains(name) && graft.ext.FanOut.enabled(spark)
    SessionCaches.perSession(frameCache, spark)(
      new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
      .computeIfAbsent(
        (dir, if (fanned) name else name + "#nofan"), _ => {
        val raw =
          if (name == "events") buildEvents(spark, dir)
          else if (name == "embeddings") buildEmbeddings(spark, dir)
          else spark.read.parquet(s"$dir/$name.parquet")
        fannedOut.get(name) match {
          case Some((key, sized)) if fanned =>
            val k = org.apache.spark.sql.functions.col(key)
            if (sized) graft.ext.FanOut.fanOutSized(raw, k)
            else graft.ext.FanOut.fanOut(raw, k)
          case _ => raw
        }
      })
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Unfanned lineitem — see [[loadRaw]]: (a) the raw-DOUBLE-sum
    * queries whose oracle hash is float-summation-order sensitive
    * (q1_agg, q_tpch_q1, q_groupingsets), and (b) the r17-adjudicated
    * LIGHT consumers (one-pass aggregations and keyed joins whose
    * first operation is itself a shuffle), where a same-JVM fan-on/off
    * A/B (graft.Probe fanab) showed the fan exchange is pure
    * cost — see [[documentsUnfanned]] for the class definition and
    * OPTIMIZATION_r17.md for the per-query table. */
  def lineitemRaw(s: SparkSession, d: String): DataFrame =
    loadRaw(s, d, "lineitem")
  /** events.parquet has shipped `ts` as either TIMESTAMP(NANOS) (older
    * generators; Spark's reader rejects it unless nanos are surfaced as
    * long) or plain TIMESTAMP(MICROS). Adapt to what's on disk:
    *  - LongType (nanos-as-long): floor-truncate to micros with integer
    *    `div` (not `/` — nanos-since-epoch exceeds 2^53 and would lose
    *    precision through a double), identical to DuckDB's
    *    TIMESTAMP_NS -> TIMESTAMP cast.
    *  - any timestamp flavor: normalize to timestamp_ntz so downstream
    *    window/bucket arithmetic sees one type regardless of generator. */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  private def buildEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = s.read.parquet(s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** Unfanned documents — for LIGHT one-pass consumers (metadata-only
    * aggregations over (source, n_chars), window/agg pipelines whose
    * first operation is itself a shuffle that supersedes the fan): each
    * pays the fan-out's one-exchange floor (~0.2 s stage barrier + AQE
    * round at sf0.1) with no offsetting parallel win, because the work
    * between scan and first shuffle is a few narrow expressions. The
    * call sites were adjudicated per query with a same-JVM fan-on/off
    * A/B (graft.Probe fanab, r17 — OPTIMIZATION_r17.md carries
    * the table); compute-bound consumers (shingling, tokenization,
    * vector scoring) keep the fanned read. Result-identical: every
    * switched query is integer-exact or row-local (the float-sum
    * hazard class behind [[loadRaw]] was never fanned). */
  def documentsUnfanned(s: SparkSession, d: String): DataFrame =
    loadRaw(s, d, "documents")
  /** embedding is pinned to array<float> regardless of the on-disk
    * element width — the generator has changed physical types once
    * already (events.ts); VectorOps encodes Array[Float]. A no-op cast
    * when the file already stores float. CAVEAT: should the generator
    * ever ship array<double>, this cast silently NARROWS while the
    * DuckDB oracle keeps reading the on-disk doubles — float-sensitive
    * embedding queries (cosine/IVF/SemDeDup) would then drift from the
    * oracle instead of failing loudly. All such queries already
    * quantize similarities to integer micro-units, which absorbs
    * narrowing on the current fixtures; if a double-element file
    * appears, re-verify the quantization margin or normalize the
    * oracle side to float identically. The narrowing is WARNED loudly
    * (stderr, once per load) so a generator drift shows up in the
    * verify log instead of only as downstream hash mismatches. */
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")

  /** Unfanned embeddings — for the IVF consumers (q_embedding_ivf,
    * q_ivf_recall): they reference the corpus several times (router
    * build, posting lists, truth side, corpus counts) but each
    * reference does LIGHT per-row work on a router-gated subset, so
    * every reference pays the fan-out exchange with no offsetting
    * parallel win (measured r16, clean fresh-JVM A/B: q_ivf_recall
    * 2.59 s fanned vs 2.07 s unfanned, q_embedding_ivf 1.54 vs 1.16).
    * The PQ/SemDeDup consumers score the WHOLE corpus per probe and
    * keep the fanned read (q_pq_topk 4.40 → 0.54 s under it).
    * Result-identical: per-pair cosines are computed within a row pair
    * (partitioning cannot reorder a dot product), unlike the
    * whole-table float sums that motivated [[loadRaw]]. */
  def embeddingsUnfanned(s: SparkSession, d: String): DataFrame =
    loadRaw(s, d, "embeddings")

  private def buildEmbeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val raw = s.read.parquet(s"$d/embeddings.parquet")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw // on-disk float: cast is a no-op
      case other =>
        System.err.println(s"[graft.Tables] WARNING: embeddings.embedding " +
          s"is $other on disk, NARROWING to array<float> — the DuckDB " +
          "oracle reads the on-disk width; re-verify the micro-unit " +
          "quantization margin of cosine/IVF/SemDeDup queries")
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
    }
  }

  /** Register every table as a temp view so spark.sql queries can refer to
    * them by bare name (same convention as the DuckDB oracle). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** A named group of queries: each query has a DataFrame implementation and
  * (when SQL-expressible) a DuckDB oracle. Column names MUST match between
  * the two — the driver sorts columns by name before hashing. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
