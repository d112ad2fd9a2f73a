package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The `batch` workload: closed-loop passes over a fixed query set, one
  * query at a time, each query built through its `SparkEntry.queries`
  * entry and timed up to the end of `.count()`. */
object Batch {

  /** Analyst traffic: TPC-H q5 plus TPC-DS q9 and q92 in both spellings,
    * the SQL text (`q_sqltext_*`) and the hand-written DataFrame twin
    * (`q_dsreal_*`). Catalyst analysis and optimization, the injected
    * graft rules (bank fusion fires on q9, the correlated-aggregate merge
    * on q92) and shuffle joins over light consumers of the `lineitem` read
    * do most of the work. The pairs are among the slowest text/twin ratios
    * graft has recorded. */
  val olap: Seq[String] = "q_tpch_q5" +:
    Seq("q9", "q92").flatMap(n => Seq(s"q_sqltext_$n", s"q_dsreal_$n"))

  /** LLM-data and iterative traffic: a driver-looped graph iteration,
    * compute-heavy reads (shingling, n-gram hashing) and a CDC
    * encode-write-read roundtrip. Catalyst rules do little here. */
  val pipeline: Seq[String] = Seq("q_bfs_levels", "q_minhash_lsh",
    "q_decontamination", "q_debezium_source")

  /** The `batch` workload runs both classes in one shuffled pass; the
    * report keeps a subtotal per class. */
  val classOf: Map[String, String] =
    (olap.map(_ -> "olap") ++ pipeline.map(_ -> "pipeline")).toMap

  /** One executed query: its span, or the error it failed with. */
  final case class Sample(query: String, seconds: Double, error: Option[String])

  final case class Pass(span: Span, samples: Seq[Sample]) {
    def total: Double = samples.map(_.seconds).sum
  }

  /** Drops cached frames and pinned blocks a query left behind, so no
    * query runs against the block-manager state of its predecessor. Runs
    * between queries, outside the query span. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A warm pass takes about this long on a 4-core x86 box. */
  val NominalPassS = 3.3
  /** Count passes after the check pass before timing. The set still
    * speeds up slowly after it (JIT of the iterative and UDF paths); the
    * fixed count keeps every run on the same stretch of the curve. */
  val Warmups = 1

  def run(ctx: Ctx, names: Seq[String]): Map[String, Any] = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed)
    val passes = ArrayBuffer.empty[Pass]
    val checkDir = s"${ctx.outDir}/check"
    val oracle = graft.SparkEntry.oracleSql

    /** One pass in a seeded order. Checking writes each result for the
      * oracle comparison instead of counting it; it is not timed. */
    def pass(check: Boolean = false): Pass = {
      val order = rng.shuffle(names)
      val (samples, span) = ctx.spans.timed("pass") {
        order.map { name =>
          val (err, s) = ctx.spans.timed("query", Map("query" -> name)) {
            try {
              val (df, _) = ctx.spans.timed("build") {
                graft.SparkEntry.queries(name)(spark, ctx.dataDir)
              }
              if (check) df.write.mode("overwrite").parquet(s"$checkDir/$name")
              else df.count()
              ctx.tracer.foreach(_.recordBuilt(df.queryExecution))
              None
            } catch { case e: Throwable => Some(Ctx.describe(e)) }
          }
          isolate(spark)
          ctx.attempt(err.map(e => s"$name: $e"))
          Sample(name, s.dur / 1000.0, err)
        }
      }
      val p = Pass(span, samples)
      passes += p
      p
    }

    var kinds = Seq.empty[String]
    val (_, workloadSpan) = ctx.spans.timed("workload", Map("workload" -> ctx.workload)) {
      pass()
      // The check pass also serves as the first warm-up.
      val checked = pass(check = true).samples.filter(_.error.isEmpty).map(_.query)
      val missing = names.filterNot(oracle.contains)
      missing.foreach(n => ctx.attempt(Some(s"check $n: no oracle SQL")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
        Json(checked.filter(oracle.contains).map(n => n -> oracle(n)).toMap))
      kinds = Seq("first", "check") ++
        ctx.warmThenTime(Warmups, Ctx.timedPasses(ctx.seconds, NominalPassS)) { () =>
        val p = pass()
        (p.total, p.span)
      }
    }

    Map(
      "queries" -> names,
      "workload_s" -> workloadSpan.dur / 1000.0,
      "passes" -> kinds.zip(passes).map { case (kind, p) =>
        Map("kind" -> kind, "total_s" -> p.total,
          "wall_s" -> p.span.dur / 1000.0,
          "queries" -> p.samples.map(s => Map("query" -> s.query,
            "class" -> classOf(s.query), "s" -> s.seconds, "error" -> s.error)))
      },
      "check_dir" -> checkDir,
      "checked" -> names.filter(n => oracle.contains(n) &&
        new java.io.File(s"$checkDir/$n").isDirectory))
  }
}
