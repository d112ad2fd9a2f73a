package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every QueryPack: each entry is one operator/capability from
  * SURVEY.md §2 with (when SQL-expressible) a DuckDB oracle query whose
  * column names match the DataFrame's exactly.
  */
object SparkEntry {
  private[graft] def packs: Seq[QueryPack] = Seq(
    RelationalPack,
    AggregatePack,
    TimeWindowPack,
    OverWindowPack,
    RankDedupPack,
    ScalarFunctionPack,
    TemporalJoinPack,
    ExtPack,
    ExtPack2,
    ExtPack3,
    ExtPack4,
    ExtPack5,
    ExtPack6,
    ExtPack7,
    SourceSinkPack,
    TypesPack,
    TpchPack,
    TpchPack2,
    TpcdsShapePack,
    TpcdsShapePack2,
    TpcdsShapePack3,
    TpcdsShapePack4,
    TpcdsShapePack5,
    TpcdsShapePack6,
    TpcdsShapePack7,
    DsRealPack,
    DsRealPack2,
    SqlTextPack,
    IteratePack,
    MatchPack
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap
}
