package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    RelationalQueries,
    WindowQueries,
    ExtQueries,
    LlmQueries,
    TextQueries,
    AggQueries,
    MultimodalQueries,
    PipelineQueries,
    Round4Queries,
    CorpusQueries,
    AnalyticsQueries,
    GovernanceQueries,
    SimilarityQueries,
    Round8Queries,
    Round9Queries,
    Round10Queries,
    Round11Queries,
    Round14Queries,
    Round15Queries,
    Round16Queries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.ensure(spark)
    RelationalQueries.q01(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2; each installs
    * the engine on the session it is given, so any session works. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).map { case (n, q) =>
      n -> { (s: SparkSession, d: String) => GraftFunctions.ensure(s); q(s, d) }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap
}
