package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** One query family of the registry: its queries and, for those that
  * are SQL-expressible, the equivalent DuckDB oracle SQL.
  */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** The query registry — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pushdown_agg")(spark, "/root/testdata/sf0.001")
  /** Every family under its short label, in registry order (a later
    * family's entry would win a name clash in the merged maps).
    */
  private val registry: Seq[(String, QueryFamily)] = Seq(
    "rel" -> RelationalQueries,
    "logdom" -> LogDomainQueries,
    "ts" -> TimeSeriesQueries,
    "text" -> TextAnalysisQueries,
    "dedup" -> DedupQueries,
    "sim" -> SimilarityQueries,
    "mm" -> MultimodalQueries,
    "win" -> WindowOpsQueries,
    "trank" -> TextRankQueries,
    "ext" -> ExtendedOpsQueries,
    "pipe" -> PipelineOpsQueries,
    "scale" -> ScaleOpsQueries,
    "corpus" -> CorpusOpsQueries,
    "quality" -> QualityOpsQueries,
    "insight" -> InsightOpsQueries,
    "model" -> ModelOpsQueries,
    "shape" -> ShapeOpsQueries,
    "crawl" -> CrawlOpsQueries,
    "stream" -> graft.streaming.StreamingQueries)
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(_._2.queries).reduce(_ ++ _)
  /** Query-family membership (short label -> query names): the bench's
    * per-family subtotals, which fit the ~2.4 KB stdout tail a bench
    * run's record keeps, where the full per-query map does not.
    */
  def families: Map[String, Set[String]] =
    registry.map { case (label, fam) => label -> fam.queries.keySet }.toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = registry.map(_._2.oracle).reduce(_ ++ _)
}
