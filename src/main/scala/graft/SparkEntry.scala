package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One registered query: its name, its builder, and the equivalent
    * ANSI SQL DuckDB runs on the same parquet tables as its oracle. */
  final case class Query(name: String,
      run: (SparkSession, String) => DataFrame, oracle: String)

  /** Every module's registry, concatenated once. */
  lazy val registry: Seq[Query] = Seq(
    graft.queries.Relational.registry,
    graft.queries.StarSchema.registry,
    graft.queries.EventsQueries.registry,
    graft.queries.EtlParity.registry,
    graft.operators.TextAnalysis.registry,
    graft.operators.Dedup.registry,
    graft.operators.Similarity.registry,
    graft.operators.Multimodal.registry,
    graft.queries.Profiling.registry,
    graft.streaming.StreamingQueries.registry,
    graft.queries.OperatorQueries.registry,
    graft.sources.FormatQueries.registry,
    graft.queries.StatsQueries.registry,
    graft.queries.TimeSeriesQueries.registry,
    graft.operators.Curation.registry,
    graft.operators.ZOrder.registry,
    graft.queries.PlannerMechanisms.registry).flatten

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, its oracle SQL. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
