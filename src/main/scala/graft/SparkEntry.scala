package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries and oracles are aggregated from per-family modules under
  * `graft.queries`; each query name maps to one operator of SURVEY.md §2
  * (or a training-data-pipeline operator).
  */
object SparkEntry {
  private lazy val registry: Map[String, Query] = byName(
    Relational.queries ++ EventTimeQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      SamplingQueries.queries ++ TokenQueries.queries ++
      PipelineQueries.queries ++ MultimodalQueries.queries)

  /** The registry over `qs`; a name held twice fails (a Map literal
    * would silently keep the last). */
  private[graft] def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }
}
