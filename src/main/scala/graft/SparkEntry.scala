package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Entry-point contract — see SURVEY.md §2 + §7. Every key is one
  * `QueryKey` record in its family's `keys` list; `queries` and
  * `oracleSql` are views of the one registry built from them. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every family's records, in declaration order. */
  def keys: Seq[QueryKey] =
    RelationalQueries.keys ++ MonitoringQueries.keys ++ PipelineQueries.keys ++
      StreamingQueries.keys ++ SamplingQueries.keys ++ CatalogQueries.keys

  /** Every key's record by name; a name declared twice fails here. */
  lazy val registry: Map[String, QueryKey] = QueryKey.registry(keys)

  /** One builder per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, r) => k -> r.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = registry.map { case (k, r) => k -> r.oracle }
}
