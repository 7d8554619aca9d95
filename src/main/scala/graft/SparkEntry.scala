package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** All operator modules; each contributes Spark impl + optional oracle. */
  private def modules: Seq[Map[String, Q]] = Seq(
    operators.Relational.defs,
    operators.Ingestion.defs,
    operators.Timeseries.defs,
    operators.Dedup.defs,
    operators.TextAnalysis.defs,
    operators.Curation.defs,
    streaming.EventPipeline.defs
  )

  lazy val all: Map[String, Q] = modules.reduce(_ ++ _)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all("q1_agg").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(o))) => k -> o }
}
