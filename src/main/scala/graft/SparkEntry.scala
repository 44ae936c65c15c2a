package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.meter.{GenConfig, MeterGen, MeterQueries, Rollups}
import graft.pipeline.{CurationQueries, PipelineQueries}
import graft.queries.{GraphQueries, InfraQueries, Relational, Relational2, TimeSeriesQueries}
import graft.streaming.StreamQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's query surface is assembled from per-module registries of
  * [[QueryDef]]s; each carries its own DuckDB oracle where SQL-expressible.
  */
object SparkEntry {

  def registry: Seq[QueryDef] =
    MeterQueries.all ++ Relational.all ++ Relational2.all ++
      InfraQueries.all ++ TimeSeriesQueries.all ++ GraphQueries.all ++
      PipelineQueries.all ++
      CurationQueries.all ++ StreamQueries.all

  /** Flagship query: the reference's core pipeline end-to-end — generate
    * 2 meters × 60 s of transmissions, reduce 15 kHz sample arrays to
    * joules, roll up to the minute grain (core.clj:87-153). Driver
    * smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    Rollups.minute(MeterGen.secondTable(spark, GenConfig(numMeters = 2, ticks = 60)))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
