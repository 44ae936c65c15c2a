package graft.meter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.RollupRouting
import graft.sources.Formats

/** Read-side API for the meter store (the reference's stated use cases,
  * setup_and_notes.txt:46): raw extraction for analysis, and aggregated
  * consumption reports routed to the coarsest adequate rollup.
  *
  * Routing is the API-layer materialized-view choice promised in SURVEY
  * §4.2: a report at grain g scans the g-grain table (1 row/meter/bucket)
  * instead of re-aggregating seconds — at 100 TB that's the difference
  * between scanning gigabytes and scanning the raw store. A report at a
  * grain coarser than day (e.g. month/year) re-aggregates the day table,
  * which sum-associativity makes exact (the same trick the reference plays
  * with counters, core.clj:121-153).
  */
final case class MeterStore(baseDir: String) {
  def table(spark: SparkSession, grain: String): DataFrame =
    Formats.readParquet(spark, s"$baseDir/${MeterStore.grainTable(grain)}")

  def raw(spark: SparkSession): DataFrame =
    Formats.readParquet(spark, s"$baseDir/${MeterStore.RawTable}")

  /** Q1: all raw values for meters in a time range — prunes on the
    * dt/said_bucket layout [[MeterStore.writeSlice]] writes in every slice. */
  def rawRange(spark: SparkSession, saids: Seq[Int],
      from: String, to: String): DataFrame =
    raw(spark).filter(
      col("said_bucket").isin(saids.map(Math.floorMod(_, MeterStore.SaidBuckets)): _*) &&
        col("said").isin(saids: _*) &&
        col("dt") >= to_date(lit(from)) && col("dt") <= to_date(lit(to)) &&
        col("datetime") >= lit(from) && col("datetime") < lit(to))

  /** Q2: consumption report at `grain`, routed to the coarsest stored
    * rollup that can answer it exactly, then re-aggregated on the grain
    * key: it sums the partials of every slice ([[MeterStore.writeSlice]])
    * in the store, the composition the reference delegated to Cassandra
    * counter adds (core.clj:121-153). `grain` is a
    * `date_trunc` unit; one no stored table answers (a misspelling, or
    * a sub-second unit) throws `IllegalArgumentException`. */
  def energyReport(spark: SparkSession, grain: String): DataFrame = {
    val level = RollupRouting.queryLevel.getOrElse(
      grain.toLowerCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(
        s"energyReport: no stored table answers grain '$grain'"))
    val base = table(spark, RollupRouting.storedGrains(level))
    base.groupBy(col("said"),
        date_trunc(grain, col("datetime")).as("datetime"))
      .agg(sum(col("joules")).cast("long").as("joules"))
  }
}

object MeterStore {

  /** Said buckets of the raw table's layout. */
  val SaidBuckets = 16

  /** The store's table names, those of the reference DDL
    * (setup_and_notes.txt:16-44): the raw transmissions, and the joules
    * table of each grain. */
  val RawTable = "meter_samples"
  def grainTable(grain: String): String = s"${RawTable}_$grain"

  /** Write the transmissions `raw` as slice `slice` of all five tables,
    * each an overwrite of `<table>/batch=<slice>`, so a re-run of the slice
    * (a repeated backfill range, a replayed micro-batch, a retry after a
    * crash between two writes) replaces it. Raw is laid out for Q1
    * (setup_and_notes.txt:46): by date, so time predicates prune, then by
    * said bucket. The raw write is a fifth concurrent leg beside the four
    * grain legs of [[Rollups.writeAll]], so no table waits for another. */
  def writeSlice(raw: DataFrame, baseDir: String, slice: Long): Unit =
    Rollups.writeAll(MeterGen.reduceToSecond(raw), () =>
      raw.withColumn("dt", to_date(col("datetime")))
        .withColumn("said_bucket", pmod(col("said"), lit(SaidBuckets)))
        .write.mode("overwrite").partitionBy("dt", "said_bucket")
        .parquet(s"$baseDir/$RawTable/batch=$slice"))(writeGrain(baseDir, slice))

  /** Write the per-second rows `second` as slice `slice` of the four
    * joules tables: [[Rollups.writeAll]]'s four concurrent grain legs, one
    * file per grain for a small slice. */
  def writeGrains(second: DataFrame, baseDir: String, slice: Long): Unit =
    Rollups.writeAll(second)(writeGrain(baseDir, slice))

  private def writeGrain(baseDir: String, slice: Long)(
      grain: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$baseDir/${grainTable(grain)}/batch=$slice")
}
