package graft.meter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.RollupRouting

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
    spark.read.parquet(s"$baseDir/meter_samples_$grain")

  def raw(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$baseDir/meter_samples")

  /** Q1: all raw values for meters in a time range — prunes on the
    * dt/said_bucket layout written by [[MeterStore.writeRaw]]. */
  def rawRange(spark: SparkSession, saids: Seq[Int],
      from: String, to: String): DataFrame =
    raw(spark).filter(
      col("said_bucket").isin(saids.map(Math.floorMod(_, MeterStore.SaidBuckets)): _*) &&
        col("said").isin(saids: _*) &&
        col("dt") >= to_date(lit(from)) && col("dt") <= to_date(lit(to)) &&
        col("datetime") >= lit(from) && col("datetime") < lit(to))

  /** Q2: consumption report at `grain`, routed to the coarsest stored
    * rollup that can answer it exactly, then re-aggregated on the grain
    * key. The re-aggregation is idempotent on batch-written tables (keys
    * already unique) and REQUIRED on stream-written ones, where
    * MeterStream.writeRollups stores per-micro-batch partials — summing
    * them here is exactly the composition the reference delegated to
    * Cassandra counter adds (core.clj:121-153). `grain` is a
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

  /** Append `raw` to `baseDir/meter_samples` in the layout Q1 reads
    * (setup_and_notes.txt:46): partitioned by date, so time predicates
    * prune, then by said bucket; zstd, as arrays dominate bytes. */
  def writeRaw(raw: DataFrame, baseDir: String): Unit =
    new graft.sources.ParquetSink(baseDir, Map("meter_samples" -> Seq("dt", "said_bucket")))
      .write(raw.withColumn("dt", to_date(col("datetime")))
        .withColumn("said_bucket", pmod(col("said"), lit(SaidBuckets))),
        "meter_samples")
}
