package graft.meter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-resolution rollup maintenance (reference: core.clj:87-153, DDL at
  * setup_and_notes.txt:16-44). The reference maintains minute/hour/day tables
  * via non-idempotent Cassandra counter increments; we instead re-aggregate
  * with a deterministic `sum` — idempotent, replayable, and identical totals
  * under exactly-once delivery (SURVEY §7.3).
  *
  * Scale design: rollups chain coarser-from-finer (minute from second, hour
  * from minute, day from hour) exploiting sum associativity — the same trick
  * the reference plays with counters. [[dedupe]] hash-partitions on the
  * tables' partition key `said`, and every grain's grouping key contains
  * `said`, so one shuffle on `said` serves the dedupe and every grain: each
  * step is a partition-local hash aggregate. `joules` is LongType because a
  * day of 59 J/s sums to ~5.1M and coarser grains would overflow Int
  * (SURVEY §7.4).
  */
object Rollups {

  /** Upsert/last-write-wins semantics of the Cassandra data model
    * (setup_and_notes.txt:20): dedup on the primary key before aggregating.
    * Clustered by `said` alone, so the minute → hour → day cascade above it
    * needs no further exchange. */
  def dedupe(second: DataFrame): DataFrame =
    second.repartition(col("said")).dropDuplicates("said", "datetime")

  /** One grain step: truncate the clustering key, sum joules. */
  def atGrain(finer: DataFrame, grain: String): DataFrame =
    finer.groupBy(col("said"), date_trunc(grain, col("datetime")).as("datetime"))
      .agg(sum(col("joules").cast("long")).as("joules"))

  def minute(second: DataFrame): DataFrame = atGrain(second, "minute")
  def hour(minute: DataFrame): DataFrame = atGrain(minute, "hour")
  def day(hour: DataFrame): DataFrame = atGrain(hour, "day")

  /** All four grains from the per-second table, chained coarse-from-fine. */
  def all(second: DataFrame): Map[String, DataFrame] = {
    val m = minute(second)
    val h = hour(m)
    val d = day(h)
    Map("second" -> second, "minute" -> m, "hour" -> h, "day" -> d)
  }

  /** Write all four grains of `second` through `write(grain, table)` from
    * one cached, deduped frame: "second" first, which fills the cache, then
    * minute, hour and day (each coalesced to one file) as concurrent jobs
    * off that cache. The cache is released even when a write fails; the
    * first failing grain's error is rethrown after every other grain has
    * been written. */
  def writeAll(second: DataFrame)(write: (String, DataFrame) => Unit): Unit = {
    val deduped = dedupe(second).persist()
    try {
      val grains = all(deduped)
      write("second", grains("second"))
      graft.pipeline.DeltaRetract.inParallel(Seq("minute", "hour", "day")
        .map(g => () => write(g, grains(g).coalesce(1))): _*)
    } finally { deduped.unpersist(); () }
  }
}
