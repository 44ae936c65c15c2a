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
  * `said`, so within one plan the shuffle on `said` serves the dedupe and
  * the whole chain above it: each step is a partition-local hash aggregate.
  * [[writeAll]] plans each grain on its own, so each grain's write runs
  * exactly one shuffle, which AQE coalesces to that grain's size.
  * `joules` is LongType because a day of 59 J/s sums to ~5.1M and coarser
  * grains would overflow Int (SURVEY §7.4).
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

  /** Write all four grains of `second` through `write(grain, table)`, and
    * the caller's `alongside` writes, as concurrent legs
    * ([[graft.Graft.inParallel]]). Each grain leg plans its own
    * [[dedupe]] of `second`, so its critical path is one shuffle on `said`
    * and one write, and AQE coalesces that shuffle to the slice's size: a
    * slice whose shuffle is under AQE's 1 MB minimum partition (tens of
    * thousands of per-second rows) is one file per grain. Nothing is
    * cached, so every grain leg evaluates `second` again; callers pass a
    * plan that is cheap to re-run (generated rows, one micro-batch). Every
    * leg runs to its end; the first failing leg's error, in leg order
    * (`alongside`, then second, minute, hour, day), is rethrown with the
    * others suppressed. */
  def writeAll(second: DataFrame, alongside: (() => Unit)*)(
      write: (String, DataFrame) => Unit): Unit = {
    val grains = all(dedupe(second))
    graft.Graft.inParallel(alongside ++
      Seq("second", "minute", "hour", "day").map(g => () => write(g, grains(g))): _*)
  }
}
