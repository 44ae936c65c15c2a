package graft.meter

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.ParquetSink

/** Read-side API over the written store layout: Q1 raw-range extraction must
  * prune partitions (the 100 TB property — a said+time query reads only its
  * dt/said_bucket directories), and Q2 grain reports must route to stored
  * rollups, re-aggregating exactly for coarser-than-stored grains. */
class MeterStoreSpec extends SparkSpec {

  // 18 meters × 2 days spanning a midnight boundary, starting 2023-12-31
  // 12:00. With 16 said buckets saids 1 and 17 share bucket 1, so a raw
  // range over said 1 must filter on said, not only on its partition. The
  // per-second table stands in for the raw one in the raw layout (the layout
  // columns are what the pruning test reads), so the fixture write stays
  // fast at 3.1M rows.
  private val cfg = GenConfig(numMeters = 18, ticks = 172800,
    startEpochSec = 1704024000L)

  private lazy val store: MeterStore = {
    val dir = tmpDir("graft_store")
    val sec = MeterGen.secondTable(spark, cfg)
    MeterStore.writeRaw(sec, dir)
    val sink = new ParquetSink(dir)
    Rollups.writeAll(sec)((g, df) => sink.write(df, s"meter_samples_$g"))
    MeterStore(dir)
  }

  test("rawRange prunes to the matching dt/said_bucket partitions") {
    val q = store.rawRange(spark, saids = Seq(1),
      from = "2024-01-01 00:00:00", to = "2024-01-01 06:00:00")
    assert(q.count() == 6 * 3600)
    // the surviving partition also holds said 17: the count above needs
    // rawRange's said predicate, not the partition filter alone
    assert(store.raw(spark).filter(col("dt") === "2024-01-01" &&
      col("said_bucket") === 1 && col("datetime") < "2024-01-01 06:00:00")
      .count() == 2 * 6 * 3600)
    // partition pruning: of 3 dt × 16 bucket dirs the scan must touch only
    // dt=2024-01-01/said_bucket=1
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.split("\n"))
      .filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanned.contains("dt"), s"no dt partition filter:\n$scanned")
    assert(scanned.contains("said_bucket"),
      s"no said_bucket partition filter:\n$scanned")
    val files = q.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount }
    assert(files.nonEmpty && files.head == 1,
      s"expected 1 surviving hive partition, got $files")
  }

  test("energyReport at a stored grain reads that grain's table (idempotent re-agg)") {
    val hour = store.energyReport(spark, "hour")
    assert(hour.count() == cfg.numMeters * 48)
    assert(hour.agg(sum("joules")).head.getLong(0) ==
      cfg.numMeters.toLong * cfg.ticks * 59)
  }

  test("energyReport takes any date_trunc alias it can answer and rejects the rest") {
    val day = store.energyReport(spark, "day").collect().toSet
    assert(store.energyReport(spark, "dd").collect().toSet == day)
    assert(store.energyReport(spark, "DAY").collect().toSet == day)
    // date_trunc returns NULL for an unknown unit and accepts sub-second
    // ones no stored table answers: both must fail, not return rows
    Seq("fortnight", "millisecond").foreach { g =>
      intercept[IllegalArgumentException](store.energyReport(spark, g))
    }
  }

  test("energyReport at month grain re-aggregates the day table exactly") {
    val month = store.energyReport(spark, "month")
    val rows = month.orderBy("said", "datetime").collect()
    // range spans Dec 2023 (12 h) and Jan 2024 (36 h) for each meter
    assert(rows.length == cfg.numMeters * 2)
    val dec = rows.filter(_.getTimestamp(1).toString.startsWith("2023-12"))
    assert(dec.forall(_.getLong(2) == 12L * 3600 * 59))
    val jan = rows.filter(_.getTimestamp(1).toString.startsWith("2024-01"))
    assert(jan.forall(_.getLong(2) == 36L * 3600 * 59))
  }
}
