package graft

import org.apache.spark.sql.functions._

import graft.meter.{GenConfig, MeterGen, MeterStore, Rollups, SaidSeed}

/** Whole-program parity with the reference's `-main` loop
  * (core.clj:87-153,163-176): generator → per-second derivation → rollup
  * chain → 5-table sink → READ BACK FROM DISK → golden energy chain.
  * MeterGoldenSpec pins the in-memory math and SinkAdapterSpec the sink
  * layout; this spec is the missing composition — `Main.writeBatch`, the
  * batch program `Main` runs, asserted on what lands on disk, the way a
  * user of the reference would consume the five Cassandra tables.
  */
class EndToEndSpec extends SparkSpec {

  test("batch program: generator → 5-table sink → read-back golden chain") {
    val out = tmpDir("graft_e2e")
    // Fixed host string through the CLI's host-seeding path
    // (core.clj:27-35): seed derivation is exercised, but the value is
    // pinned so a failure reproduces identically on any machine (the live
    // hostname would make the seed — and any failing said — box-local).
    val startSaid = SaidSeed.saidSeed("graft-e2e-host")
    val cfg = GenConfig(numMeters = 2, startSaid = startSaid, ticks = 60)

    Main.writeBatch(spark, cfg, out)

    // === read back from disk ===
    def back(t: String) = spark.read.parquet(s"$out/$t")
    val rawBack = back("meter_samples")
    val secBack = back("meter_samples_second")
    val minBack = back("meter_samples_minute")
    val hourBack = back("meter_samples_hour")
    val dayBack = back("meter_samples_day")

    // raw: 2 meters × 60 ticks, 15000-sample arrays intact, host-seeded
    // said pair, and the slice layout (batch=<first second>/dt/said_bucket)
    // really on disk
    assert(rawBack.count() === 120)
    assert(rawBack.select(size(col("watts"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(15000))
    assert(rawBack.select(col("said").cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(startSaid.toLong, startSaid + 1L))
    val rawDir = new java.io.File(s"$out/meter_samples")
    assert(rawDir.listFiles().map(_.getName).filter(_.startsWith("batch="))
      .toSeq === Seq(s"batch=${cfg.startEpochSec}"), "raw table not one slice on disk")
    val dtDirs = new java.io.File(rawDir, s"batch=${cfg.startEpochSec}")
      .listFiles().filter(_.getName.startsWith("dt="))
    assert(dtDirs.nonEmpty, "raw table not partitioned by dt on disk")
    assert(dtDirs.flatMap(_.listFiles())
      .exists(_.getName.startsWith("said_bucket=")),
      "raw table not sub-partitioned by said_bucket on disk")

    // the golden chain, from what's on disk (core.clj:158 arithmetic):
    // 59 J per second-row, 3,540 J per minute-row; 60 s of data rolls a
    // single minute into the hour and day grains unchanged
    assert(secBack.count() === 120)
    // second-table joules is the generator's Int; rollup joules is the
    // summed Long — normalize for the read-back comparison
    assert(secBack.select(col("joules").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(59L))
    assert(minBack.collect().map(_.getAs[Long]("joules")).toSeq ===
      Seq(3540L, 3540L))
    assert(hourBack.collect().map(_.getAs[Long]("joules")).toSeq ===
      Seq(3540L, 3540L))
    assert(dayBack.collect().map(_.getAs[Long]("joules")).toSeq ===
      Seq(3540L, 3540L))

    // energy conservation across every grain of the sink output
    def total(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("joules")).cast("long")).collect()(0).getLong(0)
    val expected = 2L * 60 * 59
    assert(total(secBack) === expected && total(minBack) === expected &&
      total(hourBack) === expected && total(dayBack) === expected)
  }

  test("re-running the batch program replaces its slice, a torn one too") {
    val cfg = GenConfig(numMeters = 2, ticks = 60)
    val once = tmpDir("graft_once")
    val twice = tmpDir("graft_twice")
    Main.writeBatch(spark, cfg, once)
    Main.writeBatch(spark, cfg, twice)
    Main.writeBatch(spark, cfg, twice)
    val tables = MeterStore.RawTable +:
      Seq("second", "minute", "hour", "day").map(MeterStore.grainTable)
    tables.foreach { t =>
      def read(dir: String) = spark.read.parquet(s"$dir/$t").drop("watts")
      assert(read(twice).count() === read(once).count(), t)
      assert(read(twice).exceptAll(read(once)).isEmpty, t)
      assert(read(once).exceptAll(read(twice)).isEmpty, t)
    }
    // a crash between the raw write and the grains leaves a slice whose
    // minute dir holds other rows (here a third meter at 1000 J/s)
    Rollups.minute(MeterGen.secondTable(spark, cfg.copy(numMeters = 3))
        .withColumn("joules", lit(1000)))
      .write.mode("overwrite")
      .parquet(s"$twice/${MeterStore.grainTable("minute")}/batch=${cfg.startEpochSec}")
    assert(!Main.goldenChain(spark, twice, 2, 60))
    Main.writeBatch(spark, cfg, twice)
    assert(Main.goldenChain(spark, twice, 2, 60))
  }

  test("live program: --stream writes ticks seconds to all five tables") {
    val out = tmpDir("graft_live")
    Main.writeStream(spark, GenConfig(numMeters = 2, ticks = 3), out)
    val raw = MeterStore(out).raw(spark)
    assert(raw.count() === 6)
    assert(raw.select(size(col("watts"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(15000))
    assert(Main.goldenChain(spark, out, 2, 3))
  }
}
