package graft.meter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FloatArraySum.float_array_sum

/** Generator configuration (reference: /root/reference/src/cassaforte_test/core.clj:12-18).
  *
  * The reference emits, per meter ("said" = service account id) and per second,
  * one transmission of `sampleRate` instantaneous watt samples following a
  * deterministic sawtooth `i -> i mod sawtoothPeriod` (core.clj:37-41).
  */
final case class GenConfig(
    numMeters: Int = 2,          // core.clj:16-18
    startSaid: Int = 0,          // seeded via SaidSeed.saidSeed(hostId) in the CLI path (core.clj:27-35)
    startEpochSec: Long = 1704067200L, // 2024-01-01T00:00:00Z
    ticks: Long = 60L,           // one transmission per second per meter (core.clj:173-176)
    sampleRate: Int = 15000,     // core.clj:12-14
    sawtoothPeriod: Int = 120)   // core.clj:41

/** Batch generator for the reference's meter data model, expressed as
  * Catalyst expressions (no UDFs) and embarrassingly parallel: `spark.range`
  * over meter×tick with zero shuffles (SURVEY §4.3). The joules fold is the
  * codegen kernel `float_array_sum`, so reduction stays inside whole-stage
  * codegen. The sawtooth in [[wattsExpr]] is not: it is a `transform`
  * higher-order function, which is `CodegenFallback`, so it is interpreted
  * once per sample and keeps the generating projection out of whole-stage
  * codegen.
  *
  * Scale note: at 100 TB the raw table dominates (~46 KB/row,
  * /root/reference/setup_and_notes.txt:48-53). `transmissions` parallelizes on
  * the range source; callers writing raw data should partition output by
  * `date(datetime)` and a said-bucket (see Rollups.writeRaw).
  */
object MeterGen {

  /** watts[i] = float(i mod period) for i in [0, sampleRate) — the memoized
    * sawtooth of core.clj:37-41. Same array for every transmission. */
  def wattsExpr(cfg: GenConfig): Column =
    transform(
      sequence(lit(0), lit(cfg.sampleRate - 1)),
      i => (i % cfg.sawtoothPeriod).cast("float"))

  /** joules = int(sum(watts) / sampleRate) — float sum then truncation toward
    * zero (core.clj:43-46). The sum is the `float_array_sum` codegen kernel
    * ([[graft.functions.FloatArraySumExpr]]): a float accumulator added in
    * index order, bit-identical to the interpreted
    * `aggregate(watts, 0.0f, (acc, x) -> acc + x)`. On the sawtooth all
    * partial sums are integers < 2^24, so the golden value is 59
    * (SURVEY §5.3). */
  def joulesExpr(watts: Column, cfg: GenConfig): Column =
    (float_array_sum(watts) / lit(cfg.sampleRate.toFloat)).cast("int")

  /** Raw transmissions: (said INT, datetime TIMESTAMP, watts ARRAY<FLOAT>).
    * One row per meter per second, no shuffle: row id = tick * numMeters + m. */
  def transmissions(spark: SparkSession, cfg: GenConfig): DataFrame = {
    val rows = cfg.ticks * cfg.numMeters
    // Parallelism: one task per ~250k rows, at least the default parallelism.
    val slices = math.max(spark.sparkContext.defaultParallelism,
      math.min(rows / 250000L + 1, 4096L).toInt)
    spark.range(0, rows, 1, slices)
      .select(
        (col("id") % cfg.numMeters + cfg.startSaid).cast("int").as("said"),
        timestamp_seconds(
          expr(s"id DIV ${cfg.numMeters}") + cfg.startEpochSec).as("datetime"))
      .withColumn("watts", wattsExpr(cfg))
  }

  /** The per-transmission joules value, computed once driver-side — the
    * same memoization the reference applies to its shared per-tick sample
    * buffer (core.clj:37-46,158): the generator is deterministic, so the
    * float sum of one second's sawtooth (exact — all partials < 2^24) is a
    * config constant (59 for defaults), not a per-row computation. */
  def joulesConst(cfg: GenConfig): Int = {
    var acc = 0.0f
    var i = 0
    while (i < cfg.sampleRate) { acc += (i % cfg.sawtoothPeriod).toFloat; i += 1 }
    (acc / cfg.sampleRate).toInt
  }

  /** Per-second energy table (said, datetime, joules INT) — the
    * meter_samples_second derivation (core.clj:111-120). joules is the
    * folded [[joulesConst]]; no per-row array work at all. */
  def secondTable(spark: SparkSession, cfg: GenConfig): DataFrame = {
    val rows = cfg.ticks * cfg.numMeters
    val slices = math.max(spark.sparkContext.defaultParallelism,
      math.min(rows / 500000L + 1, 4096L).toInt)
    spark.range(0, rows, 1, slices)
      .select(
        (col("id") % cfg.numMeters + cfg.startSaid).cast("int").as("said"),
        timestamp_seconds(
          expr(s"id DIV ${cfg.numMeters}") + cfg.startEpochSec).as("datetime"))
      .withColumn("joules", lit(joulesConst(cfg)))
  }

  /** Reduce a raw transmissions frame to the per-second table (the write-time
    * reduction of core.clj:93: arrays are reduced to joules BEFORE any
    * stateful/shuffling op so wide rows never cross the wire). */
  def reduceToSecond(raw: DataFrame, cfg: GenConfig = GenConfig()): DataFrame =
    raw.select(col("said"), col("datetime"),
      joulesExpr(col("watts"), cfg).as("joules"))
}
