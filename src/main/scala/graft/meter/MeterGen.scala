package graft.meter

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.FloatArraySum.float_array_sum

/** Generator configuration (reference: /root/reference/src/cassaforte_test/core.clj:12-18).
  *
  * The reference emits, per meter ("said" = service account id) and per second,
  * one transmission of [[MeterGen.SampleRate]] instantaneous watt samples
  * following the fixed sawtooth `i -> i mod` [[MeterGen.SawtoothPeriod]]
  * (core.clj:37-41); only the fleet and the time range vary.
  */
final case class GenConfig(
    numMeters: Int = 2,          // core.clj:16-18
    startSaid: Int = 0,          // seeded via SaidSeed.saidSeed(hostId) in the CLI path (core.clj:27-35)
    startEpochSec: Long = 1704067200L, // 2024-01-01T00:00:00Z
    ticks: Long = 60L)           // one transmission per second per meter (core.clj:173-176)

/** Batch generator for the reference's meter data model, expressed as
  * Catalyst expressions (no UDFs) and embarrassingly parallel: `spark.range`
  * over meter×tick with zero shuffles (SURVEY §4.3). The sample buffer is
  * built once per plan, as the reference builds each tick's buffer once
  * and hands it to every meter (core.clj:155-161): [[wattsExpr]] is one
  * array literal. The joules fold is the codegen kernel `float_array_sum`;
  * over generated rows Catalyst folds it to a constant, over stored arrays
  * it runs inside whole-stage codegen.
  *
  * Scale note: at 100 TB the raw table dominates (~46 KB/row,
  * /root/reference/setup_and_notes.txt:48-53). `transmissions` parallelizes on
  * the range source; raw output is laid out by `date(datetime)` and a
  * said-bucket (see MeterStore.writeRaw).
  */
object MeterGen {

  /** Samples per transmission: the 15 kHz `SAMPLE_RATE` (core.clj:12-14). */
  val SampleRate = 15000

  /** Period of the watt sawtooth 0..119 (core.clj:41). */
  val SawtoothPeriod = 120

  /** watts[i] = float(i mod SawtoothPeriod) for i in [0, SampleRate) — the
    * memoized sawtooth of core.clj:37-41 as one `UnsafeArrayData` literal
    * typed like `Schemas.meterSamples`: it constant-folds and prints as one
    * token. */
  def wattsExpr: Column = {
    val buf = Array.tabulate(SampleRate)(i => (i % SawtoothPeriod).toFloat)
    bridge.column(Literal(UnsafeArrayData.fromPrimitiveArray(buf),
      ArrayType(FloatType, containsNull = true)))
  }

  /** joules = int(sum(watts) / SampleRate) — float sum then truncation toward
    * zero (core.clj:43-46). The sum is the `float_array_sum` codegen kernel
    * ([[graft.functions.FloatArraySumExpr]]): a float accumulator added in
    * index order, bit-identical to the interpreted
    * `aggregate(watts, 0.0f, (acc, x) -> acc + x)`. On the sawtooth all
    * partial sums are integers < 2^24, so the golden value is 59
    * (SURVEY §5.3). */
  def joulesExpr(watts: Column): Column =
    (float_array_sum(watts) / lit(SampleRate.toFloat)).cast("int")

  /** Transmissions (said INT, datetime TIMESTAMP, watts ARRAY<FLOAT>) of the
    * row indices (tick * numMeters + m) in column `index`: the key
    * projection of both the range and the rate source. */
  def fromRowIndex(rows: DataFrame, index: String, cfg: GenConfig): DataFrame =
    rows.select(
      (col(index) % cfg.numMeters + cfg.startSaid).cast("int").as("said"),
      timestamp_seconds(
        expr(s"$index DIV ${cfg.numMeters}") + cfg.startEpochSec).as("datetime"),
      wattsExpr.as("watts"))

  /** Raw transmissions: one row per meter per second, no shuffle. */
  def transmissions(spark: SparkSession, cfg: GenConfig): DataFrame = {
    val rows = cfg.ticks * cfg.numMeters
    // Parallelism: one task per ~250k rows, at least the default parallelism.
    val slices = math.max(spark.sparkContext.defaultParallelism,
      math.min(rows / 250000L + 1, 4096L).toInt)
    fromRowIndex(spark.range(0, rows, 1, slices).toDF(), "id", cfg)
  }

  /** Per-second energy table (said, datetime, joules INT) of the generated
    * transmissions (core.clj:111-120); optimized, `Range → Project [said,
    * datetime, 59 AS joules]`. */
  def secondTable(spark: SparkSession, cfg: GenConfig): DataFrame =
    reduceToSecond(transmissions(spark, cfg))

  /** Reduce a raw transmissions frame to the per-second table (the write-time
    * reduction of core.clj:93: arrays are reduced to joules BEFORE any
    * stateful/shuffling op so wide rows never cross the wire). */
  def reduceToSecond(raw: DataFrame): DataFrame =
    raw.select(col("said"), col("datetime"),
      joulesExpr(col("watts")).as("joules"))
}
