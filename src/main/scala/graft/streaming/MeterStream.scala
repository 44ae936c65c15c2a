package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

import graft.meter.{GenConfig, MeterGen, Rollups}

/** Streaming form of the reference's ingest loop (core.clj:163-176): the
  * 1 Hz driver loop becomes a rate source; the per-transmission fan-out to
  * five tables (core.clj:87-153) becomes one derivation DAG re-planned per
  * micro-batch; Cassandra counter increments become idempotent re-aggregation
  * inside foreachBatch (SURVEY §7.3).
  *
  * Scale/state design: arrays are reduced to joules BEFORE any stateful op
  * (mirroring core.clj:93), so per-(said, window) state is a few bytes —
  * watermark state for a 1M-meter fleet at minute grain is ~tens of MB per
  * executor, not GBs of sample arrays.
  */
object MeterStream {

  /** Rate-source transmissions: `rowsPerSecond` rows/s/meter. Each rate
    * row's `value` is a row index, mapped to (said, datetime, watts) by the
    * batch generator's own [[MeterGen.fromRowIndex]]. */
  def rateTransmissions(spark: SparkSession, cfg: GenConfig,
      rowsPerSecond: Int = 1000): DataFrame =
    MeterGen.fromRowIndex(
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toLong * cfg.numMeters)
        .load(),
      "value", cfg)

  /** Per-second reduction on a stream: [[MeterGen.reduceToSecond]], a
    * stateless projection. */
  def toSecond(stream: DataFrame, cfg: GenConfig = GenConfig()): DataFrame =
    MeterGen.reduceToSecond(stream, cfg)

  /** Streaming rollup at `grain` with a watermark: tumbling event-time
    * window + grouped sum. Late rows beyond the watermark are dropped — the
    * documented divergence from Cassandra counters (which accept arbitrarily
    * late increments); batch re-aggregation restores them (SURVEY §7.3). */
  def rollupStream(second: DataFrame, grain: String,
      watermark: String = "2 minutes"): DataFrame = {
    val windowDur = grain match {
      case "minute" => "1 minute"
      case "hour" => "1 hour"
      case "day" => "1 day"
    }
    second
      .withWatermark("datetime", watermark)
      .groupBy(col("said"), window(col("datetime"), windowDur))
      .agg(sum(col("joules").cast("long")).as("joules"))
      .select(col("said"), col("window.start").as("datetime"), col("joules"))
  }

  /** Stream-side dedup restoring the upsert/LWW idempotence of the
    * Cassandra data model (setup_and_notes.txt:20) that counters lack. */
  def dedupWithinWatermark(second: DataFrame,
      watermark: String = "2 minutes"): DataFrame =
    second.withWatermark("datetime", watermark)
      .dropDuplicatesWithinWatermark("said", "datetime")

  /** foreachBatch sink: per micro-batch, write all grains of the batch's
    * second-grain rows through [[Rollups.writeAll]] (one shuffle on `said`,
    * one cached frame, coarser grains as concurrent jobs) into the
    * DDL-named table layout `meter_samples_<grain>/batch=<id>` — the same
    * roots MeterStore reads. Each batch OVERWRITES its own deterministic
    * `batch=<id>` partition, so a replayed micro-batch rewrites identical
    * files instead of double-appending — the idempotence the reference's
    * counter adds lack (core.clj:121-153). The partials compose because
    * sums are associative; readers re-aggregate on (said, datetime)
    * (MeterStore.energyReport does). */
  def writeRollups(second: DataFrame, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    second.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Rollups.writeAll(batch) { (grain, df) =>
          df.write.mode("overwrite")
            .parquet(s"$outDir/meter_samples_$grain/batch=$batchId")
        }
      }
}
