package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.Row

import graft.meter.{GenConfig, MeterGen, Rollups}

/** Streaming form of the reference's ingest loop (core.clj:163-176): the
  * 1 Hz driver loop becomes a rate source; the per-transmission fan-out to
  * five tables (core.clj:87-153) becomes one derivation DAG re-planned per
  * micro-batch; Cassandra counter increments become idempotent re-aggregation
  * inside foreachBatch (SURVEY §7.3).
  *
  * The stream keeps no state between micro-batches: arrays are reduced to
  * joules before the sink (mirroring core.clj:93), and each batch writes
  * its own partial of every grain. A late row lands in the partial of the
  * batch that carries it and is summed with the others on read, so no row
  * is dropped for arriving late — as Cassandra counters accept any late
  * increment.
  */
object MeterStream {

  /** Rate-source transmissions: one row per meter per second, the
    * reference's 1 Hz cadence (core.clj:173-176). Each rate row's `value`
    * is a row index, mapped to (said, datetime, watts) by the batch
    * generator's own [[MeterGen.fromRowIndex]]. */
  def rateTransmissions(spark: SparkSession, cfg: GenConfig): DataFrame =
    MeterGen.fromRowIndex(
      spark.readStream.format("rate")
        .option("rowsPerSecond", cfg.numMeters.toLong)
        .load(),
      "value", cfg)

  /** Per-second reduction on a stream: [[MeterGen.reduceToSecond]], a
    * stateless projection. Kept as the streaming entry point because the
    * benchmark's `meter_stream` workload calls it. */
  def toSecond(stream: DataFrame): DataFrame = MeterGen.reduceToSecond(stream)

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
