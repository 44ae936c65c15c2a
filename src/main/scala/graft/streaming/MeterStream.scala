package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.Row

import graft.meter.{GenConfig, MeterGen, MeterStore}

/** Streaming form of the reference's ingest loop (core.clj:163-176): the
  * 1 Hz driver loop becomes a rate source; the per-transmission fan-out to
  * five tables (core.clj:87-153) becomes one derivation DAG re-planned per
  * micro-batch; Cassandra counter increments become idempotent re-aggregation
  * inside foreachBatch (SURVEY §7.3).
  *
  * The stream keeps no state between micro-batches: each batch writes its
  * own slice of every table it feeds. A late row lands in the partial of the
  * batch that carries it and is summed with the others on read, so no row
  * is dropped for arriving late — as Cassandra counters accept any late
  * increment.
  */
object MeterStream {

  /** Rate-source transmissions: one row per meter per micro-batch, so
    * under a 1 s trigger the reference's 1 Hz cadence (core.clj:173-176).
    * Micro-batch k carries the row indices [k·n, (k+1)·n) of an n-meter
    * fleet, mapped to (said, datetime, watts) by the batch generator's own
    * [[MeterGen.fromRowIndex]]: batch k is second k of the fleet, whatever
    * the wall clock did. */
  def rateTransmissions(spark: SparkSession, cfg: GenConfig): DataFrame =
    MeterGen.fromRowIndex(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", cfg.numMeters.toLong)
        .load(),
      "value", cfg)

  /** Per-second reduction on a stream: [[MeterGen.reduceToSecond]], a
    * stateless projection. Kept as the streaming entry point because the
    * benchmark's `meter_stream` workload calls it. */
  def toSecond(stream: DataFrame): DataFrame = MeterGen.reduceToSecond(stream)

  /** foreachBatch sink of per-second rows: micro-batch `id` OVERWRITES
    * slice `id` of the four joules tables ([[MeterStore.writeGrains]]), so
    * a replay rewrites identical files instead of double-appending — the
    * idempotence the reference's counter adds lack (core.clj:121-153).
    * The four grains are written as concurrent legs, each reading the
    * micro-batch again, one file per grain per batch.
    * Readers sum the slices' partials (MeterStore.energyReport does). */
  def writeRollups(second: DataFrame, outDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    second.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        MeterStore.writeGrains(batch, outDir, id)
      }
}
