package graft.meter

import org.apache.spark.sql.types._

/** The reference's five-table data model as explicit StructTypes
  * (/root/reference/setup_and_notes.txt:16-44). Cassandra type mapping:
  * INT → IntegerType, TIMESTAMP → TimestampType, list<float> →
  * ArrayType(FloatType), COUNTER → LongType (Cassandra counters are 64-bit;
  * per-second joules stays 32-bit exactly as the DDL declares — SURVEY
  * §7.4 overflow note). The PRIMARY KEY (said, datetime) becomes the
  * dedup/rollup grouping key (Rollups.dedupe) and the write layout's
  * partition+sort order (MeterStore.writeSlice, Bucketing).
  */
object Schemas {

  private def meterTable(valueField: StructField): StructType = StructType(Seq(
    StructField("said", IntegerType, nullable = false),
    StructField("datetime", TimestampType, nullable = false),
    valueField))

  /** meter_samples: the raw 15k-sample transmissions. */
  val meterSamples: StructType =
    meterTable(StructField("watts", ArrayType(FloatType, containsNull = true),
      nullable = false))

  /** meter_samples_second: per-second joules, 32-bit per the DDL. */
  val meterSamplesSecond: StructType =
    meterTable(StructField("joules", IntegerType, nullable = false))

  /** meter_samples_minute / _hour / _day: counter tables → 64-bit sums. */
  val meterSamplesRollup: StructType =
    meterTable(StructField("joules", LongType, nullable = true))
}
