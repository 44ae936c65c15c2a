package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Text-format ingestion (SURVEY §2b sources). Schemas are REQUIRED, not
  * inferred: at 100 TB `inferSchema` is a full extra pass over the data
  * before the real job starts, and a silently-wrong sampled type (int vs
  * long, date vs string) corrupts everything downstream. Callers state the
  * contract; malformed rows are surfaced, not dropped, via PERMISSIVE +
  * `_corrupt_record` retention on request.
  */
object Formats {

  /** CSV with explicit schema. `columnNameOfCorruptRecord` only applies
    * when the caller includes that column in the schema. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON Lines with explicit schema (one object per line — the shape that
    * splits across executors; multiline JSON does not parallelize). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .json(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.option("header", header.toString).mode("overwrite").csv(path)

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC round-trip — the columnar alternative to parquet for engines
    * standardized on the Hive stack. Same pushdown/pruning behavior
    * (predicate pushdown, column projection, zlib/zstd); schema explicit
    * on read for the same reasons as the text formats. */
  def readOrc(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String,
      compression: String = "zstd"): Unit =
    df.write.option("compression", compression).mode("overwrite").orc(path)
}
