package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField,
  StructType}

/** File-format I/O (SURVEY §2b sources). Schemas are never inferred by a
  * Spark job. The text formats take them from the caller: at 100 TB
  * `inferSchema` is a full extra pass over the data before the real job
  * starts, and a silently-wrong sampled type (int vs long, date vs
  * string) corrupts everything downstream; malformed rows are surfaced,
  * not dropped, via PERMISSIVE + `_corrupt_record` retention on request.
  * Parquet carries its schema in every file's footer, and
  * [[readParquet]], the engine's only parquet reader, reads it there.
  */
object Formats {

  /** Parquet read with the data schema taken DRIVER-SIDE from one data
    * file's footer — no Spark job. `spark.read.parquet` runs a one-task
    * footer-inference job on every call before the query starts; this
    * reads the footer Spark's inference would (one data file, converted
    * by Spark's own footer conversion under the session's SQL conf, so
    * `nanosAsLong` and foreign writers' footers read alike). Partition
    * columns (`batch=`, `dt=`, `said_bucket=`) are still discovered from
    * the paths, so the frame has the columns, order and types of
    * `spark.read.parquet`. Several paths must agree on one data schema
    * ([[parquetSchema]]). */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(parquetSchema(spark, paths: _*)).parquet(paths: _*)

  /** The data schema [[readParquet]] applies to `paths`, checked against
    * EVERY path's footer: one schema applies to all paths, so a drifted
    * one (say an empty takedown face shaped unlike the tokenizer's rows)
    * would read as nulls or fail deep in a task. Names, order and types
    * must agree; nullability is ignored (file reads are nullable
    * anyway). A path that does not exist, or holds no data file, throws
    * naming it. */
  private[graft] def parquetSchema(spark: SparkSession,
      paths: String*): StructType = {
    require(paths.nonEmpty, "readParquet: no paths to read")
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    def footerSchema(path: String): StructType = {
      val file = firstDataFile(path, conf)
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      try ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, r.getFooter), converter)
      finally r.close()
    }
    val first = footerSchema(paths.head)
    paths.tail.foreach { p =>
      val s = footerSchema(p)
      require(nullable(s) == nullable(first),
        s"parquet path $p has schema ${s.simpleString}, but ${paths.head} " +
          s"has ${first.simpleString} — the paths of one read must agree " +
          "on column names, order and types")
    }
    first
  }

  /** The first data file under `path` in name order, searched through
    * its partition dirs, skipping the names Spark's file index skips
    * (`_SUCCESS`, `.crc` and other `_`/`.` names; `_k=v` dirs are
    * partitions). `path` may itself be a file. */
  private def firstDataFile(path: String, conf: Configuration): FileStatus = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root))
      throw new java.io.FileNotFoundException(
        s"readParquet: path $path does not exist")
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    def files(st: FileStatus): Iterator[FileStatus] =
      if (st.isFile) Iterator(st)
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(files)
    files(fs.getFileStatus(root)).nextOption().getOrElse(
      throw new IllegalArgumentException(
        s"readParquet: no parquet data file under $path — the dir is " +
          "empty or holds only _/. names (_SUCCESS, .crc)"))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, nullable(f.dataType))))
    case a: ArrayType => ArrayType(nullable(a.elementType))
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType))
    case o => o
  }

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
