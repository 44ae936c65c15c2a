package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Formats

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md / FIXTURES.md).
  *
  * All tables are plain parquet files; reads go through the vectorized parquet
  * reader and benefit from predicate pushdown / column pruning automatically,
  * so callers should express filters/projections declaratively on the returned
  * DataFrame rather than materializing it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // The fixture generator has shipped `ts` two ways across rounds:
      // INT64 TIMESTAMP(NANOS) (rejected by Spark's parquet reader unless
      // nanosAsLong is set, then surfaced as a raw long) and plain
      // TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ). Normalize both to
      // session-zoned TIMESTAMP at microsecond precision so every
      // downstream query sees one schema. The session timezone is UTC
      // everywhere in this engine, so the NTZ cast is wall-clock identity —
      // and matches DuckDB, which reads either encoding as naive TIMESTAMP
      // (TIMESTAMP_NS truncates to micros) on the oracle side.
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
            .contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Formats.readParquet(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType => // nanos-as-long: truncate to micros
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampType => raw
        case TimestampNTZType =>
          // The NTZ→TIMESTAMP cast is wall-clock identity ONLY under a
          // UTC session (the oracle reads the same file as naive
          // TIMESTAMP); a foreign session with another zone would shift
          // instants silently, so fail loudly instead (ADVICE r9).
          val tz = spark.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC",
            s"events.ts is TIMESTAMP_NTZ; casting under session timezone " +
              s"'$tz' would shift instants — set spark.sql.session.timeZone=UTC " +
              "(Graft.sessionBuilder does)")
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case other =>
          // A third encoding from the fixture generator must fail fast,
          // not silently cast to nulls (ADVICE r9).
          throw new IllegalStateException(
            s"events.ts: unexpected parquet type $other — fixture schema drift")
      }
    case _ =>
      Formats.readParquet(spark, s"$dir/$name.parquet")
  }

  /** Register every fixture as a temp view so `spark.sql(...)` works (SQL
    * entry point, SURVEY §3.4). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** One verifiable unit of the engine's query surface: a Spark implementation
  * plus (where SQL-expressible) an equivalent DuckDB oracle query used by the
  * driver's correctness gate. Column names/types and row order must match
  * between the two — the compare sorts columns by name and hashes values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
