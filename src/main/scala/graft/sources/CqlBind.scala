package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.IeeeBits.{double_bits, float_bits}

/** CQL row serialization — the connector codepath, runnable offline.
  *
  * The reference writes each row through a prepared CQL INSERT
  * (core.clj:100-153: `insert` with `{:said .. :datetime .. :watts ..}`
  * maps). A Cassandra driver executes that as an EXECUTE message whose
  * bound values are serialized in the CQL native protocol's binary
  * encodings (protocol v4 §6: int/bigint big-endian, timestamp as
  * big-endian epoch millis, text as UTF-8 bytes, boolean one byte,
  * float/double as big-endian IEEE-754 bit patterns, list as
  * [int count][per element: int byte-length, bytes]). This module
  * produces EXACTLY those bytes as DataFrame columns — statement text
  * from the schema, value bytes per row — so the sink seam serializes
  * real rows through the real wire encoding even where the connector
  * jar and the cluster are absent, and a future connector (or any CQL
  * executor fed the bound rows) starts from byte-verified encoders
  * (golden vectors in SinkAdapterSpec; gate row m9 replays the hex in
  * DuckDB).
  *
  * 100 TB shape: every encoder is built-in-function composition
  * (hex/lpad/unhex/transform) plus the [[graft.functions.IeeeBits]]
  * codegen expressions — the whole bind stays inside whole-stage
  * codegen, zero UDFs, zero driver involvement, so binding is a pure
  * map stage over the write set. [[bindRows]] additionally routes like
  * the connector's batching: repartition by the partition key (one
  * shuffle, the same co-location a token-aware driver groups by —
  * Murmur3 token ownership itself is replica topology, i.e. the
  * connector/cluster's job, not the row encoder's) and sorts within
  * partitions by (partition key, clustering key) so each task emits
  * contiguous per-partition-key row runs in clustering order — the
  * wide-partition append pattern the reference's tables are keyed for
  * (setup_and_notes.txt:16-44).
  *
  * Nulls: bound values use the EXECUTE message's length-prefixed form
  * [int length][bytes] with length -1 denoting NULL (protocol v4 §4.1.6
  * / §6) — [[paramHex]] emits `ffffffff` for a NULL value, matching.
  * Null ELEMENTS inside collections are rejected by CQL itself; arrays
  * here must be containsNull = false, enforced at bind time.
  */
object CqlBind {

  /** Spark SQL type → CQL type (the subset the engine's tables use). */
  def cqlType(dt: DataType): String = dt match {
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case StringType => "text"
    case TimestampType => "timestamp"
    case ArrayType(et, false) => s"list<${cqlType(et)}>"
    case ArrayType(_, true) =>
      throw new IllegalArgumentException(
        "CQL collections cannot contain null elements — " +
          "bind an ArrayType(containsNull = false) column")
    case other => throw new IllegalArgumentException(
      s"no CQL mapping for Spark type ${other.sql}")
  }

  /** The prepared INSERT the reference's write path executes
    * (core.clj:100-153), derived from the DataFrame schema. */
  def insertCql(keyspace: String, table: String, schema: StructType): String = {
    schema.fields.foreach(f => cqlType(f.dataType)) // fail fast on types
    val cols = schema.fieldNames
    s"INSERT INTO $keyspace.$table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
  }

  /** hex() widens every integral to 64-bit, so a negative value
    * arrives sign-extended to 16 chars. Take the LOW `w` chars FIRST
    * (right), THEN zero-pad short positives — the other order is wrong:
    * lpad TRUNCATES an over-long string to its PREFIX, which collapsed
    * every negative int/float to 0xffffffff until the review caught it
    * (the all-F golden vector for -1 passed by coincidence). */
  private def fixedHex(c: Column, w: Int): Column =
    lower(lpad(right(hex(c), lit(w)), w, "0"))

  /** Lowercase hex of a value's protocol-v4 bytes (null → null). The
    * hex intermediate is what makes the encoders pure builtin
    * composition. */
  def hexOf(c: Column, dt: DataType): Column = dt match {
    case IntegerType => fixedHex(c, 8)
    case LongType => fixedHex(c, 16)
    case TimestampType => fixedHex(unix_millis(c), 16)
    case FloatType => fixedHex(float_bits(c), 8)
    case DoubleType => fixedHex(double_bits(c), 16)
    case BooleanType => when(c.isNull, lit(null).cast("string"))
      .when(c, lit("01")).otherwise(lit("00"))
    case StringType => lower(hex(c)) // hex of the UTF-8 bytes
    case ArrayType(et, false) =>
      when(c.isNull, lit(null).cast("string")).otherwise(concat(
        fixedHex(size(c), 8),
        concat_ws("", transform(c, e => {
          val h = hexOf(e, et)
          // per-element [int byte-length][bytes]; byte-length derived
          // from the hex width, so every element type shares this path
          concat(fixedHex((length(h) / 2).cast("int"), 8), h)
        }))))
    case other => throw new IllegalArgumentException(
      s"no CQL encoding for Spark type ${other.sql}")
  }

  /** EXECUTE-message bound form, hex: [int length][bytes], length -1
    * (`ffffffff`) for NULL — the exact per-value frame a driver writes. */
  def paramHex(c: Column, dt: DataType): Column = {
    val h = hexOf(c, dt)
    when(h.isNull, lit("ffffffff")).otherwise(concat(
      fixedHex((length(h) / 2).cast("int"), 8), h))
  }

  /** Bind a write set: one row per input row, routed like the
    * connector batches them — `params` is the array of length-prefixed
    * protocol values in schema column order, `stmt` the prepared
    * INSERT both engines would execute. Original columns are kept (the
    * caller drops what it doesn't need). */
  def bindRows(df: DataFrame, keyspace: String, table: String,
      partitionKeys: Seq[String], clusteringKeys: Seq[String]): DataFrame = {
    require(partitionKeys.nonEmpty, "CQL tables need a partition key")
    val stmt = insertCql(keyspace, table, df.schema)
    val params = array(df.schema.fields.toSeq.map(f =>
      unhex(paramHex(col(f.name), f.dataType))): _*)
    df.repartition(partitionKeys.map(col): _*)
      .sortWithinPartitions((partitionKeys ++ clusteringKeys).map(col): _*)
      .withColumn("stmt", lit(stmt))
      .withColumn("params", params)
  }
}
