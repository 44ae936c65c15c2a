package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout clustering: co-locate rows by key, then order them
  * WITHIN each partition — `sortWithinPartitions`, the partition-local
  * sort surface (SURVEY §2b).
  *
  * Why this matters at 100 TB: a global `orderBy` before a write is a
  * full range-shuffle of the entire dataset just to get file-local
  * ordering; `repartition(key) + sortWithinPartitions(key, ts)` gets the
  * same parquet row-group locality (run-length-friendly key columns,
  * tight zone-map min/max on the sort columns, so later range scans prune
  * row groups) with ONE hash shuffle and a spillable local sort — no
  * global range boundary computation, no skewed range partitions.
  */
object Clustering {

  /** Hash-partition on `partCols`, then sort each partition by `sortCols`.
    * The plan is Exchange(hashpartitioning) → Sort(global=false) — no
    * second exchange (asserted in PlanSpec). */
  def clusterForScan(df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String]): DataFrame =
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)

  /** Z-order (Morton) interleaving of k non-negative dimension values,
    * `bits` bits each: bit i of dimension j lands at position i·k + j.
    * Sorting by this single key clusters rows that are close in EVERY
    * dimension, so parquet zone maps (row-group min/max) prune range
    * predicates on ANY of the columns — the layout trick single-column
    * sorting can't give (sorting by one column leaves the others
    * scattered across every row group; asserted against real parquet
    * footers in ClusteringSpec). Pure bit arithmetic on built-in Column
    * ops: stays in whole-stage codegen, no UDF, no shuffle of its own.
    *
    * Callers map each dimension to a bounded non-negative int first —
    * e.g. a day number, a bucket id, `ntile`, or a quantized measure.
    * Out-of-range inputs SATURATE: values ≥ 2^bits clamp to the top
    * cell, negatives to cell 0, so a stray value lands at the edge of
    * the space instead of scattering among in-range neighbors. */
  def zValueN(dims: Seq[Column], bits: Int = 16): Column = {
    val k = dims.size
    require(k >= 1, "at least one dimension")
    require(bits >= 1 && k * bits <= 63,
      s"k*bits must fit a signed long: $k * $bits > 63")
    val mask = (1L << bits) - 1
    val clamped = dims.map(d =>
      least(greatest(d.cast("long"), lit(0L)), lit(mask)))
    (for {
      (d, j) <- clamped.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftrightunsigned(d, i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
  }

  /** Two-dimensional [[zValueN]] (bit i of `a` at position 2i, of `b` at
    * 2i+1). */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits <= 31, "bits must be in [1, 31]")
    zValueN(Seq(a, b), bits)
  }

  /** Cluster for multi-dimensional range scans: hash-partition on
    * `partCols` (or keep the upstream partitioning when empty), then
    * order each partition by the z-value of the dimension columns. Same
    * one-exchange plan shape as [[clusterForScan]], but zone maps now
    * serve range predicates on every dimension. */
  def clusterZOrderN(df: DataFrame, partCols: Seq[String],
      dims: Seq[Column], bits: Int = 16): DataFrame = {
    val keyed =
      if (partCols.nonEmpty) df.repartition(partCols.map(col): _*) else df
    keyed.sortWithinPartitions(zValueN(dims, bits))
  }

  /** Two-dimensional [[clusterZOrderN]]. */
  def clusterZOrder(df: DataFrame, partCols: Seq[String],
      dimA: Column, dimB: Column, bits: Int = 16): DataFrame =
    clusterZOrderN(df, partCols, Seq(dimA, dimB), bits)
}
