package graft

import org.apache.spark.sql.functions._

/** Pins the round-20 probe-fusion mechanism: the metric a
  * convergence-driven loop needs (changed-row count, cardinality) is
  * computed DURING the frame's one localCheckpoint job via
  * `Dataset.observe`, replacing the second scheduled probe job every
  * round previously paid. The fused value must equal the explicit
  * probe's on every shape the loops hit — including the empty frame,
  * where the aggregate yields count = 0, not null. */
class ObservedProbeSpec extends SparkSpec {
  import spark.implicits._

  test("checkpointWithCount: observed count ≡ explicit count on " +
      "non-empty, filtered, and empty frames") {
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    val (cp, n) = ObservedProbe.checkpointWithCount(df, count(lit(1)))(
      _.count())
    assert(n === 1000L)
    assert(cp.count() === 1000L, "the checkpointed frame is the input")
    cp.unpersist(blocking = false)

    // conditional count — the fixpoint loops' changed-row probe shape
    val (cp2, n2) = ObservedProbe.checkpointWithCount(
      spark.range(0, 100).select(col("id"), (col("id") * 2).as("nxt")),
      count(when(col("nxt") =!= col("id"), lit(1))))(_ => -1L)
    assert(n2 === 99L, "only id = 0 has nxt = id")
    cp2.unpersist(blocking = false)

    val (cp3, n3) = ObservedProbe.checkpointWithCount(
      Seq.empty[Long].toDF("id"), count(lit(1)))(_ => -1L)
    assert(n3 === 0L, "an empty frame observes count 0, never null")
    assert(cp3.isEmpty)
    cp3.unpersist(blocking = false)
  }

  test("checkpointWithCount: the checkpointed frame joins and " +
      "re-aggregates like any localCheckpoint result") {
    val (cp, n) = ObservedProbe.checkpointWithCount(
      spark.range(0, 50).select(col("id"), (col("id") % 5).as("k")),
      count(lit(1)))(_.count())
    assert(n === 50L)
    val agg = cp.groupBy("k").agg(count(lit(1)).as("c"))
      .orderBy("k").collect()
    assert(agg.length === 5 && agg.forall(_.getLong(1) === 10L))
    cp.unpersist(blocking = false)
  }

  test("checkpointWithCount: a null metric falls back to the extra job " +
      "and steps the fallback counter") {
    val before = ObservedProbe.fallbackCount
    val (cp, n) = ObservedProbe.checkpointWithCount(
      spark.range(0, 10).toDF("id"), max(lit(null).cast("long")))(_.count())
    assert(n === 10L, "the fallback's value is returned")
    assert(ObservedProbe.fallbackCount === before + 1)
    cp.unpersist(blocking = false)
  }
}
