package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meter.{GenConfig, MeterGen, MeterStore}

/** Storage-layout behavior: partition pruning on the raw meter table
  * (the Q1 read pattern, setup_and_notes.txt:46) and shuffle-free
  * co-located joins on bucketed tables. */
class LayoutSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    Seq("bkt_orders", "bkt_lineitem").foreach { t =>
      Bucketing.dropBucketed(spark, t)
      assert(!spark.catalog.tableExists(t), s"$t still in catalog")
    }
    super.afterAll()
  }

  test("raw table layout prunes partitions for meter/time-range reads") {
    val dir = tmpDir("graft_raw")
    val cfg = GenConfig(numMeters = 4, ticks = 172800) // 2 days × 4 meters
    // write through the one writer with one-sample arrays carrying the
    // second's 59 J (skip 15k arrays for test speed; layout columns are
    // what matters)
    MeterStore.writeSlice(MeterGen.secondTable(spark, cfg).select(col("said"),
      col("datetime"), array(lit(59f * MeterGen.SampleRate)).as("watts")), dir, 0)

    val back = spark.read.parquet(s"$dir/${MeterStore.RawTable}")
    val q = back.filter(
      to_date(col("datetime")) === "2024-01-02" &&
        col("said_bucket") === pmod(lit(1), lit(MeterStore.SaidBuckets)) &&
        col("said") === 1)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:"), p)
    // dt + said_bucket both appear as partition filters → only 1 of 8
    // directories scanned
    assert(p.contains("dt") && p.contains("said_bucket"), p)
    assert(q.count() === 86400L)
  }

  test("bucketed tables join without exchanges") {
    val whLeft = "bkt_orders"
    val whRight = "bkt_lineitem"
    val dir = sf("sf0.001")
    Bucketing.writeBucketed(
      graft.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice")),
      whLeft, "k", 4)
    Bucketing.writeBucketed(
      graft.Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity")),
      whRight, "k", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = Bucketing.colocatedJoin(spark, whLeft, whRight, "k")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join shuffled:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q49 fact scan carries a dynamicpruning partition filter") {
    val dir = sf()
    graft.queries.InfraQueries.writePartitionedEvents(spark, dir)
    val q = graft.queries.InfraQueries.q49(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // the runtime dim filter (HAVING on counts) must reach the fact scan
    // as a dynamic partition filter — not a static IN list
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$p")
    assert(p.contains("PartitionFilters:"), p)
  }
}
