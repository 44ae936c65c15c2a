package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.meter.{GenConfig, MeterGen, MeterStore, SaidSeed}
import graft.plans.RollupRouting
import graft.streaming.MeterStream

/** CLI entry point mirroring the reference's `-main` (core.clj:163-176):
  *
  *   runMain graft.Main [numMeters] [ticks] [outDir] [--stream]
  *   runMain graft.Main demo [outDir]
  *
  * Batch mode generates a closed time range in one job (the deterministic
  * replacement for the drifting 1 Hz sleep loop); `--stream` drives the
  * same derivation from a rate source. Both write all five tables through
  * [[MeterStore.writeSlice]], so a re-run replaces its slices. The
  * starting said is seeded from the host name via said_seed — "different
  * SAIDs on different hosts, always the same SAID on the same host"
  * (core.clj:28-30).
  *
  * `demo` is the prove-it-in-30-seconds entry point: it runs the batch
  * program, then READS THE FIVE TABLES BACK FROM DISK and prints the
  * golden energy chain — per-meter joules at every grain, the
  * 59 J/transmission constant (core.clj:37-46: int(892500/15000)), and
  * the cross-grain invariant — exiting nonzero if any of it fails.
  */
object Main {

  /** The batch program: `cfg`'s transmissions, written to `outDir` as the
    * slice named by their first second. */
  def writeBatch(spark: SparkSession, cfg: GenConfig, outDir: String): Unit =
    MeterStore.writeSlice(MeterGen.transmissions(spark, cfg), outDir, cfg.startEpochSec)

  /** The live program: micro-batch k of [[MeterStream.rateTransmissions]]
    * is written to `outDir` as slice k, once a second, until batch
    * `ticks - 1` has committed. A re-run resumes from the checkpoint, and
    * a batch past the last tick writes nothing. */
  def writeStream(spark: SparkSession, cfg: GenConfig, outDir: String): Unit = {
    val q = MeterStream.rateTransmissions(spark, cfg).writeStream
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (id < cfg.ticks) MeterStore.writeSlice(batch, outDir, id)
      }
      .start()
    try {
      while (Option(q.lastProgress).forall(_.batchId < cfg.ticks - 1) &&
          !q.awaitTermination(50)) ()
    } finally q.stop()
  }

  /** Read the five tables back and print/check the golden chain. Returns
    * false if any invariant fails (total ≠ ticks×59 per meter at any grain
    * or in the kernel's fold of the raw arrays read back, or raw arrays
    * malformed): the write side folds a plan constant, so only this read-back
    * fold runs `float_array_sum` over stored arrays. */
  def goldenChain(spark: SparkSession, outDir: String,
      numMeters: Int, ticks: Long): Boolean = {
    val store = MeterStore(outDir)
    val raw = store.raw(spark)
    val rawCount = raw.count()
    val arrayOk = raw.select(size(col("watts")).as("n"))
      .filter(col("n") =!= 15000).isEmpty
    val expected = ticks * 59L // core.clj:37-46
    println(f"%n[demo] ${"table"}%-22s rows    meters  total_joules  expect")
    val tables = ("raw fold" -> MeterGen.reduceToSecond(raw)) +:
      RollupRouting.storedGrains.map(g =>
        MeterStore.grainTable(g) -> store.table(spark, g))
    val grainOk = tables.map { case (name, t) =>
      val per = t.groupBy("said")
        .agg(sum(col("joules")).as("j")).orderBy("said")
        .collect()
        .map(r => r.getAs[Number]("said").longValue() ->
          r.getAs[Number]("j").longValue())
      val total = per.map(_._2).sum
      val ok = per.length == numMeters && per.forall(_._2 == expected)
      println(f"[demo] $name%-22s ${t.count()}%7d  ${per.length}%6d  " +
        f"$total%12d  ${expected * numMeters}%6d  ${if (ok) "OK" else "FAIL"}")
      ok
    }
    val rawOk = rawCount == numMeters * ticks && arrayOk
    println(f"[demo] ${MeterStore.RawTable} (raw)   $rawCount%7d rows, 15000-sample arrays " +
      s"${if (rawOk) "OK" else "FAIL"}")
    println(s"[demo] golden chain: ${ticks}x59 J/meter at every grain: " +
      s"${if (grainOk.forall(identity) && rawOk) "ALL OK" else "FAILED"}")
    grainOk.forall(identity) && rawOk
  }

  def main(args: Array[String]): Unit = {
    val demoMode = args.headOption.contains("demo")
    // demo fixes meters/ticks and takes only an output dir; flags are
    // rejected up front (`demo --stream` must not silently become a
    // streaming run against a directory literally named "--stream")
    if (demoMode && args.exists(_.startsWith("--"))) {
      System.err.println(
        s"[graft] demo takes no flags (got: ${args.mkString(" ")}); " +
          "usage: runMain graft.Main demo [outDir]")
      sys.exit(2)
    }
    val pos =
      if (demoMode) Array("2", "60", args.lift(1).getOrElse("/tmp/graft_demo"))
      else args.filterNot(_.startsWith("--"))
    val numMeters = pos.lift(0).map(_.toInt).getOrElse(2) // core.clj:16-18
    val ticks = pos.lift(1).map(_.toLong).getOrElse(60L)
    val outDir = pos.lift(2).getOrElse("/tmp/graft_out")
    val streamMode = args.contains("--stream")

    val spark = Graft.sessionBuilder("graft-meter-gen",
        sys.env.getOrElse("SPARK_MASTER", "local[32]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val hostId = java.net.InetAddress.getLocalHost.getHostName
    val startSaid = SaidSeed.saidSeed(hostId)
    println(s"[graft] host=$hostId startSaid=$startSaid " +
      s"meters=$numMeters ticks=$ticks out=$outDir stream=$streamMode")

    val cfg = GenConfig(numMeters = numMeters, startSaid = startSaid,
      ticks = ticks)

    if (streamMode) writeStream(spark, cfg, outDir)
    else writeBatch(spark, cfg, outDir)
    println(s"[graft] wrote raw + 4 rollup tables to $outDir")
    val ok = !demoMode || goldenChain(spark, outDir, numMeters, ticks)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
