package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size, sum}

import graft.meter.{GenConfig, MeterGen, MeterStore, Rollups, SaidSeed, Schemas}
import graft.plans.RollupRouting
import graft.sources.ParquetSink
import graft.streaming.MeterStream

/** CLI entry point mirroring the reference's `-main` (core.clj:163-176):
  *
  *   runMain graft.Main [numMeters] [ticks] [outDir] [--stream]
  *   runMain graft.Main demo [outDir]
  *
  * Batch mode generates a closed time range in one job (the deterministic
  * replacement for the drifting 1 Hz sleep loop); `--stream` drives the
  * same derivation from a rate source. The starting said is seeded from
  * the host name via said_seed — "different SAIDs on different hosts,
  * always the same SAID on the same host" (core.clj:28-30).
  *
  * `demo` is the prove-it-in-30-seconds entry point: it runs the batch
  * program, then READS THE FIVE TABLES BACK FROM DISK and prints the
  * golden energy chain — per-meter joules at every grain, the
  * 59 J/transmission constant (core.clj:37-46: int(892500/15000)), and
  * the cross-grain invariant — exiting nonzero if any of it fails.
  */
object Main {

  /** The batch program: append `cfg`'s transmissions to `outDir` through
    * [[MeterStore.writeRaw]] and their joules grains through [[Rollups.writeAll]]. */
  def writeBatch(spark: SparkSession, cfg: GenConfig, outDir: String): Unit = {
    val raw = MeterGen.transmissions(spark, cfg)
    MeterStore.writeRaw(raw, outDir)
    val sink = new ParquetSink(outDir)
    Rollups.writeAll(MeterGen.reduceToSecond(raw))((grain, df) =>
      sink.write(df, s"meter_samples_$grain"))
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
        s"meter_samples_$g" -> store.table(spark, g))
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
    println(f"[demo] meter_samples (raw)   $rawCount%7d rows, 15000-sample arrays " +
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

    if (streamMode) {
      val raw = MeterStream.rateTransmissions(spark, cfg)
      val q = MeterStream.writeRollups(
        MeterGen.reduceToSecond(raw), outDir, s"$outDir/_checkpoint")
        .start()
      q.awaitTermination(ticks * 1000 + 10000)
      q.stop()
    } else {
      if (demoMode) {
        // the sink appends (streaming-friendly); a demo re-run must not
        // double the tables, so clear exactly the five dirs it owns
        val hconf = spark.sparkContext.hadoopConfiguration
        Schemas.all.keys.foreach { t =>
          val p = new org.apache.hadoop.fs.Path(s"$outDir/$t")
          val fs = p.getFileSystem(hconf)
          if (fs.exists(p)) fs.delete(p, true)
        }
      }
      writeBatch(spark, cfg, outDir)
      println(s"[graft] wrote raw + 4 rollup tables to $outDir")
      if (demoMode) {
        val ok = goldenChain(spark, outDir, numMeters, ticks)
        spark.stop()
        if (!ok) sys.exit(1)
        return
      }
    }
    spark.stop()
  }
}
