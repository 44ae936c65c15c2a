package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meter.{MeterGen, Rollups}
import graft.sources.{CassandraSinkShape, ParquetSink}

/** Shared by the meter workloads: the five-table store and its checks. */
object MeterTables {
  val Grains = Seq("second", "minute", "hour", "day")
  val GrainSec = Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L, "day" -> 86400L)
  def table(g: String): String = if (g == "raw") "meter_samples" else s"meter_samples_$g"

  def rm(p: Path): Unit = graft.TmpHygiene.rmTree(p.toString)

  /** Parquet data files under `p` as (count, bytes). */
  def files(p: Path): (Long, Long) =
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(f => java.nio.file.Files.size(f)).sum)
      } finally s.close()
    }

  /** Start (epoch second) of the UTC `grain` bucket holding second `e`. */
  def bucket(grain: String, e: Long): Long = grain match {
    case "month" =>
      java.time.LocalDate.ofEpochDay(e / 86400).withDayOfMonth(1).toEpochDay * 86400
    case g => e - e % GrainSec(g)
  }

  /** Expected joules per (said, bucket start epoch second) at `grain`. */
  def expected(gen: Gen, meters: Seq[Int], ticks: Seq[Long], grain: String): Map[(Int, Long), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    for (s <- meters; t <- ticks) {
      val e = Gen.epochSec(t); val k = (s, bucket(grain, e))
      m(k) = m.getOrElse(k, 0L) + gen.joules(s, t)
    }
    m.toMap
  }

  /** (said, datetime, joules) rows collected as a bucket map. */
  def collect(df: DataFrame): Map[(Int, Long), Long] =
    df.select(col("said"), unix_seconds(col("datetime")), col("joules").cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** Describe the first few differences between two bucket maps. */
  def diff(what: String, got: Map[(Int, Long), Long], want: Map[(Int, Long), Long]): Option[String] =
    if (got == want) None
    else {
      val keys = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
      Some(s"$what: ${got.size} buckets vs ${want.size} expected; e.g. " +
        keys.map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString(", "))
    }
}

/** Bulk backfill through the engine's write path. The transmissions are
  * generated from the seed and staged as a parquet inbox before timing;
  * one operation then writes raw through `ParquetSink` (dt/said_bucket
  * layout), the second/minute/hour/day tables from
  * `Rollups.all(Rollups.dedupe(MeterGen.reduceToSecond(raw)))`, and binds
  * the four joules tables through `CassandraSinkShape.bindRows` into the
  * `noop` format.
  *
  * The size is chosen so that the array fold is about 30 % of a
  * backfill's wall time, and the raw write and the per-job overhead of
  * the five sinks the rest. The warm-up backfills a quarter of the fleet: it compiles the same
  * plans and code at a quarter of the cost of a full pass. */
final class MeterWrite(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  import MeterTables._

  val meters = 12
  val ticks = 60L
  val tx: Long = meters * ticks
  private val gen = Gen(seed, meters)
  private val inbox = dir.resolve("inbox")
  private val warmInbox = dir.resolve("inbox-warm")
  private val store = dir.resolve("store")
  private val cass = new CassandraSinkShape("meter")

  def unit = "transmissions"
  def kinds = Seq("backfill")

  def stage(rep: Int): Unit =
    gen.transmissions(spark, meters, 0, ticks).write.mode("overwrite").parquet(inbox.toString)

  override def warm(): Unit = {
    gen.transmissions(spark, meters / 4, 0, ticks).write.mode("overwrite").parquet(warmInbox.toString)
    pass(warmInbox)
  }

  private def pass(from: Path): Unit = {
    val sink = new ParquetSink(store.toString, Map(table("raw") -> Seq("dt", "said_bucket")))
    val raw = spark.read.parquet(from.toString)
    Trace.span("ParquetSink.write.raw") {
      sink.write(raw.withColumn("dt", to_date(col("datetime")))
        .withColumn("said_bucket", pmod(col("said"), lit(16))), table("raw"))
    }
    val tables = Rollups.all(Rollups.dedupe(MeterGen.reduceToSecond(raw)))
    Grains.foreach { g =>
      Trace.span(s"ParquetSink.write.$g") {
        sink.write(if (g == "second") tables(g) else tables(g).coalesce(1), table(g))
      }
    }
    Grains.foreach { g =>
      Trace.span(s"CqlBind.bindRows.$g") {
        cass.bindRows(spark.read.parquet(store.resolve(table(g)).toString), table(g),
          Seq("said"), Seq("datetime")).write.format("noop").mode("overwrite").save()
      }
    }
  }

  def op(i: Int): Op = Op("backfill", tx, () => pass(inbox), () => rm(store))

  def check(): Seq[(String, String)] = {
    val ts = 0L until ticks; val ms = 0 until meters
    val raw = spark.read.parquet(store.resolve(table("raw")).toString)
    val rawStats = raw.agg(count(lit(1)), min(size(col("watts"))), max(size(col("watts"))))
      .head()
    val rawOk =
      if (rawStats.getLong(0) == tx && rawStats.getInt(1) == Gen.SampleRate &&
          rawStats.getInt(2) == Gen.SampleRate) None
      else Some(s"raw: ${rawStats.getLong(0)} rows, array sizes " +
        s"${rawStats.get(1)}..${rawStats.get(2)}; want $tx x ${Gen.SampleRate}")
    val folded = diff("raw joules", collect(MeterGen.reduceToSecond(raw)),
      expected(gen, ms, ts, "second"))
    val grains = Grains.flatMap { g =>
      diff(s"${table(g)} joules",
        collect(spark.read.parquet(store.resolve(table(g)).toString)),
        expected(gen, ms, ts, g))
    }
    (rawOk.toSeq ++ folded ++ grains).map("backfill" -> _)
  }

  override def isolated(): Unit = {
    val raw = spark.read.parquet(inbox.toString)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    (1 to 3).foreach(_ => Trace.span("MeterGen.reduceToSecond")(noop(MeterGen.reduceToSecond(raw))))
    val second = MeterGen.reduceToSecond(raw).persist()
    second.count()
    val deduped = Rollups.dedupe(second).persist()
    Trace.span("Rollups.dedupe")(noop(deduped))
    val minute = Rollups.minute(deduped).persist()
    Trace.span("Rollups.minute")(noop(minute))
    val hour = Rollups.hour(minute).persist()
    Trace.span("Rollups.hour")(noop(hour))
    Trace.span("Rollups.day")(noop(Rollups.day(hour)))
    Seq(hour, minute, deduped, second).foreach(_.unpersist(true))
  }

  override def layers(passes: Double): Seq[(String, Double)] = {
    def walls(n: String) = Trace.named(n).map(_.wallMs / 1e3)
    def tree(n: String): Counts = { val c = new Counts; Trace.named(n).foreach(s => c += Trace.subtree(s)); c }
    val reduce = tree("MeterGen.reduceToSecond")
    val reduces = Trace.named("MeterGen.reduceToSecond").size
    val reduceBusy = reduce.runMs / 1e3 / reduces
    val sinkRead = ("raw" +: Grains).map(g => tree(s"ParquetSink.write.$g").recordsRead).sum
    val binds = Grains.map(g => tree(s"CqlBind.bindRows.$g"))
    val bindWall = Grains.map(g => walls(s"CqlBind.bindRows.$g"))
      .transpose.map(_.sum)
    val rollups = Seq("dedupe", "minute", "hour", "day").map(g => tree(s"Rollups.$g"))
    val (nFiles, bytes) = files(store)
    Seq(
      "meter_write.inbox_scans_per_tx" -> sinkRead.toDouble / (tx * passes),
      "MeterGen.reduce.busy_s" -> reduceBusy,
      "MeterGen.reduce.samples_per_busy_s" -> tx * Gen.SampleRate / reduceBusy,
      "Rollups.shuffle_mb" -> rollups.map(_.shuffleWriteBytes).sum / 1e6,
      "ParquetSink.files_written" -> nFiles.toDouble,
      "ParquetSink.output_mb" -> bytes / 1e6,
      "CqlBind.bindRows.wall_s" -> Main.median(bindWall),
      "CqlBind.bindRows.busy_s" -> binds.map(_.runMs).sum / 1e3 / passes,
      "CqlBind.bindRows.shuffle_mb" -> binds.map(_.shuffleWriteBytes).sum / 1e6 / passes) ++
      Seq("dedupe", "minute", "hour", "day").map(g =>
        s"Rollups.$g.wall_s" -> Main.median(walls(s"Rollups.$g"))) ++
      ("raw" +: Grains).map(g =>
        s"ParquetSink.write.$g.wall_s" -> Main.median(walls(s"ParquetSink.write.$g")))
  }

  override def extras(opMs: Map[String, Seq[Double]]): Seq[(String, Double, String)] = {
    val (_, bytes) = files(store)
    Seq(("tx_per_s", tx / (Main.median(opMs("backfill")) / 1e3), "1/s"),
      ("store_bytes_per_tx", bytes.toDouble / tx, "B"))
  }
}
