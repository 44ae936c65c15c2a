package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

import graft.meter.{MeterGen, MeterStore, Rollups}
import graft.plans.RollupRouting
import graft.sources.ParquetSink

/** A closed loop of analytical reads over a store built during set-up:
  * raw arrays for a small fleet over minutes, per-second joules and their
  * rollups for a larger fleet over hours, both from the same generator.
  * Each pass runs every query kind once in a seeded order; every result is
  * materialized into the `noop` format. */
final class MeterRead(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  import MeterTables._

  val rawMeters = 4
  val rawTicks = 60L
  val secMeters = 16
  val secTicks = 3600L
  private val gen = Gen(seed, secMeters)
  private val root = dir.resolve("store")
  private val store = MeterStore(root.toString)
  private val rng = new scala.util.Random(seed)

  def unit = "queries"
  val kinds = Seq("raw_range", "report_second", "report_minute", "report_hour",
    "report_day", "report_month", "routed_report", "adhoc_datetime_eq")
  private val reportGrain = kinds.collect { case k if k.startsWith("report_") => k -> k.stripPrefix("report_") }.toMap

  def stage(rep: Int): Unit = {
    rm(root)
    val sink = new ParquetSink(root.toString, Map(table("raw") -> Seq("dt", "said_bucket")))
    sink.write(gen.transmissions(spark, rawMeters, 0, rawTicks)
      .withColumn("dt", to_date(col("datetime")))
      .withColumn("said_bucket", pmod(col("said"), lit(16))), table("raw"))
    sink.write(gen.secondTable(spark, 0, secTicks), table("second"))
    val tables = Rollups.all(Rollups.dedupe(store.table(spark, "second")))
    Grains.filter(_ != "second").foreach(g => sink.write(tables(g).coalesce(1), table(g)))
    RollupRouting.install(spark, Grains.map(g => g -> store.table(spark, g)).toMap)
  }

  private def ts(t: Long): String =
    java.time.Instant.ofEpochSecond(Gen.epochSec(t)).toString.replace("T", " ").stripSuffix("Z")

  /** Seeded parameters: (saids, from tick, to tick) for a raw range. */
  private def rangeParams(r: scala.util.Random): (Seq[Int], Long, Long) = {
    val saids = r.shuffle((0 until rawMeters).toList).take(1 + r.nextInt(4))
    val stored = (rawTicks / 60).toInt
    val minutes = 1 + r.nextInt(math.min(3, stored))
    val from = 60L * r.nextInt(stored - minutes + 1)
    (saids, from, from + 60L * minutes)
  }

  private def rawRange(p: (Seq[Int], Long, Long)): DataFrame =
    store.rawRange(spark, p._1, ts(p._2), ts(p._3))

  private def routed: DataFrame =
    store.table(spark, "second")
      .groupBy(col("said"), date_trunc("month", col("datetime")).as("datetime"))
      .agg(sum(col("joules")).as("joules"))

  private def adhoc(t: Long): DataFrame =
    store.table(spark, "second").filter(col("datetime") === lit(ts(t)).cast("timestamp"))

  private def query(kind: String, r: scala.util.Random): DataFrame = kind match {
    case "raw_range" => rawRange(rangeParams(r))
    case "routed_report" => routed
    case "adhoc_datetime_eq" => adhoc(r.nextInt(secTicks.toInt).toLong)
    case k => store.energyReport(spark, reportGrain(k))
  }

  private var order: Seq[String] = Nil
  def op(i: Int): Op = {
    if (i % kinds.size == 0) order = rng.shuffle(kinds)
    val kind = order(i % kinds.size)
    Op(kind, 1, () => Trace.span(s"MeterStore.$kind") {
      query(kind, rng).write.format("noop").mode("overwrite").save()
    })
  }

  /** Scans of an executed plan, looking through adaptive query stages. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(plan: SparkPlan): Seq[FileSourceScanLike] =
      collect(plan) { case s: FileSourceScanLike => s }
  }

  /** 1 when every scan of the plan reads a rollup table, else 0. */
  private def routedFrac(plan: SparkPlan): Double = {
    val paths = Plans.scans(plan).flatMap(_.relation.location.rootPaths.map(_.toString))
    if (paths.nonEmpty && paths.forall(p => Grains.drop(1).exists(g => p.endsWith(table(g))))) 1.0
    else 0.0
  }

  def check(): Seq[(String, String)] = {
    val r = new scala.util.Random(seed + 1)
    val sample = r.shuffle((0 until secMeters).toList).take(4)
    val secTs = 0L until secTicks
    def report(kind: String, grain: String, df: DataFrame) =
      diff(kind, collect(df.filter(col("said").isin(sample: _*))),
        expected(gen, sample, secTs, grain)).map(kind -> _)
    val p = rangeParams(r)
    val raw = diff("raw_range", collect(MeterGen.reduceToSecond(rawRange(p))),
      expected(gen, p._1, p._2 until p._3, "second")).map("raw_range" -> _)
    val reports = reportGrain.toSeq.flatMap { case (k, g) => report(k, g, store.energyReport(spark, g)) }
    val routedDf = routed
    val routedOk = report("routed_report", "month", routedDf).toSeq ++
      (if (routedFrac(routedDf.queryExecution.executedPlan) == 1.0) Nil
       else Seq("routed_report" -> "month report over seconds did not scan a rollup"))
    val t = r.nextInt(secTicks.toInt).toLong
    val adhocOk = diff("adhoc_datetime_eq", collect(adhoc(t)),
      expected(gen, 0 until secMeters, Seq(t), "second")).map("adhoc_datetime_eq" -> _)
    raw.toSeq ++ reports ++ routedOk ++ adhocOk
  }

  /** The executed plan of a `noop` write of `df`, caught by a query
    * execution listener once the listener bus has drained. */
  private def executed(df: DataFrame): SparkPlan = {
    @volatile var got: Option[SparkPlan] = None
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = got = Some(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      df.write.format("noop").mode("overwrite").save()
      Trace.settle(spark.sparkContext)
      got.getOrElse(throw new IllegalStateException("no executed plan reported"))
    } finally spark.listenerManager.unregister(l)
  }

  override def layers(passes: Double): Seq[(String, Double)] = {
    def spans(k: String) = Trace.named(s"MeterStore.$k")
    val readSpans = kinds.flatMap(spans)
    val gap = readSpans.map(Trace.driverGapMs).sum / readSpans.map(_.wallMs).sum
    val raws = spans("raw_range").map(Trace.subtree)
    val r = new scala.util.Random(seed + 2)
    val filesRead = (1 to 3).map { _ =>
      Plans.scans(executed(rawRange(rangeParams(r))))
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum.toDouble
    }
    val routedRuns = (1 to 3).map(_ => routedFrac(executed(routed)))
    kinds.filter(_ != "routed_report").map(k =>
      s"MeterStore.$k.ms_p50" -> Main.median(spans(k).map(_.wallMs))) ++ Seq(
      "RollupRouting.routed_report.ms_p50" -> Main.median(spans("routed_report").map(_.wallMs)),
      "RollupRouting.routed_frac" -> routedRuns.sum / routedRuns.size,
      "MeterStore.raw_range.bytes_read_per_row" ->
        raws.map(_.bytesRead).sum.toDouble / math.max(1L, raws.map(_.recordsRead).sum),
      "MeterStore.raw_range.files_read" -> Main.median(filesRead),
      "MeterStore.driver_gap_frac" -> gap)
  }

  override def extras(opMs: Map[String, Seq[Double]]): Seq[(String, Double, String)] =
    Seq(("store_bytes_per_tx", files(root)._2.toDouble / (rawMeters * rawTicks + secMeters * secTicks), "B"))
}
