package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One operation of a workload's closed loop: `prep` runs untimed, `run`
  * is the timed call; `units` is the work it completes (transmissions,
  * queries, micro-batches or registry rows). */
final case class Op(kind: String, units: Long, run: () => Unit, prep: () => Unit = () => ())

/** A workload: a set-up step repeated for a median, a warm-up, a closed
  * loop of operations and checks of their outputs. */
trait Workload {
  def unit: String
  /** Kinds in one pass of the operation mix. */
  def kinds: Seq[String]
  /** Input staging and store build; run several times, timed each time. */
  def stage(rep: Int): Unit
  /** Untimed passes of the operation mix before the loop. */
  def warmPasses: Int = 2
  /** The warm-up, counted into set-up. */
  def warm(): Unit = (0 until warmPasses * kinds.size).foreach { i => val o = op(i); o.prep(); o.run() }
  def op(i: Int): Op
  /** Failed checks as (op kind, message), run once after the loop. */
  def check(): Seq[(String, String)]
  /** Isolated layer passes, run only in the traced run before its loop. */
  def isolated(): Unit = ()
  /** Per-layer metrics from the traced run's spans (name -> value). */
  def layers(passes: Double): Seq[(String, Double)] = Nil
  /** Extras (name, value, unit), printed ungated; every workload reports
    * `store_bytes_per_tx` among them, which is an end-to-end metric. */
  def extras(opMs: Map[String, Seq[Double]]): Seq[(String, Double, String)] = Nil
  def close(): Unit = ()
}

/** Several workloads run as one: every part's set-up, warm-up, checks and
  * metrics; one pass of the mix runs one pass of each part in turn. */
final class Mix(parts: Seq[Workload]) extends Workload {
  def unit: String = parts.map(_.unit).distinct match {
    case Seq(u) => u
    case _ => "operations"
  }
  val kinds: Seq[String] = parts.flatMap(_.kinds)
  private val owner = parts.flatMap(p => p.kinds.indices.map(k => (p, k))).toIndexedSeq
  def stage(rep: Int): Unit = parts.foreach(_.stage(rep))
  override def warm(): Unit = parts.foreach(_.warm())
  def op(i: Int): Op = {
    val (p, k) = owner(i % kinds.size)
    p.op(i / kinds.size * p.kinds.size + k)
  }
  def check(): Seq[(String, String)] = parts.flatMap(_.check())
  override def isolated(): Unit = parts.foreach(_.isolated())
  override def layers(passes: Double): Seq[(String, Double)] = parts.flatMap(_.layers(passes))
  override def extras(opMs: Map[String, Seq[Double]]): Seq[(String, Double, String)] =
    parts.flatMap(_.extras(opMs))
  override def close(): Unit = parts.foreach(_.close())
}

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <repoRoot>
  * }}}
  *
  * Writes `result.json` (and `trace.json` when tracing) into `runDir`.
  */
object Main {
  val SetupReps = 3
  /** Calibration: transmissions each of four threads generates and sums,
    * repetitions per measurement, and the wall (ms) of one calibration on
    * the reference machine. */
  val CalibTx = 1500
  val CalibReps = 5
  val CalibRefMs = 100.0
  val Workloads = Seq("meter_write", "meter_stream", "analytics")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def timedMs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  private def jitMs(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)

  /** Wall times (ms) of a fixed amount of pure JVM work on four threads:
    * generating and summing sample arrays, no Spark. They track how fast
    * the machine is running while the benchmark runs. */
  def calibrationMs(): Seq[Double] = {
    val gen = Gen(0, 4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def once(): Double = timedMs {
      (0 until 4).map { m =>
        pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = {
            var acc = 0.0; var t = 0
            while (t < CalibTx) {
              val w = gen.watts(m, t); var i = 0
              while (i < w.length) { acc += w(i); i += 1 }
              t += 1
            }
            acc
          }
        })
      }.foreach(_.get())
    }
    try { once(); (1 to CalibReps).map(_ => once()) } finally pool.shutdown()
  }

  def session(runDir: Path): SparkSession = {
    val s = graft.Graft.sessionBuilder("perfbench", "local[4]", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, runDirS, rootS) = args
    val seed = seedS.toLong; val seconds = secondsS.toDouble
    val tracing = traceS == "1"
    val runDir = Paths.get(runDirS).toAbsolutePath
    val root = Paths.get(rootS).toAbsolutePath

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(runDir)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000
    def workload(n: String): Workload = n match {
      case "meter_write" => new MeterWrite(spark, runDir, seed)
      case "meter_stream" => new MeterStreamIngest(spark, runDir, seed)
      case "analytics" => new Mix(Seq(new MeterRead(spark, runDir, seed),
        new RegistryCore(spark, runDir, root, seed)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (name == "train") {
      // Load every class the workloads' set-up, warm-up and checks use,
      // for the build's class-data-sharing archive.
      Workloads.foreach { n =>
        val w = workload(n); w.stage(0); w.warm(); w.check(); w.close()
      }
      spark.stop()
      return
    }
    val w = workload(name)

    val stageMs = (0 until SetupReps).map(r => timedMs(w.stage(r)))
    val warmMs = timedMs(w.warm())
    val setupS = sessionS + median(stageMs) / 1000 + warmMs / 1000

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0L; var failed = 0L; var units = 0L; var busyMs = 0.0
    val failedKinds = mutable.Map.empty[String, Long]
    val errors = mutable.ArrayBuffer.empty[String]
    var i = 0

    /** Run whole passes of the mix in a closed loop until `budgetS` has
      * elapsed, so every kind is sampled equally often; returns the op
      * latencies by kind. */
    def loop(budgetS: Double, traced: Boolean): Map[String, Seq[Double]] = {
      val mine = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val t0 = System.nanoTime(); var n = 0
      while (n == 0 || n % w.kinds.size != 0 || (System.nanoTime() - t0) / 1e9 < budgetS) {
        val o = w.op(i); i += 1; n += 1
        o.prep()
        attempted += 1
        try {
          val ms = timedMs(if (traced) Trace.span(s"op.${o.kind}")(o.run()) else o.run())
          mine.getOrElseUpdate(o.kind, mutable.ArrayBuffer.empty) += ms
          units += o.units; busyMs += ms
        } catch {
          case e: Exception =>
            failed += 1; failedKinds(o.kind) = failedKinds.getOrElse(o.kind, 0L) + 1
            if (errors.size < 5) errors += s"${o.kind}: ${e.toString.take(300)}"
        }
      }
      mine.foreach { case (k, v) => lat.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
      mine.map { case (k, v) => k -> v.toSeq }.toMap
    }

    def passMs(byKind: Map[String, Seq[Double]]): Double =
      w.kinds.map(k => byKind.get(k).map(median).getOrElse(Double.NaN)).sum

    val calib = mutable.ArrayBuffer.empty[Double]
    calib ++= calibrationMs()
    val layerMetrics = mutable.ArrayBuffer.empty[(String, Double)]
    if (!tracing) loop(seconds, traced = false)
    else {
      // Untraced first half, traced second half: the ratio of their pass
      // walls is the tracer's own overhead.
      val plain = loop(seconds / 2, traced = false)
      Trace.start(spark)
      w.isolated()
      val traced = loop(seconds / 2, traced = true)
      Trace.settle(spark.sparkContext)
      val ops = Trace.all.filter(s => s.name.startsWith("op.") && s.parent < 0)
      val passes = ops.size.toDouble / w.kinds.size
      val c = new Counts; ops.foreach(s => c += Trace.subtree(s))
      val gapMs = ops.map(Trace.driverGapMs).sum
      val (cgCount, cgMeanMs) = org.apache.spark.perfbench.Internals.codegenCompiles()
      layerMetrics ++= Seq(
        "spark.jobs" -> c.jobs / passes, "spark.stages" -> c.stages / passes,
        "spark.tasks" -> c.tasks / passes, "spark.busy_s" -> c.runMs / 1e3 / passes,
        "spark.cpu_s" -> c.cpuNs / 1e9 / passes, "spark.driver_gap_s" -> gapMs / 1e3 / passes,
        "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6 / passes,
        "spark.spill_mb" -> c.spillBytes / 1e6 / passes,
        "jvm.gc_s" -> gcMs() / 1e3, "jvm.jit_s" -> jitMs() / 1e3,
        "spark.codegen_compile_s" -> cgCount * cgMeanMs / 1e3,
        "trace.overhead_frac" -> (passMs(traced) / passMs(plain) - 1))
      layerMetrics ++= w.layers(passes)
      Trace.dump(runDir.resolve("trace.json"))
    }

    calib ++= calibrationMs()
    val failures = w.check()
    failures.map(_._1).distinct.foreach { k =>
      // a failed check condemns every operation of its kind in the run
      val n = lat.get(k).map(_.size.toLong).getOrElse(0L)
      failed += n; failedKinds(k) = failedKinds.getOrElse(k, 0L) + n
    }
    failures.take(5).foreach { case (k, m) => errors += s"check $k: $m" }

    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val byKind = lat.map { case (k, v) => k -> v.toSeq }.toMap
    val all = byKind.values.flatten.toSeq
    // Times are reported in reference-machine units: scaled by how much
    // slower than the reference the calibration ran in this JVM, so a
    // machine that slows down for a while moves both alike and the ratio
    // holds still. The raw figures are printed alongside.
    val calibMs = median(calib.toSeq)
    val scale = CalibRefMs / calibMs
    val raw = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", passMs(byKind) / 1000, "s"),
      ("throughput_per_s", units / (busyMs / 1000), "1/s"))
    // Where a pass has one operation kind, its median latency is wall_s.
    val latency =
      if (w.kinds.size > 1) Seq(("latency_ms_p50", median(all), "ms")) else Nil
    val (stored, workloadExtras) = w.extras(byKind).partition(_._1 == "store_bytes_per_tx")
    val e2e = raw.map {
      case (n @ "throughput_per_s", v, u) => (n, v / scale, u)
      case (n, v, u) => (n, v * scale, u)
    } ++ Seq(("heap_live_mb", liveHeapMb, "MB")) ++ stored
    val extras = (raw ++ latency).map { case (n, v, u) => (s"raw_$n", v, u) } ++
      latency.map { case (n, v, u) => (n, v * scale, u) } ++ Seq(
      ("calibration_ms", calibMs, "ms"),
      ("failed_frac", failed.toDouble / math.max(1L, attempted), "1"),
      ("peak_rss_mb", vmHwmMb(), "MB"),
      ("samples", all.size.toDouble, "count")) ++
      (if (all.size >= 100) Seq(("latency_ms_p90", quantile(all, 0.9), "ms")) else Nil) ++
      workloadExtras
    val kindStats = byKind.map { case (k, v) =>
      k -> Map("n" -> v.size, "p25_ms" -> quantile(v, 0.25), "p50_ms" -> median(v),
        "p75_ms" -> quantile(v, 0.75), "ms" -> v)
    }

    val out = Json.obj(
      "workload" -> name, "seed" -> seed, "trace" -> tracing,
      "attempted" -> attempted, "failed" -> failed, "unit" -> w.unit,
      "failed_by_kind" -> failedKinds.toMap, "errors" -> errors.toSeq,
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "extras" -> extras.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layerMetrics.toMap,
      "kinds" -> kindStats,
      "setup" -> Map("session_s" -> sessionS, "stage_ms" -> stageMs, "warm_ms" -> warmMs))
    Files.writeString(runDir.resolve("result.json"), out + "\n")
    w.close()
    org.apache.spark.sql.graft.bridge.stopStateStores()
    spark.stop()
  }
}
