package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.meter.MeterStore
import graft.streaming.MeterStream

/** A closed loop of micro-batches: each carries one second of the fleet's
  * transmissions, fed through a `MemoryStream` into `MeterStream.toSecond`
  * and `MeterStream.writeRollups`; the next second is added only after the
  * previous batch has committed. */
final class MeterStreamIngest(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  import MeterTables._
  import spark.implicits._

  val meters = 64
  private val gen = Gen(seed, meters)
  private var input: MemoryStream[Tx] = _
  private var query: StreamingQuery = _
  private var out: Path = _
  private var fed = 0L // seconds fed into the current query

  def unit = "transmissions"
  def kinds = Seq("micro_batch")
  override def warmPasses = 4

  private def batch(t: Long): Seq[Tx] =
    (0 until meters).map(gen.tx(_, t))

  private def feed(data: Seq[Tx]): Unit = { input.addData(data); query.processAllAvailable() }

  /** Start a fresh query on fresh output and checkpoint directories. */
  def stage(rep: Int): Unit = {
    close()
    out = dir.resolve(s"stream-$rep")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[Tx]
    query = MeterStream.writeRollups(MeterStream.toSecond(input.toDF()),
      out.toString, out.resolve("_checkpoint").toString).start()
    fed = 0
  }

  def op(i: Int): Op = {
    var data: Seq[Tx] = Nil
    Op("micro_batch", meters, () => Trace.span("MeterStream.batch")(feed(data)),
      prep = () => { data = batch(fed); fed += 1 })
  }

  def check(): Seq[(String, String)] = {
    val store = MeterStore(out.toString)
    Grains.flatMap { g =>
      diff(s"stream ${table(g)}", collect(store.energyReport(spark, g)),
        expected(gen, 0 until meters, 0L until fed, g))
    }.map("micro_batch" -> _)
  }

  override def layers(passes: Double): Seq[(String, Double)] = {
    val batches = Trace.named("MeterStream.batch")
    val progress = Trace.progress.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = Main.median(progress.map(p => Trace.durationMs(p, k)))
    val (nFiles, _) = files(out)
    Seq("queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets").map(k =>
      s"MeterStream.${k}_ms_p50" -> dur(k)) ++ Seq(
      "MeterStream.jobs_per_batch" -> Main.median(batches.map(b => Trace.subtree(b).jobs.toDouble)),
      "MeterStream.files_per_batch" -> nFiles.toDouble / fed,
      "MeterStream.driver_gap_ms_per_batch" -> Main.median(batches.map(Trace.driverGapMs)))
  }

  override def extras(opMs: Map[String, Seq[Double]]): Seq[(String, Double, String)] =
    Seq(("tx_per_s", meters / (Main.median(opMs("micro_batch")) / 1e3), "1/s"),
      ("store_bytes_per_tx", files(out)._2.toDouble / (meters * fed), "B"))

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}
