package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work Spark did on behalf of one span (its own jobs, not its children's). */
final class Counts {
  var jobs = 0; var stages = 0; var tasks = 0
  var runMs = 0L; var cpuNs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  var recordsRead = 0L; var bytesRead = 0L; var bytesWritten = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten
    jobIntervals ++= o.jobIntervals
  }
}

final case class Span(id: Int, name: String, parent: Int, traceId: Int,
    startMs: Double) {
  var endMs: Double = Double.NaN
  val own = new Counts
  def wallMs: Double = endMs - startMs
}

/** Outside-in tracer. [[span]] wraps a call into one of the engine's
  * public functions; while tracing is off it only runs the body. A
  * `SparkListener` attributes every job, stage and task to the innermost
  * open span of the client thread (jobs launched from a streaming query's
  * thread included), and a `StreamingQueryListener` keeps every
  * micro-batch's progress. Spans stay in memory until [[dump]]. */
object Trace {
  @volatile private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current = -1
  private var traces = 0
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Double]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val progress = mutable.ArrayBuffer.empty[
    org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Start recording: register the listeners on `spark`. */
  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Listener)
    spark.streams.addListener(StreamListener)
    enabled = true
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val parent = stack.headOption
        val tid = parent.map(_.traceId).getOrElse { traces += 1; traces }
        val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), tid, nowMs)
        spans += s; stack = s :: stack; current = s.id
        s
      }
      try body
      finally synchronized {
        s.endMs = nowMs
        stack = stack.tail
        current = stack.headOption.map(_.id).getOrElse(-1)
      }
    }

  /** Wait until every listener event posted so far has been counted. */
  def settle(sc: SparkContext): Unit =
    if (enabled) org.apache.spark.perfbench.Internals.drainListenerBus(sc)

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  private def children: Map[Int, Seq[Span]] = all.groupBy(_.parent)

  /** Counts of `s` and every span below it. */
  def subtree(s: Span): Counts = {
    val kids = children
    val c = new Counts
    def walk(x: Span): Unit = { c += x.own; kids.getOrElse(x.id, Nil).foreach(walk) }
    synchronized(walk(s))
    c
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Span wall time (ms) not covered by any Spark job of its subtree. */
  def driverGapMs(s: Span): Double =
    s.wallMs - covered(subtree(s).jobIntervals.toSeq, s.startMs, s.endMs)

  /** Span wall time (ms) minus the part its child spans cover. */
  def selfMs(s: Span): Double =
    s.wallMs - covered(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
      s.startMs, s.endMs)

  /** Every span as one JSON document: id, name, parent, trace id, start,
    * end, wall and self time, and the span's own Spark counts. */
  def dump(path: java.nio.file.Path): Unit = {
    val rows = all.map { s =>
      val c = s.own
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.traceId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
        "self_ms" -> selfMs(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_run_ms" -> c.runMs, "task_cpu_ms" -> c.cpuNs / 1e6,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes,
        "records_read" -> c.recordsRead, "bytes_read" -> c.bytesRead,
        "bytes_written" -> c.bytesWritten)
    }
    java.nio.file.Files.writeString(path, Json.arr(rows) + "\n")
  }

  private object Listener extends SparkListener {
    private def spanFor(stage: Int): Option[Span] =
      stageSpan.get(stage).filter(_ >= 0).map(spans)

    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      val sid = current
      jobSpan(e.jobId) = sid
      jobStartMs(e.jobId) = e.time.toDouble
      e.stageIds.foreach(st => stageSpan(st) = sid)
      if (sid >= 0) spans(sid).own.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      for (sid <- jobSpan.remove(e.jobId) if sid >= 0; t0 <- jobStartMs.remove(e.jobId))
        spans(sid).own.jobIntervals += ((t0, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.synchronized(spanFor(e.stageInfo.stageId).foreach(_.own.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      for (s <- spanFor(e.stageId); m <- Option(e.taskMetrics)) {
        val c = s.own
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.synchronized(progress += e.progress)
  }

  /** A progress report's `durationMs` entry, 0 when absent. */
  def durationMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
      key: String): Double =
    p.durationMs.asScala.get(key).map(_.doubleValue).getOrElse(0.0)
}
