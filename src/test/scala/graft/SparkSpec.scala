package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually.{eventually, timeout}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared session for all suites: one JVM-wide SparkSession (local[4]),
  * UTC, small shuffle partition count. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Recursive delete for artifact-lifecycle tests' temp dirs. */
  def rmTree(dir: String): Unit = SparkSpec.rmTree(dir)

  /** Temp dir deleted at JVM exit — spec scaffolding must not accrete
    * /tmp residue across runs (VERDICT r14 item 2: hundreds of leaked
    * `graft_*` dirs per session came from the TEST suite, not the
    * engine). Suites that delete earlier (lifecycle tests) still may:
    * the exit sweep is exists-guarded. */
  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)

  /** Job census: the properties of every Spark job `body` started
    * (`spark.job.description`, the stream's `streaming.sql.batchId`, the
    * `spark.job.tags` a concurrent leg adds, …), in start order. The
    * count is bracketed by two marker jobs: the listener bus delivers in
    * order, so it starts at the first marker and is complete once the
    * second has been seen. */
  def jobsStarted[T](body: => T): (T, Seq[java.util.Properties]) = {
    val sc = spark.sparkContext
    val (open, closed) = ("graft-census-open", "graft-census-closed")
    val (started, done) = (new AtomicBoolean, new AtomicBoolean)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        p.getProperty("spark.job.description") match {
          case `open` => started.set(true)
          case `closed` => done.set(true)
          case _ => if (started.get && !done.get) jobs.add(p)
        }
      }
    }
    def marker(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      ()
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      val out = body
      marker(closed)
      eventually(timeout(30.seconds))(assert(done.get))
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // one shared hygiene implementation (graft.TmpHygiene) — the test
  // scaffolding must not grow its own drift-prone copy of deletion
  // semantics (review r15)
  def rmTree(dir: String): Unit = graft.TmpHygiene.rmTree(dir)

  def tmpDir(prefix: String): String =
    graft.TmpHygiene.deleteAtExit(
      java.nio.file.Files.createTempDirectory(prefix).toString)

  /** Dirs registered for JVM-exit deletion — TempHygieneSpec excludes
    * these (they die at JVM exit by contract). */
  def liveTmpDirs: Set[String] = graft.TmpHygiene.registered

  lazy val session: SparkSession = {
    // the engine's front-door builder, so specs run the session
    // configuration Verify and Bench run
    val s = Graft.sessionBuilder("graft-test", "local[4]", 4)
      .config("spark.sql.warehouse.dir", tmpDir("graft_wh"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
