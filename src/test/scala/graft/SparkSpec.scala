package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

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
