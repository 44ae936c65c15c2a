package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.sources.Formats.readParquet` the engine's only parquet
  * reader: `spark.read.parquet(...)` runs a footer-inference job on every
  * call, so a new read path written that way would bring the job back.
  * Reads with an explicit schema (`read.schema(s).parquet(...)`) do not
  * infer and are not flagged. */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val inferringRead = """\.read\s*\.parquet\(""".r

  /** `file:line` of every inferring parquet read under `root`'s
    * `src/main`, outside `Formats.scala`. */
  private def inferringReads(root: Path): Seq[String] = {
    val walk = Files.walk(root.resolve("src/main"))
    try walk.iterator.asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "Formats.scala")
      .toSeq.sorted
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if inferringRead.findFirstIn(l).isDefined =>
            s"${root.relativize(f)}:${i + 1}"
        }
      }
    finally walk.close()
  }

  test("src/main reads parquet only through Formats.readParquet") {
    val found = inferringReads(Paths.get("."))
    assert(found.isEmpty, "spark.read.parquet outside Formats.scala " +
      s"(use Formats.readParquet):\n${found.mkString("\n")}")
  }

  test("the guard flags an inferring read in any other source file") {
    val root = Files.createTempDirectory("graft_readguard")
    try {
      val pkg = Files.createDirectories(root.resolve("src/main/scala/graft"))
      Files.writeString(pkg.resolve("Formats.scala"),
        "object Formats { def r(s: SparkSession) = s.read.parquet(\"p\") }\n")
      Files.writeString(pkg.resolve("Phantom.scala"),
        "object Phantom {\n  def r(s: SparkSession) =\n" +
          "    s.read.parquet(\"p\")\n  def ok(s: SparkSession) =\n" +
          "    s.read.schema(t).parquet(\"p\")\n}\n")
      assert(inferringReads(root) === Seq("src/main/scala/graft/Phantom.scala:3"))
    } finally TmpHygiene.rmTree(root.toString)
  }
}
