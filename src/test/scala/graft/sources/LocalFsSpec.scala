package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.meter.{GenConfig, MeterGen}
import graft.streaming.MeterStream

/** The engine's local filesystem ([[ForkFreeRawLocalFileSystem]]):
  * sessions built by `Graft.sessionBuilder` resolve `file:` to it through
  * both Hadoop APIs, the meter write and stream paths then start no
  * `chmod`/`readlink` process, and what it leaves on disk and answers
  * about links is what the stock `RawLocalFileSystem` would. */
class LocalFsSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")
  private def hadoopConf = spark.sessionState.newHadoopConf()

  test("session-built Hadoop confs resolve file: to the engine classes " +
      "(FileSystem and AbstractFileSystem)") {
    val fs = FileSystem.get(fileUri, hadoopConf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    val afs = AbstractFileSystem.get(fileUri, hadoopConf)
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  /** Command lines of every process the JVM starts while `body` runs,
    * from a JFR recording of `jdk.ProcessStart`. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft_census", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file); () }
  }

  private def isChmodOrReadlink(cmd: String) =
    cmd.split("\\s+").headOption.exists(c =>
      Seq("chmod", "readlink").contains(c.split('/').last))

  test("census: the recording sees a started process, and none of them is " +
      "chmod or readlink across sink, rollup and stream writes") {
    val sanity = processesStartedBy {
      new ProcessBuilder("true").start().waitFor(); ()
    }
    assert(sanity.exists(_.startsWith("true")),
      s"the JFR recording missed a started process: $sanity")

    val out = tmpDir("graft_localfs")
    val cfg = GenConfig(numMeters = 2, ticks = 10)
    val cmds = processesStartedBy {
      graft.Main.writeBatch(spark, cfg, out)

      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Long]
      val sec = MeterStream.toSecond(
        MeterGen.fromRowIndex(input.toDF(), "value", cfg))
      val q = MeterStream.writeRollups(sec, s"$out/stream", s"$out/_cp")
        .start()
      try {
        input.addData(0L until 40L: _*)
        q.processAllAvailable()
        input.addData(40L until 80L: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(new java.io.File(s"$out/_cp/commits/1").exists,
      "the stream did not commit its second micro-batch")
    val forks = cmds.filter(isChmodOrReadlink)
    assert(forks.isEmpty,
      s"${forks.size} chmod/readlink processes, e.g. ${forks.take(3)}")
  }

  /** The stock and the engine raw local FS, initialized alike. */
  private def stockAndEngine(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val fss = (new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
    Seq(fss._1, fss._2).foreach(_.initialize(fileUri, new Configuration()))
    fss
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves files and directories with the stock modes " +
      "(0644 0755 0600 0700 0777, sticky and setgid directories)") {
    val dir = Paths.get(tmpDir("graft_localfs_modes"))
    val (stock, engine) = stockAndEngine()
    def both(kind: String, octal: String, setgid: Boolean = false): Unit = {
      val perm = Integer.parseInt(octal, 8)
      val got = Seq("stock" -> stock, "engine" -> engine).map {
        case (name, fs) =>
          val p = dir.resolve(s"$kind-$octal-$setgid-$name")
          if (kind == "dir") Files.createDirectory(p) else Files.createFile(p)
          if (setgid) assert(new ProcessBuilder("chmod", "g+s", p.toString)
            .start().waitFor() === 0)
          fs.setPermission(new Path(p.toString), new FsPermission(perm.toShort))
          mode(p)
      }
      assert(got(0) === got(1),
        f"$kind $octal: stock ${got(0)}%o, engine ${got(1)}%o")
    }
    for (kind <- Seq("file", "dir"); octal <- Seq("644", "755", "600", "700",
        "777"))
      both(kind, octal)
    both("dir", "1777") // the sticky bit takes the stock path
    assert(mode(dir.resolve("dir-1777-false-engine")) ===
      Integer.parseInt("1777", 8))
    // GNU chmod keeps a directory's setgid bit under a 4-digit mode
    both("dir", "755", setgid = true)
  }

  test("getFileLinkStatus answers as the stock FS on a symlink, a plain " +
      "file and a missing path") {
    val dir = Paths.get(tmpDir("graft_localfs_links"))
    val target = Files.write(dir.resolve("target"), "abc".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val (stock, engine) = stockAndEngine()
    def fields(s: FileStatus) = (s.getPath, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.isDirectory,
      s.getModificationTime)
    for (p <- Seq(link, target); path <- Seq(new Path(p.toString),
        new Path(p.toUri))) {
      assert(fields(engine.getFileLinkStatus(path)) ===
        fields(stock.getFileLinkStatus(path)), path)
    }
    assert(engine.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](engine.getFileLinkStatus(missing))
  }
}
