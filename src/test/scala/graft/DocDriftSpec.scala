package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the hand-written query-id enumerations honest (VERDICT r9
  * item 5): `tools/doc_drift.py` extracts the registry from the
  * `QueryDef` registrations, expands README/SURVEY id ranges, and fails
  * on a registry id README never mentions, an id either doc mentions
  * that the registry doesn't have, a backticked `Object.member` in
  * README or SURVEY that names no member in `src/main`, or a scaladoc
  * link in `src/main` that names no declaration there. */
class DocDriftSpec extends AnyFunSuite {

  /** Exit code and output of `tools/doc_drift.py` over `root`. */
  private def docDrift(root: String = "."): (Int, String) = {
    assume(Files.exists(Paths.get("tools/doc_drift.py")), "no tools/doc_drift.py")
    assume(
      try {
        new ProcessBuilder("python3", "--version").start().waitFor() == 0
      } catch { case _: java.io.IOException => false },
      "python3 not available")
    val pb = new ProcessBuilder("python3", "tools/doc_drift.py", root)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    (p.waitFor(), out)
  }

  test("README/SURVEY query-id lists match the QueryDef registry") {
    val (rc, out) = docDrift()
    info(out)
    assert(rc === 0, s"doc drift detected:\n$out")
  }

  test("doc_drift.py fails on a README member reference src/main lacks") {
    val root = Files.createTempDirectory("graft_docdrift")
    try {
      Files.writeString(root.resolve("README.md"),
        Files.readString(Paths.get("README.md")) +
          "\nLayout: `Rollups.writeRawPhantom`.\n")
      Files.writeString(root.resolve("SURVEY.md"),
        Files.readString(Paths.get("SURVEY.md")) +
          "\nSink: `CurationStream.phantomSink`.\n")
      Files.createSymbolicLink(root.resolve("src"), Paths.get("src").toAbsolutePath)
      val (rc, out) = docDrift(root.toString)
      assert(rc === 1, out)
      assert(out.contains("README.md references members not in src/main") &&
        out.contains("Rollups.writeRawPhantom"), out)
      assert(out.contains("SURVEY.md references members not in src/main") &&
        out.contains("CurationStream.phantomSink"), out)
    } finally graft.TmpHygiene.rmTree(root.toString)
  }

  test("doc_drift.py fails on a dangling scaladoc link in src/main") {
    val root = Files.createTempDirectory("graft_doclinks")
    try {
      Files.copy(Paths.get("README.md"), root.resolve("README.md"))
      Files.copy(Paths.get("SURVEY.md"), root.resolve("SURVEY.md"))
      val src = Paths.get("src/main/scala")
      val walk = Files.walk(src)
      try walk.forEach { f =>
        val to = root.resolve("src/main/scala")
          .resolve(src.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(to)
        else Files.copy(f, to)
      } finally walk.close()
      Files.writeString(root.resolve("src/main/scala/graft/Phantom.scala"),
        "package graft\n/** Routes like [[Similarity.literalCells]], " +
          "[[assignTop2]], [[Rollups.cellOf]] and [[Similarity.cellOf]]. " +
          "*/\nobject Phantom\n")
      val (rc, out) = docDrift(root.toString)
      assert(rc === 1, out)
      assert(out.contains("dangling scaladoc links"), out)
      Seq("[[Similarity.literalCells]]", "[[assignTop2]]",
        "[[Rollups.cellOf]]").foreach(l => assert(out.contains(l), out))
      // a member of the named owner resolves
      assert(!out.contains("[[Similarity.cellOf]]"), out)
    } finally graft.TmpHygiene.rmTree(root.toString)
  }

  test("SURVEY.md count claim matches the compiled registry (r13 item 3)") {
    // The python tool checks the registered-query count from the QueryDef
    // regex; this test is the stronger twin with the COMPILED registry in
    // hand — both numbers in the prose claim must be exact.
    assume(Files.exists(Paths.get("SURVEY.md")), "no SURVEY.md")
    val text = Files.readString(Paths.get("SURVEY.md"))
    val claim = """\*\*(\d+) registered queries, (\d+) with DuckDB oracles""".r
    val ms = claim.findAllMatchIn(text).toSeq
    assert(ms.nonEmpty, "SURVEY.md lost its count claim — doc_drift.py " +
      "cross-checks it, keep the '**N registered queries, M with DuckDB " +
      "oracles' phrasing")
    ms.foreach { m =>
      assert(m.group(1).toInt === SparkEntry.queries.size,
        s"SURVEY.md claims ${m.group(1)} registered queries; " +
          s"SparkEntry.queries has ${SparkEntry.queries.size}")
      assert(m.group(2).toInt === SparkEntry.oracleSql.size,
        s"SURVEY.md claims ${m.group(2)} oracle-backed queries; " +
          s"SparkEntry.oracleSql has ${SparkEntry.oracleSql.size}")
    }
  }
}
