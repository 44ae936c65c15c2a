package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The 2× gate-math check (VERDICT r8 item 7 / r9 item 3), in `sbt test`:
  * `tools/bench_gate.py`, the one implementation of the gate, reads the
  * COMMITTED full-precision bench artifact (`git show HEAD:bench.json` —
  * round 18, VERDICT r17 item 2: the r17 driver left its killed partial
  * artifact in the WORKING TREE and the two committed-artifact tests were
  * the suite's only reds; the suite certifies gate SEMANTICS, never the
  * box's last hour) and BASELINE.md's machine-readable authoritative row
  * (the `bench-gate` HTML comment), and fails when a frozen subtotal
  * exceeds `max_ratio` (1.8) × its freeze. The second test proves the
  * gate actually trips by poisoning the measured values 10×; the rest run
  * the gate over small synthetic artifacts and anchors written under
  * `target/gate-fixtures/`, and check `Bench`'s stream-membership rules.
  * Cancels (not passes) when the committed artifact or python3 is absent,
  * so a clean checkout without a bench run stays green honestly. */
class BenchGateSpec extends AnyFunSuite {

  private def gate(args: String*): (Int, String) = {
    val cmd = Seq("python3", "tools/bench_gate.py") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val rc = p.waitFor()
    info(s"bench_gate ${args.mkString(" ")} -> rc=$rc\n$out")
    (rc, out)
  }

  private def run(args: String*): Int = gate(args: _*)._1

  private val fixtureDir = Paths.get("target", "gate-fixtures")

  /** The COMMITTED content of a repo file (`git show HEAD:path`),
    * extracted to `target/gate-fixtures/` so the python gate can read
    * it by path. None when git or the committed file is unavailable —
    * the tests assume-cancel then, exactly like the old missing-file
    * path. */
  private def committedFile(path: String): Option[java.nio.file.Path] =
    try {
      val p = new ProcessBuilder("git", "show", s"HEAD:$path").start()
      val out = p.getInputStream.readAllBytes()
      if (p.waitFor() != 0 || out.isEmpty) None
      else {
        Files.createDirectories(fixtureDir)
        val f = fixtureDir.resolve(path.replace('/', '_'))
        Files.write(f, out)
        Some(f)
      }
    } catch { case _: java.io.IOException => None }

  private lazy val committedBench = committedFile("bench.json")
  private lazy val committedMd = committedFile("BASELINE.md")

  private def pythonPresent(): Unit =
    assume(
      try {
        new ProcessBuilder("python3", "--version").start().waitFor() == 0
      } catch { case _: java.io.IOException => false },
      "python3 not available")

  private def preconditions(): Unit = {
    assume(committedBench.isDefined, "no committed bench.json artifact")
    assume(committedMd.isDefined, "no committed BASELINE.md")
    pythonPresent()
  }

  test("bench gate passes on the committed artifact") {
    preconditions()
    assert(run(committedBench.get.toString, committedMd.get.toString) === 0,
      "bench gate failed on the committed bench.json — per-query or " +
        "frozen-subset total exceeded 1.8x its baseline")
  }

  test("bench gate trips on a 10x-poisoned artifact (self-test)") {
    preconditions()
    assert(run("--poison", "10", committedBench.get.toString,
        committedMd.get.toString) === 1,
      "poisoned values did not trip the gate — the check is vacuous")
  }

  // ---- the gate over synthetic artifacts ----------------------------

  /** Every gated subtotal with its frozen member count. */
  private val subsets = Seq("batch187" -> 187, "stream16" -> 16,
    "stream18" -> 18, "core82" -> 82, "core153" -> 153, "core158" -> 158,
    "core167" -> 167, "core192" -> 192)

  /** Every freeze at 1.0 s, so a subtotal's value is its ratio. */
  private def anchor(maxRatio: String = "1.8",
      drop: String = ""): String =
    (Seq("baseline_per_query_s=1.0", "stream_cert_per_row_s=1.0") ++
      subsets.map(s => s"${s._1}_freeze_s=1.0") :+ s"max_ratio=$maxRatio")
      .filterNot(_.startsWith(s"$drop="))
      .mkString("<!-- bench-gate: ", " ", " -->")

  /** A complete artifact with every subtotal at 1.0 s (JSON values). */
  private val green: Map[String, String] = Map(
    "value" -> "2.0", "queries" -> """{"q1_a":1.0,"s7_b":1.0}""",
    "stream_overhead_s" -> "1.0", "stream_n" -> "1") ++
    subsets.flatMap { case (s, n) =>
      Seq(s"${s}_total" -> "1.0", s"${s}_n" -> n.toString) }

  /** Gate a synthetic artifact/anchor pair written under
    * `target/gate-fixtures/`. */
  private def gateFixture(artifact: Map[String, String],
      md: String = anchor()): (Int, String) = {
    pythonPresent()
    Files.createDirectories(fixtureDir)
    val b = fixtureDir.resolve("fixture_bench.json")
    val m = fixtureDir.resolve("fixture_BASELINE.md")
    Files.writeString(b,
      artifact.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    Files.writeString(m, md)
    gate(b.toString, m.toString)
  }

  /** The gate's verdict line for subtotal `name`. */
  private def line(out: String, name: String): String =
    out.linesIterator.find(_.split(" +").lift(1).contains(s"${name}_total"))
      .getOrElse(fail(s"no ${name}_total line in:\n$out"))

  test("BenchGate FAILs a tripping signal, quoting max_ratio") {
    val (rc, out) = gateFixture(green + ("core82_total" -> "2.0"))
    assert(rc === 1, out)
    assert(line(out, "core82").startsWith("FAIL") &&
      line(out, "core82").contains("= 1.8x baseline"), out)
    // the ratio comes from the anchor: at 2.5x the same 2.0 s passes
    val (rc25, out25) =
      gateFixture(green + ("core82_total" -> "2.0"), anchor("2.5"))
    assert(rc25 === 0 && line(out25, "core82").startsWith("ok"), out25)
  }

  test("BenchGate warns BEFORE the gate trips (90% of max_ratio)") {
    // 1.71 s = 0.95 x the 1.8 s limit: warn, exit code unchanged
    val (rc, out) = gateFixture(green + ("stream16_total" -> "1.71"))
    assert(rc === 0, out)
    assert(line(out, "stream16").startsWith("warn"), out)
    // 1.53 s = 0.85 x the limit: still ok
    val (_, out85) = gateFixture(green + ("stream16_total" -> "1.53"))
    assert(line(out85, "stream16").startsWith("ok"), out85)
  }

  test("BenchGate covers the stream16 freeze and every frozen subset") {
    subsets.foreach { case (s, n) =>
      val (rc, out) = gateFixture(green + (s"${s}_total" -> "3.0"))
      assert(rc === 1 && line(out, s).startsWith("FAIL"), out)
      // a short subtotal (a member errored) is not comparable: FAIL
      val (rcShort, outShort) =
        gateFixture(green + (s"${s}_n" -> (n - 1).toString))
      assert(rcShort === 1 && outShort.contains(s"FAIL ${s}_n"), outShort)
    }
    val (rc, out) = gateFixture(green - "stream16_n")
    assert(rc === 1 && out.contains("FAIL stream16_n"), out)
  }

  test("BenchGate stream16 membership is frozen at s7..s22") {
    assert(Bench.isStream16("s7_stream_incr_dedup"))
    assert(Bench.isStream16("s22_stream_retract"))
    assert(!Bench.isStream16("s6_gap_detect"))
    assert(!Bench.isStream16("s23_stream_phash_retract"),
      "post-freeze streaming rows must land OUTSIDE the frozen subtotal")
    assert(!Bench.isStream16("q55_triangle_census"))
    assert(Bench.isStream18("s24_stream_winnow_retract"))
    assert(!Bench.isStream18("s25_stream_video_retract"))
  }

  test("BenchGate batch187: batch mean informational, partial FAILs") {
    // batch and stream-cert means at 30x their rows are informational:
    // the frozen subtotals are what the gate checks
    val (rc, out) = gateFixture(green ++ Seq("value" -> "60.0",
      "stream_overhead_s" -> "30.0"))
    assert(rc === 0 && out.contains("info batch mean") &&
      out.contains("info stream-cert mean"), out)
    val (rcRed, outRed) = gateFixture(green + ("batch187_total" -> "30.0"))
    assert(rcRed === 1 && line(outRed, "batch187").startsWith("FAIL"), outRed)
    val (rcPart, outPart) = gateFixture(green + ("batch187_n" -> "180"))
    assert(rcPart === 1 && outPart.contains("FAIL batch187_n"), outPart)
  }

  test("BenchGate is quiet when everything has headroom") {
    val (rc, out) = gateFixture(green)
    assert(rc === 0, out)
    assert(subsets.forall { case (s, _) => line(out, s).startsWith("ok") },
      out)
    assert(!out.contains("warn") && !out.contains("FAIL"), out)
  }

  test("BenchGate stream-cert membership is by rule: s7+ yes, s1-s6/q/d no") {
    assert(Bench.isStreamCert("s7_stream_incr_dedup"))
    assert(Bench.isStreamCert("s19_crash_recovery"))
    assert(Bench.isStreamCert("s21_stream_video_dedup"))
    assert(!Bench.isStreamCert("s1_event_deltas"))
    assert(!Bench.isStreamCert("s6_gap_detect"))
    assert(!Bench.isStreamCert("q55_triangle_census"))
    assert(!Bench.isStreamCert("d7_minhash_lsh"))
  }

  test("BenchGate reads BASELINE.md's authoritative row") {
    preconditions()
    // every gated freeze is in the committed anchor, at max_ratio 1.8
    val (rc, out) = gateFixture(green, Files.readString(committedMd.get))
    assert(rc === 0, out)
    assert(subsets.forall { case (s, _) =>
      line(out, s).startsWith("ok") && line(out, s).contains("= 1.8x") }, out)
  }

  test("BenchGate FAILs on a malformed or incomplete anchor") {
    Seq(
      "<!-- bench-gate: max_ratio=1.8 stray -->",
      "<!-- bench-gate: max_ratio=1.8x -->",
      "no anchor here",
      anchor(drop = "stream16_freeze_s")).foreach { md =>
      val (rc, out) = gateFixture(green, md)
      assert(rc === 1 && out.startsWith("FAIL") &&
        !out.contains("Traceback"), out)
    }
  }
}
