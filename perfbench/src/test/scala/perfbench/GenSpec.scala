package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generator's closed-form expectations against brute-force folds.
  * Run with `sbt test` inside `perfbench/`. */
class GenSpec extends AnyFunSuite {

  /** Left fold of the samples in float, then truncation: the engine's
    * joules expression. */
  private def fold(w: Array[Float]): Int = (w.foldLeft(0.0f)(_ + _) / Gen.SampleRate).toInt

  test("period 120, amplitude 1, no phase, no jitter is the golden 59 J") {
    val g = new Gen(seed = 0, fleet = IndexedSeq(Meter(period = 120, amp = 1, phase = 0)),
      jitter = false)
    val reference = Array.tabulate(Gen.SampleRate)(i => (i % 120).toFloat)
    for (t <- Seq(0L, 1L, 86399L)) {
      assert(g.watts(0, t).sameElements(reference))
      assert(g.joules(0, t) == 59)
    }
    assert(fold(reference) == 59)
  }

  test("closed-form sawtooth sums match brute force for every phase") {
    for (p <- Seq(60, 97, 120, 181, 240); ph <- 0 until p by 7) {
      val brute = (0 until Gen.SampleRate).map(i => ((i + ph) % p).toLong).sum
      assert(Gen.sawtoothSum(p, ph) == brute, s"period $p phase $ph")
    }
  }

  test("samples are integers in [0, 1000) and every fold order is exact") {
    val g = Gen(seed = 42, meters = 16)
    for (m <- 0 until 16; t <- Seq(0L, 1L, 59L, 3599L, 86399L)) {
      val w = g.watts(m, t)
      assert(w.forall(x => x >= 0 && x < 1000 && x == x.floor), s"meter $m tick $t")
      val forward = fold(w)
      val backward = (w.reverse.foldLeft(0.0f)(_ + _) / Gen.SampleRate).toInt
      val pairwise = (w.grouped(1000).map(_.sum).sum / Gen.SampleRate).toInt
      assert(forward == g.joules(m, t) && backward == forward && pairwise == forward)
    }
  }

  test("neighbouring transmissions and meters differ") {
    val g = Gen(seed = 7, meters = 4)
    assert(!g.watts(0, 0).sameElements(g.watts(0, 1)))
    assert(!g.watts(0, 0).sameElements(g.watts(1, 0)))
    assert(g.watts(2, 9).distinct.length > 1)
  }
}
