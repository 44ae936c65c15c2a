package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.SparkSpec

/** The fused IVF cell-assignment kernel vs an independent Scala reference:
  * ordering (cosine desc, larger label on ties), truncation to nlist when
  * nprobe exceeds it, interpreted/codegen agreement, and the loud length
  * guard. */
class IvfCellsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)
  private val dim = 8
  private val nlist = 5
  private val cents: Array[Array[Double]] =
    Array.fill(nlist)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
  private val labels: Array[Long] = Array(40L, 10L, 30L, 20L, 50L)

  /** Reference ranking computed with plain Scala collections math. */
  private def reference(v: Array[Double], nprobe: Int): Seq[Long] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    cents.zip(labels).map { case (c, l) => (cos(v, c), l) }
      .sortBy { case (s, l) => (-s, -l) }.take(nprobe).map(_._2).toSeq
  }

  private def viaDf(vecs: Seq[Seq[Double]], nprobe: Int): Seq[Seq[Long]] = {
    import spark.implicits._
    vecs.toDF("v").select(
        IvfCells.ivf_cells(col("v"), cents, labels, nprobe).as("c"))
      .as[Seq[Long]].collect().toSeq
  }

  test("kernel ranking matches the Scala reference on random vectors") {
    val vecs = Seq.fill(50)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    viaDf(vecs, 3).zip(vecs).foreach { case (got, v) =>
      assert(got == reference(v.toArray, 3), s"for $v")
    }
  }

  test("score ties break toward the larger label") {
    // two identical centroids with different labels: the larger label must
    // rank first (the literal path's struct-greatest does the same).
    val dupCents = Array(cents(0), cents(0), cents(1))
    val dupLabels = Array(3L, 9L, 1L)
    import spark.implicits._
    val got = Seq(cents(0).toSeq).toDF("v").select(
        IvfCells.ivf_cells(col("v"), dupCents, dupLabels, 2).as("c"))
      .as[Seq[Long]].head()
    assert(got == Seq(9L, 3L))
  }

  test("literal router ties break toward the larger label too") {
    // the same rule on the literal path: two SAMPLED centroids with
    // identical vectors — cellOf picks the larger id, topCells lists it
    // first
    import spark.implicits._
    val corpus = Seq((3L, cents(0).toSeq), (9L, cents(0).toSeq),
      (1L, cents(1).toSeq)).toDF("nn_id", "nn_vec")
    val c = graft.pipeline.Similarity.Centroids.sample(corpus, 3)
    assert(c.ids.toSet == Set(1L, 3L, 9L))
    val got = Seq(cents(0).toSeq).toDF("v").select(
        c.cellOf(col("v")),
        transform(c.topCells(col("v"), 2), _.getField("c")))
      .as[(Long, Seq[Long])].head()
    assert(got == ((9L, Seq(9L, 3L))))
  }

  test("nprobe > nlist returns all cells, best first") {
    val v = Seq.fill(dim)(rnd.nextDouble())
    val got = viaDf(Seq(v), 99).head
    assert(got == reference(v.toArray, nlist))
    assert(got.size == nlist)
  }

  test("interpreted (eval) path equals codegen path") {
    val vecs = Seq.fill(10)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    val viaCodegen = viaDf(vecs, 4)
    val expr = IvfCellsExpr(
      BoundReference(0, ArrayType(DoubleType, containsNull = false),
        nullable = false),
      cents.flatten, labels, dim, 4)
    val viaEval = vecs.map { v =>
      expr.eval(InternalRow(ArrayData.toArrayData(v.toArray)))
        .asInstanceOf[ArrayData].toLongArray().toSeq
    }
    assert(viaCodegen == viaEval)
  }

  test("length mismatch fails loudly") {
    val ex = intercept[Exception] { viaDf(Seq(Seq(1.0, 2.0)), 1) }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(t =>
      String.valueOf(t.getMessage).contains("ivf_cells")),
      s"unexpected failure: $ex")
  }
}
