package graft.functions

import java.lang.{Float => JFloat}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

import graft.SparkSpec
import graft.meter.{GenConfig, MeterGen}

/** The fused float-array sum must equal the interpreted
  * `aggregate(a, 0.0f, (acc, x) -> acc + x)` bit for bit — on inputs where
  * summation order changes the float result, and on the null/empty/NaN/Inf
  * edges — through both the codegen and the `eval` path. */
class FloatArraySumSpec extends SparkSpec {

  private val arrayType = ArrayType(FloatType, containsNull = true)

  /** Non-integer floats mixing 1e8-scale values with small fractions:
    * partial sums leave the 2^24 exact-integer range, so any reordering of
    * the adds changes the rounded result. */
  private val randomCases: Seq[Seq[JFloat]] = {
    val r = new scala.util.Random(20240101L)
    Seq.fill(300) {
      Seq.fill(r.nextInt(64)) {
        val x = r.nextInt(4) match {
          case 0 => (r.nextFloat() - 0.5f) * 2e8f
          case 1 => r.nextFloat() * 0.001f
          case 2 => (r.nextFloat() - 0.5f) * 3.7f
          case _ => r.nextFloat() * 1e4f + 0.1f
        }
        JFloat.valueOf(x)
      }
    }
  }

  private def f(xs: Float*): Seq[JFloat] = xs.map(JFloat.valueOf)

  private val edgeCases: Seq[Seq[JFloat]] = Seq(
    null,                                            // null array
    Seq[JFloat](null),                               // only a null element
    f(1f, 2f) :+ null,                               // null last
    Seq[JFloat](null) ++ f(1f, 2f),                  // null first
    f(1.5f) ++ Seq[JFloat](null) ++ f(Float.NaN),    // null before a NaN
    Seq.empty[JFloat],                               // empty → 0.0f
    f(-0.0f),                                        // 0.0f + -0.0f = +0.0f
    f(Float.NaN),
    f(1f, Float.NaN, 2f),
    f(Float.PositiveInfinity, 1f),
    f(Float.NegativeInfinity, -1f),
    f(Float.PositiveInfinity, Float.NegativeInfinity), // Inf + -Inf = NaN
    f(Float.MaxValue, Float.MaxValue),               // overflows to +Inf
    f(Float.MinPositiveValue, -Float.MinPositiveValue),
    f(1e8f, 1f, -1e8f, 0.25f),                       // order-dependent
    f(16777216f, 1f, 1f, 1f))                        // 2^24 + 1 rounds away

  private def frame(cases: Seq[Seq[JFloat]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        cases.map(c => Row(if (c == null) null else c.toArray)), 2),
      StructType(Seq(StructField("a", arrayType))))

  private def bits(v: Any): Option[Int] =
    Option(v).map(x => JFloat.floatToRawIntBits(x.asInstanceOf[Float]))

  /** Kernel (whole-stage codegen) and interpreted HOF on the same rows,
    * in input order, as raw float bits. Two projections: a
    * `CodegenFallback` expression such as `aggregate` keeps its whole
    * projection out of whole-stage codegen. */
  private def kernelVsHof(cases: Seq[Seq[JFloat]]): Seq[(Option[Int], Option[Int])] = {
    val rows = frame(cases)
    val kernel = rows.select(FloatArraySum.float_array_sum(col("a")))
    val plan = kernel.queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.find(_.expressions.exists(_.exists(
        _.isInstanceOf[FloatArraySumExpr]))).isDefined),
      s"kernel is not in a whole-stage-codegen stage:\n$plan")
    val hof = rows.select(aggregate(col("a"), lit(0.0f), (acc, x) => acc + x))
    kernel.collect().toSeq.map(r => bits(r.get(0)))
      .zip(hof.collect().toSeq.map(r => bits(r.get(0))))
  }

  /** The kernel through `eval` (interpreted) and through a generated
    * projection (codegen), outside any DataFrame. */
  private def evalAndGenerated(cases: Seq[Seq[JFloat]]): (Seq[Option[Int]], Seq[Option[Int]]) = {
    val expr = FloatArraySumExpr(BoundReference(0, arrayType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val rows = cases.map(c =>
      InternalRow(if (c == null) null else new GenericArrayData(c.toArray[Any])))
    val viaEval = rows.map(row => bits(expr.eval(row)))
    val viaCodegen = rows.map { row =>
      val out = proj(row)
      if (out.isNullAt(0)) None else bits(out.getFloat(0))
    }
    (viaEval, viaCodegen)
  }

  /** Asserts every path equals `aggregate`; returns the agreed bits. */
  private def assertSame(cases: Seq[Seq[JFloat]]): Seq[Option[Int]] = {
    val pairs = kernelVsHof(cases)
    pairs.zip(cases).zipWithIndex.foreach { case (((k, h), c), i) =>
      assert(k == h, s"case $i ${Option(c).map(_.mkString("[", ", ", "]"))}: " +
        s"kernel ${k.map(JFloat.intBitsToFloat)} != aggregate ${h.map(JFloat.intBitsToFloat)}")
    }
    val (viaEval, viaCodegen) = evalAndGenerated(cases)
    assert(viaEval == pairs.map(_._2), "eval path differs from aggregate")
    assert(viaCodegen == pairs.map(_._2), "generated projection differs from aggregate")
    viaEval
  }

  test("kernel equals aggregate bit for bit on order-sensitive random floats") {
    // the cases must be order-sensitive, or sequential order is untested
    val reordered = randomCases.count { c =>
      c.foldLeft(0.0f)(_ + _) != c.reverse.foldLeft(0.0f)(_ + _)
    }
    assert(reordered > randomCases.size / 2, s"only $reordered order-sensitive cases")
    assertSame(randomCases)
  }

  test("kernel equals aggregate on null, empty, NaN and ±Inf edges") {
    val sums = assertSame(edgeCases)
    assert(sums.take(5).forall(_.isEmpty), "a null array or element must give null")
    assert(sums(5) == Some(JFloat.floatToRawIntBits(0.0f)), "empty array must give +0.0f")
    assert(sums(6) == Some(JFloat.floatToRawIntBits(0.0f)), "-0.0f alone must give +0.0f")
  }

  test("non-null element type compiles without the null test") {
    val expr = FloatArraySumExpr(BoundReference(0,
      ArrayType(FloatType, containsNull = false), nullable = false))
    assert(!expr.nullable)
    val row = InternalRow(new GenericArrayData(Array[Any](0.5f, 1.25f)))
    assert(GenerateUnsafeProjection.generate(Seq(expr))(row).getFloat(0) === 1.75f)
    assert(expr.eval(row) === 1.75f)
  }

  test("joulesExpr on the reference sawtooth still gives 59") {
    val cfg = GenConfig(numMeters = 1, ticks = 1)
    val r = MeterGen.transmissions(spark, cfg)
      .select(FloatArraySum.float_array_sum(col("watts")),
        MeterGen.joulesExpr(col("watts")))
      .head()
    assert(r.getFloat(0) === 892500.0f) // core.clj:43-46
    assert(r.getInt(1) === 59)
  }
}
