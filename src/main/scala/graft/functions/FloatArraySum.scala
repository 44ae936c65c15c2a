package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Fused float-array sum as a native codegen expression: the
  * per-transmission energy fold of core.clj:43-46 (`sum(watts)` over a
  * 15,000-sample array).
  *
  * Bit-identical to `aggregate(a, 0.0f, (acc, x) -> acc + x)`:
  *   - the accumulator is a `float`, starts at +0.0f and adds elements in
  *     index order, so rounding happens exactly where the interpreted fold
  *     rounds;
  *   - a null array or any null element gives null (`acc + null` is null
  *     and stays null);
  *   - an empty array gives 0.0f;
  *   - NaN and ±Inf propagate through IEEE float addition as they do there.
  *
  * Why it matters: `aggregate` is `CodegenFallback`, so its lambda is
  * interpreted once per element — 15k boxed adds per transmission — and
  * it keeps its whole projection out of whole-stage codegen. This kernel
  * is one primitive loop inside the whole-stage-codegen projection.
  */
case class FloatArraySumExpr(child: Expression) extends UnaryExpression {

  // no implicit cast: summing a cast ARRAY<DOUBLE> would round differently
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs ARRAY<FLOAT>, got ${other.catalogString}")
  }

  override def dataType: DataType = FloatType

  private def elementsNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true // rejected by the input-type check
  }

  override def nullable: Boolean = child.nullable || elementsNullable

  override def prettyName: String = "float_array_sum"

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0.0f
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getFloat(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // the bit test only exists when the element type admits nulls
      val nullCheck =
        if (elementsNullable) s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |float $acc = 0.0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): FloatArraySumExpr = copy(child = newChild)
}

object FloatArraySum {
  /** float_array_sum(a) over an ARRAY<FLOAT> column. */
  def float_array_sum(a: Column): Column =
    bridge.column(FloatArraySumExpr(bridge.expression(a)))
}
