package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two array&lt;double&gt; columns — the custom
  * Catalyst Expression path SURVEY.md §7.3 reserves for exactly this
  * operator: the higher-order-function formulation
  * (`aggregate(zip_with(a, b, ...), ...)`) is interpreted (HOFs have no
  * codegen), allocates a zipped intermediate array per row, and
  * re-boxes every element; this expression is a whole-stage-codegen'd
  * tight loop over the unsafe array data.
  *
  * Summation is the same left-to-right sequential fold as the HOF
  * version and the DuckDB oracle's list_reduce — results are
  * bit-identical, so swapping implementations does not perturb any
  * oracle hash.
  *
  * Null handling: null arrays propagate null (BinaryExpression default);
  * null *elements* read as 0.0 (embeddings carry none — documented
  * contract, avoids a per-element branch in the hot loop). Lengths may
  * differ; the shorter bounds the loop.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}
