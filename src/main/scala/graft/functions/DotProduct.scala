package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product of two numeric arrays → double.
  *
  * Replaces both the boxing Scala UDF (which converts each ArrayData to a
  * `Seq[Float]` per call) and the `zip_with`+`aggregate` higher-order chain
  * (which allocates an intermediate array and interprets two lambdas per
  * element, outside whole-stage codegen). This expression participates in
  * codegen: the generated code is a primitive `for` loop over the two
  * `ArrayData`s with zero allocation, fused into the surrounding stage.
  *
  * Semantics (kept bit-identical to the operators it replaces, so DuckDB
  * oracles replay it as `list_dot_product(a::DOUBLE[], b::DOUBLE[])`):
  *   - strict left-to-right double summation (deterministic; never
  *     reassociated);
  *   - each float element widens exactly to double before multiplying;
  *   - length mismatch truncates to the shorter array (UDF parity);
  *   - null array → null; null ELEMENTS contribute 0.0 (embeddings are
  *     dense; documented, not load-bearing on the fixtures).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_dot"
  override protected def argTypes: Seq[DataType] = DotProduct.NumericArray
  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = isFloat(left); val yf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String = {
    val (a, b) = (inputs(0), inputs(1))
    val i = ctx.freshName("i")
    val n = ctx.freshName("n")
    val s = ctx.freshName("s")
    val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
    val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
    s"""
       |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double $s = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
       |    $s += $getX * $getY;
       |  }
       |}
       |${ev.value} = $s;
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** array<float> or array<double>, per argument. */
  private[functions] val NumericArray: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))

  /** Column form — usable on ANY session (no function-registry dependency). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
}
