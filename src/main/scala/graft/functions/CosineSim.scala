package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst cosine similarity of two numeric arrays → double,
  * fusing the three array traversals of the decomposed form
  * (`graft_dot(a,b) / (sqrt(graft_dot(a,a)) · sqrt(graft_dot(b,b)))`)
  * into ONE primitive loop accumulating a·b, a·a, b·b together — the
  * ANN re-rank hot path touches each candidate array once instead of
  * three times (and the query array once instead of relying on a
  * precomputed-norm column threaded through the plan).
  *
  * BIT-IDENTICAL to the decomposed form it replaces, by construction:
  * each accumulator is the same strict left-to-right double fold the
  * standalone [[DotProduct]] performs (a·a over a's FULL length, b·b
  * over b's, a·b over the shorter — matching `norm(a)`'s independence
  * from b), and the final combine is literally `sab / (sqrt(saa) *
  * sqrt(sbb))` — so DuckDB oracles keep replaying
  * `list_dot_product(a,b) / (sqrt(list_dot_product(a,a)) * ...)`
  * (CosineSimPropertySpec asserts raw-bits equality on generated
  * inputs). ONE deliberate divergence: a zero/empty vector yields IEEE
  * NaN here, where the decomposed Column form THROWS under ANSI Spark's
  * `/0` error — the fused expression is strictly more robust on the
  * degenerate rows a re-rank can meet (the decomposed form fails the
  * whole query). Caveat, stated not hidden: Spark orders NaN ABOVE every
  * double, so a zero vector would surface at the head of a descending
  * re-rank on the RAW expression — which is why the shared re-rank
  * wrapper [[graft.ops.Similarity.cosRound]] nan-to-nulls the result so
  * degenerate rows sort LAST (ADVICE r11; SimilaritySpec pins it).
  * Callers using `cos` directly own that guard themselves. Null array →
  * null; null ELEMENTS are skipped per-accumulator, the exact decomposed
  * behavior (CosineSimPropertySpec asserts raw-bits equality on interior
  * nulls in both interpreted and codegen forms).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_cos"
  override protected def argTypes: Seq[DataType] = DotProduct.NumericArray
  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    val n = math.max(na, nb); val nc = math.min(na, nb)
    val xf = isFloat(left); val yf = isFloat(right)
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      val xOk = i < na && !x.isNullAt(i)
      val yOk = i < nb && !y.isNullAt(i)
      val xv = if (xOk) { if (xf) x.getFloat(i).toDouble else x.getDouble(i) } else 0.0
      val yv = if (yOk) { if (yf) y.getFloat(i).toDouble else y.getDouble(i) } else 0.0
      if (xOk) saa += xv * xv
      if (yOk) sbb += yv * yv
      if (i < nc && xOk && yOk) sab += xv * yv
      i += 1
    }
    sab / (math.sqrt(saa) * math.sqrt(sbb))
  }

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String = {
    val (a, b) = (inputs(0), inputs(1))
    val i = ctx.freshName("i")
    val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val n = ctx.freshName("n")
    val sab = ctx.freshName("sab")
    val saa = ctx.freshName("saa")
    val sbb = ctx.freshName("sbb")
    val xv = ctx.freshName("xv")
    val yv = ctx.freshName("yv")
    val xOk = ctx.freshName("xOk")
    val yOk = ctx.freshName("yOk")
    val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
    val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
    s"""
       |int $na = $a.numElements();
       |int $nb = $b.numElements();
       |int $n = java.lang.Math.max($na, $nb);
       |double $sab = 0.0; double $saa = 0.0; double $sbb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  boolean $xOk = $i < $na && !$a.isNullAt($i);
       |  boolean $yOk = $i < $nb && !$b.isNullAt($i);
       |  double $xv = $xOk ? $getX : 0.0;
       |  double $yv = $yOk ? $getY : 0.0;
       |  if ($xOk) $saa += $xv * $xv;
       |  if ($yOk) $sbb += $yv * $yv;
       |  if ($xOk && $yOk) $sab += $xv * $yv;
       |}
       |${ev.value} = $sab / (java.lang.Math.sqrt($saa) * java.lang.Math.sqrt($sbb));
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column form — usable on ANY session (no function-registry dependency). */
  def cos(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))
}
