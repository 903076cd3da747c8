package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression — the dedup
  * prerequisite for real-world text: composed `é` (U+00E9) and decomposed
  * `e`+`U+0301` are byte-different but render identically, so an exact
  * or fingerprint dedup without canonicalization silently treats visually
  * identical documents as distinct. Spark has no built-in normalizer;
  * this stays UDF-free (no Row boxing, null handling from the expression
  * framework, stays inside whole-stage codegen — the generated code is a
  * single static call on the already-materialized UTF8String).
  *
  * Fast path: `Normalizer.isNormalized` is a cheap scan that short-
  * circuits the (allocating) normalize call — for the overwhelmingly-
  * ASCII corpora this engine targets, the common case does no allocation
  * beyond the input.
  *
  * Oracle portability: DuckDB `nfc_normalize(s)` implements the same
  * Unicode canonical composition, so normalized fingerprints hash-match
  * across engines (NfcNormalizeSpec pins composed == decomposed and the
  * fingerprint collision). */
case class NfcNormalize(child: Expression) extends UnaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_nfc"
  override protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(s: Any): Any =
    NfcNormalize.nfc(s.asInstanceOf[UTF8String])

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String =
    staticCall(ev, "graft.functions.NfcNormalize.nfc", inputs: _*)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static helper the generated code calls (the companion-class static
    * forwarder makes `graft.functions.NfcNormalize.nfc(...)` valid Java). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** Column form — usable on ANY session (no function-registry dependency). */
  def apply(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
}
