package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Subword tokenization against a COMMITTED vocabulary as a native
  * Catalyst expression — the realism gap r13 named: whitespace "tokens"
  * are not what a training pipeline budgets by; subword counts are. The
  * vocabulary is BPE-trained offline and frozen
  * ([[graft.tools.TrainBpeVocab]], the IVF/PQ committed-model precedent);
  * the ENCODE is greedy longest-match (the WordPiece serving convention,
  * publicly standard): from each position take the longest vocabulary
  * piece, bounded at [[BpeEncode.MaxPieceLen]] characters, falling back
  * to the single character (every character is implicitly in-vocabulary,
  * so coverage is total and no UNK state exists).
  *
  * Why an Expression (rung b): the per-position loop with a hash-set
  * probe cannot be expressed as a fixed Catalyst expression tree without
  * an O(|V|) literal-array scan per probe; as a native expression it
  * stays UDF-free, null-safe through the framework, and inside
  * whole-stage codegen (the generated code is one static call).
  *
  * The vocabulary rides the expression as a [[BpeVocabRef]] HANDLE (r14
  * VERDICT #1 — previously a plan-literal Seq): plan text and
  * canonicalization see only the model fingerprint, tasks serialize only
  * the broadcast stub, and the generated code resolves the probe set
  * ONCE per codegen instance into a mutable slot — zero per-row
  * indirection beyond the set lookup itself.
  *
  * Oracle portability: greedy longest-match with a bounded window
  * replays in DuckDB as a recursive CTE whose step is a fixed CASE chain
  * of `substr(w, pos, L) IN (SELECT piece ...)` probes reading the SAME
  * committed parquet model, L = MaxPieceLen..2, ELSE 1 — bit-exact
  * agreement at any vocabulary size, spec- and hash-pinned. Positions
  * are Java char (UTF-16) offsets on the Spark side and code points in
  * DuckDB — identical for BMP text; the corpus convention (wordsSafe
  * lowercase whitespace words) is ASCII-safe by construction. */
case class BpeEncode(child: Expression, model: BpeVocabRef)
    extends UnaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_bpe"
  override protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(s: Any): Any =
    BpeEncode.encode(s.asInstanceOf[UTF8String], model.probe())

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String = {
    val refName = ctx.addReferenceObj("bpeModel", model,
      classOf[BpeVocabRef].getName)
    // resolve the probe set once per codegen instance (partition init),
    // not once per row — the handle's probe() memoizes per JVM anyway,
    // but the mutable slot also skips the volatile read in the row loop
    val setVar = ctx.addMutableState("java.util.HashSet", "bpeSet",
      v => s"$v = $refName.probe();")
    staticCall(ev, "graft.functions.BpeEncode.encode", inputs.head, setVar)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeEncode {
  /** Longest piece the encode will match (and the trainer will form):
    * bounds the oracle's CASE chain and the per-position probe count. */
  val MaxPieceLen = 8

  /** Static helper the generated code calls. Greedy longest-match:
    * at each position try lengths min(MaxPieceLen, remaining)..2 against
    * the vocabulary, else emit the single character. */
  def encode(s: UTF8String, vocab: java.util.HashSet[String]): ArrayData = {
    val w = s.toString
    val out = new java.util.ArrayList[AnyRef](math.max(4, w.length / 2))
    var i = 0
    while (i < w.length) {
      var l = math.min(MaxPieceLen, w.length - i)
      while (l > 1 && !vocab.contains(w.substring(i, i + l))) l -= 1
      out.add(UTF8String.fromString(w.substring(i, i + l)))
      i += l
    }
    new GenericArrayData(out.toArray)
  }

  /** Column form — usable on ANY session (no function-registry dependency). */
  def apply(c: Column, model: BpeVocabRef): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(c), model))

  /** Spec/ad-hoc Column form over an inline vocabulary (see
    * [[BpeVocabRef.inline]] for the cost caveat). The id is a CONTENT
    * digest — ref equality is by id alone (Catalyst may substitute one
    * equal-id encode for another under CSE/plan caching), so a 32-bit
    * Seq.hashCode id would have let two different vocabularies
    * canonicalize as interchangeable (review catch). The digest input
    * is LENGTH-PREFIXED per piece, not separator-joined: validate()
    * never forbids any particular character inside a piece, so no
    * single separator byte can be unambiguous (ADVICE r15 flagged the
    * original " " join; a raw \u0000 join has the same flaw one
    * codepoint over). */
  def apply(c: Column, vocab: Seq[String]): Column = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(vocab.map(p => s"${p.length}:$p").mkString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    apply(c, BpeVocabRef.inline(s"inline:$digest", vocab))
  }
}
