package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Naive-Bayes document score — the whole per-row pipeline of
  * [[graft.ops.TextClassifier.nbScores]] (tokenize, drop empty tokens,
  * md5-48 bucket per token, pos/neg table lookups, integer bit-length
  * odds, left-to-right float log-odds fold from the prior, HALF_UP
  * rounding) as ONE codegen'd call returning a
  * (n_tokens, q2_odds, nb_logodds) struct.
  *
  * r20 OPT (guide §1.2 "per-task work" / §4): the Column form chained
  * five higher-order functions per row (filter, transform → md5,
  * transform ×2 table lookups, zip_with + aggregate ×2) — all
  * interpreted per element, the [[DsirScore]]/[[LmDocScore]] lesson.
  *
  * VALUE-IDENTICAL to the Column derivation by construction: the same
  * UTF8String trim/lower/split tokenization, the same
  * [[Md5Bucket.h48]] % buckets bucket, `length(bin(x))` = 64 − nlz for
  * the positive bit-length terms, `Math.log` on the same double ratios
  * in the same fold order (seeded with ln(posDocs/negDocs), one
  * two-log term added per token left to right), and Catalyst Round's
  * BigDecimal HALF_UP path at scale 6. TextClassifierSpec pins this
  * kernel against the exploded Column derivation. */
case class NbDocScore(child: Expression, pos: Array[Long], neg: Array[Long],
                      posTokens: Long, negTokens: Long,
                      posDocs: Long, negDocs: Long, buckets: Int)
    extends UnaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_nb_doc_score"
  override protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("q2_odds", LongType, nullable = false),
    StructField("nb_logodds", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    NbDocScore.score(input.asInstanceOf[UTF8String], pos, neg,
      posTokens, negTokens, posDocs, negDocs, buckets)

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String =
    staticCall(ev, "graft.functions.NbDocScore.score", inputs.head,
      ctx.addReferenceObj("nbPos", pos, "long[]"),
      ctx.addReferenceObj("nbNeg", neg, "long[]"),
      s"${posTokens}L", s"${negTokens}L", s"${posDocs}L", s"${negDocs}L",
      buckets.toString)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NbDocScore {

  /** The per-row kernel the generated code calls. */
  def score(text: UTF8String, pos: Array[Long], neg: Array[Long],
            posTokens: Long, negTokens: Long, posDocs: Long,
            negDocs: Long, buckets: Int): InternalRow = {
    val w = Md5Bucket.words(text)
    val md = Md5Bucket.md()
    val pt = (posTokens + buckets).toDouble
    val nt = (negTokens + buckets).toDouble
    var n = 0L
    var q2 = 0L
    var acc = java.lang.Math.log(posDocs.toDouble / negDocs.toDouble)
    var i = 0
    while (i < w.length) {
      if (w(i).numBytes() > 0) { // the filter(_ =!= "") step
        n += 1L
        val b = (Md5Bucket.h48(md, w(i).getBytes) % buckets).toInt
        val p = pos(b)
        val ng = neg(b)
        q2 += Md5Bucket.bitLen(p + 1L) - Md5Bucket.bitLen(ng + 1L)
        acc += java.lang.Math.log((p + 1L).toDouble / pt) -
          java.lang.Math.log((ng + 1L).toDouble / nt)
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, q2, Md5Bucket.roundHalfUp(acc, 6)))
  }

  /** Column form over a trained [[graft.ops.TextClassifier.NbModel]];
    * NULL text scores like '' (the wordsSafe convention). */
  def scoreCol(text: Column, m: graft.ops.TextClassifier.NbModel): Column =
    ColumnBridge.column(NbDocScore(Md5Bucket.textOrEmpty(text),
      m.pos, m.neg, m.posTokens, m.negTokens, m.posDocs, m.negDocs, m.buckets))
}
