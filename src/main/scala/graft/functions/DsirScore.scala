package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 1e-6-quantized DSIR importance score of one document:
  * `s = Σ_b round(c_b · lr_b · 1e6)` over hashed unigram+bigram bucket
  * counts — the whole per-row pipeline (trim/lower/split, n-gram
  * assembly, md5 bucketing, count accumulation, HALF_UP quantization,
  * integer sum) as ONE codegen'd call.
  *
  * Replaces the higher-order-function form inside
  * [[graft.ops.Selection.dsirScoredStateless]]: HOF lambdas are
  * interpreted per element (transform → md5 → aggregate with struct
  * state ran ~5.4 s over sf0.1's 5k docs), where this expression is a
  * single compiled method fused into whole-stage codegen.
  *
  * VALUE-IDENTICAL to the Column derivation by construction — each step
  * reuses the exact primitive Catalyst evaluates:
  *   - tokenization: `UTF8String.trim().toLowerCase().split("\\s+", -1)`
  *     — the same calls `split(lower(trim(text)), '\\s+')` lowers to,
  *     including the `[""]` result for empty/whitespace-only text;
  *   - bigrams: space-joined adjacent pairs, none below 2 words
  *     ([[graft.ops.TextOps.shingles]] n = 2 semantics);
  *   - bucket: first 48 bits of md5 (the [[graft.ops.TextOps.shingleHash]]
  *     hex-prefix value, read here directly from the digest bytes)
  *     mod `lr.length`;
  *   - quantization: `java.math.BigDecimal.valueOf(x).setScale(0,
  *     HALF_UP)` — literally Catalyst `Round`'s double path — then the
  *     exact long sum.
  * The identity is pinned three ways: SelectionSpec (fixture corpus),
  * SelectionPropertySpec (arbitrary corpora), and q_dsir_gate's oracle
  * (DuckDB replays the exploded derivation against this expression's
  * output). */
case class DsirScore(child: Expression, lr: Array[Double])
    extends UnaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_dsir_score"
  override protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    DsirScore.score(input.asInstanceOf[UTF8String], lr)

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String =
    staticCall(ev, "graft.functions.DsirScore.score", inputs.head,
      ctx.addReferenceObj("dsirLr", lr, "double[]"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirScore {
  /** 48-bit md5-prefix bucket of one feature ([[Md5Bucket]] — the
    * shared kernel form of the corpus hash convention). */
  private def bucketOf(f: UTF8String, buckets: Int,
                       md: java.security.MessageDigest): Int =
    (Md5Bucket.h48(md, f.getBytes) % buckets).toInt

  /** The per-row kernel the generated code calls. */
  def score(text: UTF8String, lr: Array[Double]): Long = {
    val buckets = lr.length
    val w = Md5Bucket.words(text)
    val md = Md5Bucket.md()
    val counts = new Array[Long](buckets)
    var i = 0
    while (i < w.length) {
      counts(bucketOf(w(i), buckets, md)) += 1L
      if (i + 1 < w.length)
        counts(bucketOf(UTF8String.concat(w(i), Md5Bucket.Space, w(i + 1)), buckets, md)) += 1L
      i += 1
    }
    var s = 0L
    var b = 0
    while (b < buckets) {
      // Catalyst Round at scale 0, then the truncating long cast
      if (counts(b) != 0L) s += Md5Bucket.roundHalfUp(counts(b) * lr(b) * 1e6, 0).toLong
      b += 1
    }
    s
  }

  /** Column form; NULL text scores like '' (the wordsSafe convention). */
  def scoreCol(text: Column, lr: Array[Double]): Column =
    ColumnBridge.column(DsirScore(Md5Bucket.textOrEmpty(text), lr))
}
