package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native CCNet-style n-gram LM document score — the whole per-row
  * pipeline of [[graft.ops.LmScore.lmScores]] (trim/lower/split, n-gram
  * and (n−1)-gram-prefix assembly, 48-bit md5 hashing, CMS min-of-depth
  * lookups against the two literal counter tables, integer bit-length
  * NLL and the left-to-right float NLL fold) as ONE codegen'd call
  * returning a (n_bigrams, q2_nll, nll) struct.
  *
  * r20 OPT (guide §1.2 "per-task work" / §4 expression choice): the
  * Column form chained five higher-order functions per row (transform →
  * shingleHash, transform → cmsLookupHashed ×2, zip_with + aggregate ×2)
  * whose lambdas evaluate INTERPRETED per element — the [[DsirScore]]
  * lesson, measured at ~1.5 s of the doremiWeights scan at sf0.1. This
  * expression is a single compiled method fused into whole-stage codegen.
  *
  * VALUE-IDENTICAL to the Column derivation by construction — each step
  * reuses the exact primitive Catalyst evaluates:
  *   - tokenization: `UTF8String.trim().toLowerCase().split("\\s+", -1)`
  *     — identical to `split(lower(trim(text)), '\\s+')`, including the
  *     `[""]` result for empty/whitespace-only text;
  *   - n-grams / prefixes: space-joined word windows — none below n
  *     words ([[graft.ops.TextOps.shingles]] semantics; prefixes are the
  *     (n−1)-windows at n-gram START positions, L−n+1 of them);
  *   - hash: first 48 bits of md5 ([[Md5Bucket.h48]], the
  *     [[graft.ops.TextOps.shingleHash]] value);
  *   - CMS estimate: `min_d flat[d·width + ((h%P)·a_d + b_d) % P % width]`
  *     with [[graft.ops.Dedup.minhashConsts]]' (a, b) rows — the
  *     [[graft.ops.Sketches.cmsLookupHashed]] arithmetic verbatim;
  *   - q2 term: `length(bin(eu + vocab)) − length(bin(eb + 1))` =
  *     bit-length difference of positive longs (64 − nlz);
  *   - nll: per-position `Math.log((eu+vocab)/(eb+1))` summed LEFT TO
  *     RIGHT (the `aggregate` fold order — float addition is
  *     order-sensitive, so the fold order is part of the contract),
  *     divided by max(positions, 1), then Catalyst Round's double path
  *     (shortest-repr BigDecimal, HALF_UP at scale 6).
  * LmScoreSpec pins this expression against the exploded Column
  * derivation on the real fixture; the registered oracles replay the
  * exploded form in DuckDB. */
case class LmDocScore(child: Expression, n: Int, gram: Array[Long],
                      prefix: Array[Long], depth: Int, width: Int,
                      vocab: Long)
    extends UnaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_lm_doc_score"
  override protected def argTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("q2_nll", LongType, nullable = false),
    StructField("nll", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    LmDocScore.score(input.asInstanceOf[UTF8String], n, gram, prefix,
      depth, width, vocab)

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String =
    staticCall(ev, "graft.functions.LmDocScore.score", inputs.head, n.toString,
      ctx.addReferenceObj("lmGram", gram, "long[]"),
      ctx.addReferenceObj("lmPrefix", prefix, "long[]"),
      depth.toString, width.toString, s"${vocab}L")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LmDocScore {
  private val P = graft.ops.Dedup.MinhashP

  /** (a, b) hash rows for a given depth — [[graft.ops.Dedup
    * .minhashConsts]], cached per depth (depth is 4 in practice). */
  private val constsCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
  private def consts(depth: Int): Array[Array[Long]] =
    constsCache.computeIfAbsent(depth, d =>
      graft.ops.Dedup.minhashConsts(d).map(ab => Array(ab._1, ab._2)).toArray)

  /** min over the depth counters — [[graft.ops.Sketches.cmsLookupHashed]]
    * verbatim on an already-computed 48-bit hash. */
  private def cmsMin(h48: Long, flat: Array[Long], ab: Array[Array[Long]],
                     width: Int): Long = {
    val hb = h48 % P
    var est = Long.MaxValue
    var d = 0
    while (d < ab.length) {
      val cell = ((hb * ab(d)(0) + ab(d)(1)) % P % width).toInt
      val v = flat(d * width + cell)
      if (v < est) est = v
      d += 1
    }
    est
  }

  /** The per-row kernel the generated code calls. */
  def score(text: UTF8String, n: Int, gram: Array[Long],
            prefix: Array[Long], depth: Int, width: Int,
            vocab: Long): InternalRow = {
    val w = Md5Bucket.words(text)
    val ab = consts(depth)
    val md = Md5Bucket.md()
    val positions = if (w.length >= n) w.length - n + 1 else 0
    var q2 = 0L
    var nllSum = 0.0
    var i = 0
    while (i < positions) {
      // gram = words[i..i+n-1] space-joined; prefix = words[i..i+n-2]
      var g = w(i)
      var k = 1
      while (k < n - 1) { g = UTF8String.concat(g, Md5Bucket.Space, w(i + k)); k += 1 }
      val pfx = g
      if (n >= 2) g = UTF8String.concat(g, Md5Bucket.Space, w(i + n - 1))
      val eb = cmsMin(Md5Bucket.h48(md, g.getBytes), gram, ab, width)
      val eu = cmsMin(Md5Bucket.h48(md, pfx.getBytes), prefix, ab, width)
      // both bit-length arguments are >= 1
      q2 += Md5Bucket.bitLen(eu + vocab) - Md5Bucket.bitLen(eb + 1L)
      nllSum += java.lang.Math.log((eu + vocab).toDouble / (eb + 1L).toDouble)
      i += 1
    }
    val nll = Md5Bucket.roundHalfUp(nllSum / math.max(positions, 1), 6)
    new GenericInternalRow(Array[Any](positions.toLong, q2, nll))
  }

  /** Column form over a trained [[graft.ops.LmScore.NgramLm]]; NULL text
    * scores like '' (the wordsSafe convention). */
  def scoreCol(text: Column, lm: graft.ops.LmScore.NgramLm): Column =
    ColumnBridge.column(LmDocScore(Md5Bucket.textOrEmpty(text),
      lm.n, lm.gram, lm.prefix, lm.depth, lm.width, lm.vocab))
}
