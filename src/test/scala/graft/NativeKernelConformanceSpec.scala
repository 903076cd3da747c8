package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Every native kernel in `graft.functions`, evaluated interpreted
  * (`Expression.eval`) and through a generated projection over one shared
  * edge-case corpus: null, empty, whitespace-only, non-ASCII and very long
  * text; NaN and ±0.0; empty, duplicate and null-element arrays. The two
  * paths must agree bit for bit (doubles by raw bits), once with nullable
  * inputs and once through the non-nullable codegen path. */
class NativeKernelConformanceSpec extends AnyFunSuite {

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def arr(xs: Any*): ArrayData = new GenericArrayData(xs.toArray)

  private val longText = ("The quick brown fox, zażółć gęślą jaźń; " * 5000) + "END"
  private val texts: Seq[String] = Seq(null, "", " ", "   \t\n ", "a", "a a a a",
    "Hello World", "  leading and trailing  ", "the thing and the other thing",
    "Zürich ŁÓDŹ straße 東京 🎉 café İstanbul ΣΊΣΥΦΟΣ", "ȩ́́ x",
    longText, longText.toUpperCase)

  private val doubleArrays: Seq[ArrayData] = Seq(null, arr(), arr(0.0), arr(-0.0),
    arr(0.0, -0.0), arr(Double.NaN, 1.0), arr(1.0, null, 3.0), arr(1.0, 2.0, 3.0),
    arr(1.0, 2.0, 3.0), arr(1e308, 1e308), arr(Double.MinPositiveValue, -2.5),
    arr(Seq.tabulate(4096)(i => math.sin(i.toDouble)): _*))
  private val floatArrays: Seq[ArrayData] = Seq(null, arr(), arr(0.0f), arr(-0.0f),
    arr(Float.NaN), arr(1.5f, null, -2.25f), arr(1.5f, 1.5f, 1.5f), arr(3.0e38f, 3.0e38f),
    arr(Seq.tabulate(4096)(i => math.cos(i.toDouble).toFloat): _*))
  private val longArrays: Seq[ArrayData] = Seq(null, arr(), arr(1L), arr(1L, 2L, 3L),
    arr(3L, 2L, 1L), arr(5L, 5L, 5L), arr(Long.MinValue, 0L, Long.MaxValue),
    arr(Seq.tabulate(5000)(i => i.toLong * 7919L): _*),
    arr(Seq.tabulate(5000)(i => i.toLong * 104729L): _*))
  private val longs: Seq[Any] = Seq(null, 0L, 1L, 7L, 15L, 31L)

  private def pairs[A](xs: Seq[A]): Seq[Seq[Any]] = for (a <- xs; b <- xs) yield Seq(a, b)

  private val model = Array.tabulate(16)(i => i * 37L % 11L) // CMS counts are >= 0
  private val lr = Array(0.0, -0.0, 1.25e-3, -7.5e-4, 2.0, 1e-12, -3.0, 0.5,
    0.125, -0.125, 1e-6, 4.4e-5, 0.0, 9.9, -9.9, 0.333)
  private val bpe = BpeVocabRef.inline("spec-vocab", Seq("th", "the", "ing", "an", "and", "er"))
  private val labels = Array("de", "en", "pl")
  private val langLr = Array.tabulate(3, 16)((c, b) => ((c + 1) * (b + 3) * 31 % 17) - 8L)

  private val dArr = ArrayType(DoubleType)
  private val fArr = ArrayType(FloatType)
  private val lArr = ArrayType(LongType)
  private val texts1 = texts.map(t => Seq[Any](utf8(t)))
  private val mixed = for (a <- floatArrays; b <- doubleArrays) yield Seq[Any](a, b)

  /** (argument types, kernel over its children, input rows), every kernel. */
  private val kernels: Seq[(Seq[DataType], Seq[Expression] => Expression, Seq[Seq[Any]])] = Seq(
    (Seq(dArr, dArr), c => DotProduct(c(0), c(1)), pairs(doubleArrays)),
    (Seq(fArr, fArr), c => DotProduct(c(0), c(1)), pairs(floatArrays)),
    (Seq(fArr, dArr), c => DotProduct(c(0), c(1)), mixed),
    (Seq(dArr, dArr), c => CosineSim(c(0), c(1)), pairs(doubleArrays)),
    (Seq(fArr, fArr), c => CosineSim(c(0), c(1)), pairs(floatArrays)),
    (Seq(fArr, dArr), c => CosineSim(c(0), c(1)), mixed),
    (Seq(lArr, lArr), c => IntersectCount64(c(0), c(1)), pairs(longArrays)),
    (Seq(LongType, LongType), c => HilbertIndex(c(0), c(1), 5), pairs(longs)),
    (Seq.fill(3)(LongType), c => HilbertIndexN(c, 5),
      for (a <- longs; b <- longs) yield Seq(a, b, a)),
    (Seq(StringType), c => NfcNormalize(c(0)), texts1),
    (Seq(StringType), c => BpeEncode(c(0), bpe), texts1),
    (Seq(StringType), c => DsirScore(c(0), lr), texts1),
    (Seq(StringType), c => LmDocScore(c(0), 2, model, model.reverse, 4, 4, 1000L), texts1),
    (Seq(StringType), c => LmDocScore(c(0), 3, model.reverse, model, 2, 8, 17L), texts1),
    (Seq(StringType), c => NbDocScore(c(0), model, model.reverse, 500L, 300L, 7L, 3L, 16),
      texts1),
    (Seq(StringType), c => LangIdScore(c(0), labels, langLr, Array(-3L, 0L, 2L), 2), texts1),
    (Seq(StringType), c => LangIdScore(c(0), labels, langLr, Array(0L, 0L, 0L), 3), texts1))

  /** Comparable form: doubles by raw bits, strings/arrays/structs by value. */
  private def norm(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    case DoubleType => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])
    case FloatType => java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float])
    case StringType => v.toString
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else norm(a.get(i, et), et))
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      st.fields.indices.map(i =>
        if (r.isNullAt(i)) null else norm(r.get(i, st(i).dataType), st(i).dataType))
    case _ => v
  }

  /** Evaluates every kernel both ways over its rows (rows with a null
    * input are skipped when the inputs are declared non-nullable). */
  private def conform(nullable: Boolean): Unit =
    kernels.foreach { case (types, build, rows) =>
      val expr = build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable) })
      assert(expr.checkInputDataTypes().isSuccess, expr.prettyName)
      val proj = GenerateMutableProjection.generate(Seq(expr), useSubexprElimination = false)
      val used = rows.filter(r => nullable || !r.contains(null))
      assert(used.nonEmpty, expr.prettyName)
      used.foreach { r =>
        val row = new GenericInternalRow(r.toArray)
        val interpreted = norm(expr.eval(row), expr.dataType)
        val out = proj(row)
        val generated =
          if (out.isNullAt(0)) null else norm(out.get(0, expr.dataType), expr.dataType)
        assert(interpreted == generated,
          s"${expr.prettyName} disagrees with itself on ${r.map(String.valueOf(_).take(60))}")
      }
    }

  test("every kernel: interpreted eval == generated projection, nullable inputs") {
    conform(nullable = true)
  }

  test("every kernel: interpreted eval == generated projection, non-nullable inputs") {
    conform(nullable = false)
  }

  test("the corpus covers all eleven kernels") {
    val names = kernels.map { case (types, build, _) =>
      build(types.map(t => Literal(null, t))).prettyName }.toSet
    assert(names == Set("graft_dot", "graft_cos", "graft_intersect_count64",
      "graft_hilbert", "graft_hilbert_n", "graft_nfc", "graft_bpe", "graft_dsir_score",
      "graft_lm_doc_score", "graft_nb_doc_score", "graft_langid"))
  }

  test("input types are checked without implicit casts") {
    val s = BoundReference(0, StringType, nullable = true)
    val i = BoundReference(0, IntegerType, nullable = true)
    val f = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true)
    val d = BoundReference(1, ArrayType(DoubleType), nullable = true)
    val ia = BoundReference(1, ArrayType(IntegerType), nullable = true)
    assert(DotProduct(f, d).checkInputDataTypes().isSuccess)
    assert(CosineSim(d, f).checkInputDataTypes().isSuccess)
    assert(DotProduct(f, ia).checkInputDataTypes().isFailure)
    assert(IntersectCount64(ia, ia).checkInputDataTypes().isFailure)
    assert(NfcNormalize(s).checkInputDataTypes().isSuccess)
    assert(DsirScore(i, lr).checkInputDataTypes().isFailure)
    assert(HilbertIndex(i, i, 3).checkInputDataTypes().isFailure)
    assert(HilbertIndexN(Seq(s, s), 3).checkInputDataTypes().isFailure)
  }
}
