package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native |a ∩ b| for two DISTINCT-element long arrays — the refine-side
  * counting kernel of the dedup family (`size(array_intersect(a, b))`
  * without materializing the intersection array).
  *
  * r20 OPT (guide §1.2 "per-task work" / §4 expression choice):
  * `ArrayIntersect` builds a boxed hash set per call AND allocates the
  * result array that `size` immediately reduces to one int — measured
  * 24-93 s of process CPU on q_containment_pairs' 1.04M candidate pairs
  * at sf0.1. This kernel is one primitive open-addressing pass: build a
  * long[] table from the smaller side, probe the larger, count.
  *
  * Contract: inputs are DISTINCT-element arrays of non-null longs (the
  * [[graft.ops.TextOps.hashedShingleSet]] invariant — array_distinct is
  * applied at derivation, and md5-hash values are never null). Under
  * that contract the count equals `size(array_intersect(a, b))` exactly;
  * DedupSpec pins it and every registered oracle replays
  * `len(list_intersect(...))` in DuckDB. */
case class IntersectCount64(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override protected def sqlName: String = "graft_intersect_count64"
  override protected def argTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount64.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def kernelCode(ctx: CodegenContext, ev: ExprCode,
      inputs: Seq[String]): String =
    staticCall(ev, "graft.functions.IntersectCount64.count", inputs: _*)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCount64 {

  /** splitmix-style finalizer spreading the md5-prefix bits over the
    * table (the hash inputs are already uniform 48-bit values; one
    * multiply-shift suffices for open addressing). */
  @inline private def spread(x: Long): Long = {
    val z = x * 0x9E3779B97F4A7C15L
    z ^ (z >>> 32)
  }

  /** The per-row kernel the generated code calls. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0 || large.numElements() == 0) return 0L
    // power-of-two capacity >= 2n keeps the load factor <= 0.5
    var cap = 4
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var i = 0
    while (i < n) {
      val v = small.getLong(i)
      var slot = (spread(v) & mask).toInt
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      table(slot) = v
      used(slot) = true
      i += 1
    }
    var c = 0L
    val m = large.numElements()
    var j = 0
    while (j < m) {
      val v = large.getLong(j)
      var slot = (spread(v) & mask).toInt
      var found = false
      while (used(slot) && !found) {
        if (table(slot) == v) found = true
        else slot = (slot + 1) & mask
      }
      if (found) c += 1L
      j += 1
    }
    c
  }

  /** Column form. */
  def of(a: Column, b: Column): Column =
    ColumnBridge.column(IntersectCount64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
