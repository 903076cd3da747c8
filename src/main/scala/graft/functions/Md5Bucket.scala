package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** The per-row text steps the text kernels ([[DsirScore]], [[LmDocScore]],
  * [[NbDocScore]], [[LangIdScore]]) share, each written once: the corpus-wide
  * 48-bit md5-prefix hash, the whitespace tokenizer, the bit length, the
  * Catalyst `Round` step and the null-as-empty input.
  *
  * `h48(bytes)` is byte-for-byte the value
  * `conv(substring(md5(s), 1, 12), 16, 10)` yields (the digest's first
  * 6 bytes read unsigned big-endian) — [[graft.ops.TextOps.shingleHash]]
  * in kernel form. One digest instance per executor thread (r17
  * ADVICE): a per-ROW `MessageDigest.getInstance` is billions of
  * provider lookups + allocations on a 100 TB scan; the instance is
  * stateless between `reset()`-prefixed uses, so thread confinement is
  * the whole safety argument. */
private[functions] object Md5Bucket {

  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The caller's per-row digest handle — fetch ONCE per row, not per
    * feature (ThreadLocal.get is cheap but not free). */
  def md(): java.security.MessageDigest = localMd.get()

  /** 48-bit md5 prefix of `bytes[off, off+len)`. */
  def h48(md: java.security.MessageDigest, bytes: Array[Byte],
          off: Int, len: Int): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
      ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
      ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
  }

  /** 48-bit md5 prefix of a whole byte array. */
  def h48(md: java.security.MessageDigest, bytes: Array[Byte]): Long =
    h48(md, bytes, 0, bytes.length)

  val Space: UTF8String = UTF8String.fromString(" ")
  private val WsPattern = UTF8String.fromString("\\s+")

  /** `split(lower(trim(text)), '\\s+')` with the same UTF8String calls
    * Catalyst evaluates, including the `[""]` result for empty or
    * whitespace-only text. */
  def words(text: UTF8String): Array[UTF8String] =
    text.trim().toLowerCase().split(WsPattern, -1)

  /** `length(bin(x))` for positive x: 64 − nlz. */
  def bitLen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)

  /** Catalyst `Round`'s double path: shortest-repr BigDecimal, HALF_UP at
    * `scale`, back to double. */
  def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A text kernel's input: NULL text reads as '' (the wordsSafe
    * convention). */
  def textOrEmpty(text: Column): Expression = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    ColumnBridge.expression(coalesce(text, lit("")))
  }
}
