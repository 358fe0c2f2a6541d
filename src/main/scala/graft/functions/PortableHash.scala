package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared engine-portable hashing: the first 60 bits (15 hex digits) of
  * md5, the hash any SQL engine can replay
  * (`('0x'||substr(md5(s),1,15))::BIGINT`).
  *
  * The digest instance is THREAD-LOCAL: `MessageDigest.getInstance` per
  * value costs ~10µs of provider lookup and serializes under many-core
  * contention (measured: a 32-task stage spent 24s of cpu where the
  * hashing itself was worth ~1s). One instance per executor thread,
  * reset by `digest()` itself, removes both costs.
  */
object PortableHash {
  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** The 60-bit fold of a full md5 digest: 7 full bytes + the high
    * nibble of byte 7, matching the hex-prefix parse exactly. ONE
    * definition — every hashing entry point folds through here, which
    * is what the cross-path parity specs and the DuckDB replay rest on. */
  private def fold60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xFL)
  }

  /** First 60 bits of md5(bytes[off, off+len)). */
  def md5Hash60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val digest = md.get()
    digest.reset() // insurance against a dirty shared thread-local
    digest.update(bytes, off, len)
    fold60(digest.digest())
  }

  def md5Hash60(s: UTF8String): Long = {
    val b = s.getBytes
    md5Hash60(b, 0, b.length)
  }

  private val space = Array[Byte](' ')

  /** md5Hash60 of the space-joined byte ranges `offs[from until
    * from+count]` of `bytes` (each element packs (start << 32) | end —
    * [[GramHashesExpr.tokenOffsets]]'s layout): byte-identical to
    * joining the token substrings with single spaces and hashing the
    * result, with zero string allocation per gram. */
  def md5Hash60Ranges(bytes: Array[Byte], offs: Array[Long],
                      from: Int, count: Int): Long = {
    val digest = md.get()
    digest.reset()
    var i = 0
    while (i < count) {
      if (i > 0) digest.update(space, 0, 1)
      val o = offs(from + i)
      val s = (o >>> 32).toInt
      digest.update(bytes, s, (o & 0xFFFFFFFFL).toInt - s)
      i += 1
    }
    fold60(digest.digest())
  }

  /** md5Hash60 of `toks[from until from+count]` joined by single spaces —
    * byte-identical to hashing `array_join(slice(...), " ")` (or
    * `concat_ws`), but via incremental digest updates: no joined-string
    * allocation per call. Null elements are skipped, separator
    * included, exactly as both joins skip them. The explicit reset()
    * guards the shared thread-local against state left by any earlier
    * exception between updates (a dirty digest would silently corrupt
    * every later hash on this executor thread). */
  def md5Hash60Join(toks: Array[UTF8String], from: Int, count: Int): Long = {
    val digest = md.get()
    digest.reset()
    var joined = false
    var i = 0
    while (i < count) {
      val t = toks(from + i)
      if (t != null) {
        if (joined) digest.update(space, 0, 1)
        val b = t.getBytes
        digest.update(b, 0, b.length)
        joined = true
      }
      i += 1
    }
    fold60(digest.digest())
  }
}

/** `md5_hash60(str)` — native form of
  * [[graft.operators.Dedup.md5Hash60]]: same value as
  * `conv(substr(md5(s),1,15),16,10)` without the hex-string round-trip or
  * the per-call digest lookup (thread-local digest, one codegen'd static
  * call). The minhash pipeline's base hash runs through this when the
  * session carries [[GraftExtensions]]. */
case class Md5Hash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash60"

  override protected def nullSafeEval(input: Any): Any =
    PortableHash.md5Hash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableHash.md5Hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
