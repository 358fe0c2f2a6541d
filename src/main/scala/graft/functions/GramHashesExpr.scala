package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass token k-gram md5-60 hashing — the decontamination
  * family's dominant compute (round-19 x10 trace: the q112 gram stage
  * carried 35-37 s of executor time at sf0.1×10, ~90% of it Catalyst
  * lambda interpretation + per-gram `array_join` string allocation, not
  * md5 itself).
  *
  * `gram_hashes(text, k)` computes exactly what
  * [[graft.operators.Dedup.gramHashes]]'s composable form computes:
  * tokens of `lower(text)` (split on ASCII whitespace runs, empties
  * dropped), one hash per gram start position `0..max(T-k, 0)` of the
  * space-joined gram `toks[i until min(i+k, T))`, distinct by value in
  * FIRST-OCCURRENCE order (`array_distinct` semantics). T = 0 yields the
  * single hash of the empty string, exactly like the composable
  * `sequence(0, greatest(-k, 0))` path. Hashes are md5-60
  * ([[PortableHash]]) fed incrementally (token bytes + single spaces), so
  * no gram string is ever materialized — byte-identical to hashing
  * `array_join(slice(toks, i+1, k), " ")`, which is what the parity spec
  * asserts and the DuckDB oracle replays.
  */
case class GramHashesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  override protected def nullSafeEval(text: Any, k: Any): Any =
    GramHashesExpr.compute(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, k) => s"graft.functions.GramHashesExpr.compute($t, $k)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object GramHashesExpr {

  private[functions] def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Tokenize lowercased bytes into (start, end) offset pairs, packed as
    * (start << 32) | end. ASCII-whitespace scan — multi-byte UTF-8 units
    * never contain ASCII bytes, so the byte walk equals the composable
    * `split(trim(text), "\\s+")` + non-empty filter (the
    * MinhashBandsExpr precedent). */
  private[functions] def tokenOffsets(bytes: Array[Byte]): Array[Long] = {
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        count += 1
        while (i < n && !isWs(bytes(i))) i += 1
      }
    }
    val offs = new Array[Long](count)
    var t = 0
    i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && !isWs(bytes(i))) i += 1
        offs(t) = (s.toLong << 32) | i.toLong
        t += 1
      }
    }
    offs
  }

  /** Called from generated code. */
  def compute(input: UTF8String, k: Int): GenericArrayData = {
    val bytes = input.toLowerCase.getBytes
    val offs = tokenOffsets(bytes)
    val t = offs.length
    val nGrams = math.max(t - k, 0) + 1
    // distinct, first-occurrence order: open-addressing long set (0 kept
    // out of the table via an explicit flag — a 60-bit md5 CAN be 0)
    var cap = java.lang.Integer.highestOneBit(math.max(nGrams * 2 - 1, 4)) * 2
    val table = new Array[Long](cap)
    var hasZero = false
    val out = new Array[Long](nGrams)
    var outN = 0
    val mask = cap - 1
    var i = 0
    while (i < nGrams) {
      val from = i
      val count = math.min(i + k, t) - i
      val h = PortableHash.md5Hash60Ranges(bytes, offs, from, count)
      if (h == 0L) {
        if (!hasZero) { hasZero = true; out(outN) = 0L; outN += 1 }
      } else {
        var slot = (scala.util.hashing.byteswap64(h) & mask).toInt
        var seen = false
        var probing = true
        while (probing) {
          val v = table(slot)
          if (v == 0L) { table(slot) = h; probing = false }
          else if (v == h) { seen = true; probing = false }
          else slot = (slot + 1) & mask
        }
        if (!seen) { out(outN) = h; outN += 1 }
      }
      i += 1
    }
    new GenericArrayData(
      if (outN == out.length) out else java.util.Arrays.copyOf(out, outN))
  }
}

/** Native positional token n-gram md5-60 hashing — the duplicate vote
  * of [[graft.operators.Dedup.removeDuplicatedNgrams]] (one hash per
  * start position, duplicates KEPT — positions are the point; the
  * rewrite rehashes the same grams from the text bytes in
  * [[NgramDropExpr]]).
  * `gram_pos_hashes(toks, n)` equals the composable
  * `transform(sequence(0, size(toks) - n), i =>
  * md5_hash60(concat_ws(" ", slice(toks, i+1, n))))` for
  * `size(toks) >= n`, null elements included (skipped in the join, as
  * `concat_ws` skips them); shorter arrays return an empty array (the
  * operator filters them out before this expression is ever evaluated —
  * the composable `sequence(0, negative)` form would throw on them). */
case class GramPosHashesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_pos_hashes"
  override protected def nullSafeEval(toks: Any, n: Any): Any =
    GramPosHashesExpr.compute(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n) => s"graft.functions.GramPosHashesExpr.compute($t, $n)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object GramPosHashesExpr {
  /** Called from generated code. */
  def compute(toksData: ArrayData, n: Int): GenericArrayData = {
    val t = toksData.numElements()
    if (t < n) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[UTF8String](t)
    var i = 0
    while (i < t) { toks(i) = toksData.getUTF8String(i); i += 1 }
    val out = new Array[Long](t - n + 1)
    i = 0
    while (i <= t - n) {
      out(i) = PortableHash.md5Hash60Join(toks, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }
}
