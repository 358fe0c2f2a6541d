package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The span-drop kernel of [[graft.operators.Dedup.removeDuplicatedNgrams]]:
  * tokenize a document's bytes on ASCII whitespace runs (the
  * [[GramHashesExpr.tokenOffsets]] walk, equal to `TextAnalysis.tokens`),
  * drop every token a marked n-gram span `[p, p+n)` covers, and join the
  * kept tokens with single spaces. Returns `struct(clean_text,
  * n_removed)`. A document with nothing dropped whose text is already
  * single-space joined comes back as the input string, uncopied. */
object NgramDrop {

  val dataType: StructType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  /** Drop the spans whose md5-60 gram hash (the `gram_pos_hashes` value
    * of the gram starting there) is in `grams`, sorted ascending. */
  def dropGrams(text: UTF8String, grams: Array[Long], n: Int): InternalRow = {
    val bytes = text.getBytes
    val offs = GramHashesExpr.tokenOffsets(bytes)
    val t = offs.length
    var covered: Array[Boolean] = null
    if (grams.length > 0) {
      // a token is covered while the last marked span still reaches it
      var end = 0
      var p = 0
      while (p < t) {
        if (p <= t - n && java.util.Arrays.binarySearch(grams,
            PortableHash.md5Hash60Ranges(bytes, offs, p, n)) >= 0) end = p + n
        if (p < end) {
          if (covered == null) covered = new Array[Boolean](t)
          covered(p) = true
        }
        p += 1
      }
    }
    rebuild(text, bytes, offs, covered)
  }

  /** Drop the spans starting at the positions in `starts` (0-based gram
    * starts, any order, repeats allowed). */
  def dropStarts(text: UTF8String, starts: ArrayData, n: Int): InternalRow = {
    val bytes = text.getBytes
    val offs = GramHashesExpr.tokenOffsets(bytes)
    val t = offs.length
    val m = starts.numElements()
    var covered: Array[Boolean] = null
    var i = 0
    while (i < m) {
      val s = starts.getInt(i)
      var p = math.max(s, 0)
      val e = math.min(s + n, t)
      if (p < e && covered == null) covered = new Array[Boolean](t)
      while (p < e) { covered(p) = true; p += 1 }
      i += 1
    }
    rebuild(text, bytes, offs, covered)
  }

  /** The uncovered tokens single-space joined; `covered == null` means
    * none is. */
  private def rebuild(text: UTF8String, bytes: Array[Byte], offs: Array[Long],
                      covered: Array[Boolean]): InternalRow = {
    val t = offs.length
    var kept = 0
    var len = 0
    var i = 0
    while (i < t) {
      if (covered == null || !covered(i)) {
        val o = offs(i)
        len += (o & 0xFFFFFFFFL).toInt - (o >>> 32).toInt
        kept += 1
      }
      i += 1
    }
    val clean =
      if (kept == t && isJoined(bytes, offs)) text
      else {
        val out = new Array[Byte](len + math.max(kept - 1, 0))
        var w = 0
        i = 0
        while (i < t) {
          if (covered == null || !covered(i)) {
            if (w > 0) { out(w) = ' '; w += 1 }
            val o = offs(i)
            val s = (o >>> 32).toInt
            val l = (o & 0xFFFFFFFFL).toInt - s
            System.arraycopy(bytes, s, out, w, l)
            w += l
          }
          i += 1
        }
        UTF8String.fromBytes(out)
      }
    new GenericInternalRow(Array[Any](clean, (t - kept).toLong))
  }

  /** True when `bytes` is exactly its tokens joined by single spaces. */
  private def isJoined(bytes: Array[Byte], offs: Array[Long]): Boolean = {
    val t = offs.length
    if (t == 0) return bytes.length == 0
    if ((offs(0) >>> 32) != 0L || (offs(t - 1) & 0xFFFFFFFFL) != bytes.length)
      return false
    var i = 1
    while (i < t) {
      val prevEnd = (offs(i - 1) & 0xFFFFFFFFL).toInt
      if ((offs(i) >>> 32).toInt != prevEnd + 1 || bytes(prevEnd) != ' ')
        return false
      i += 1
    }
    true
  }
}

/** `drop_ngrams(text)`: the document with every n-gram whose hash is in
  * `grams` (sorted, distinct) removed, as `struct(clean_text,
  * n_removed)` ([[NgramDrop.dropGrams]]). The duplicate-gram set rides
  * as a constructor field, like [[LiveRowExpr]]'s deleted positions: it
  * ships once per stage in the task binary, and plan processing compares
  * it by reference, never by value. */
case class NgramDropExpr(grams: Array[Long], n: Int, child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = NgramDrop.dataType
  override def prettyName: String = "drop_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"drop_ngrams takes a string; got ${child.dataType}")

  def drop(text: UTF8String): InternalRow = NgramDrop.dropGrams(text, grams, n)

  override protected def nullSafeEval(text: Any): Any =
    drop(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dropNgrams", this, classOf[NgramDropExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.drop($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramDropExpr =
    copy(child = newChild)
}

/** `drop_spans(text, starts)`: the document with the n-token spans
  * starting at `starts` removed, as `struct(clean_text, n_removed)`
  * ([[NgramDrop.dropStarts]]) — the rebuild of the shuffled plan, where
  * each document's marked starts arrive by join instead of as a set. */
case class SpanDropExpr(n: Int, left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = NgramDrop.dataType
  override def prettyName: String = "drop_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType &&
        right.dataType.isInstanceOf[ArrayType] &&
        right.dataType.asInstanceOf[ArrayType].elementType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"drop_spans takes (string, array<int>); got " +
        s"(${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(text: Any, starts: Any): Any =
    NgramDrop.dropStarts(text.asInstanceOf[UTF8String],
      starts.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.functions.NgramDrop.dropStarts($t, $s, $n)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SpanDropExpr = copy(left = newLeft, right = newRight)
}
