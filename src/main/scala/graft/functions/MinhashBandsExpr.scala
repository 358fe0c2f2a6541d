package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native minhash → LSH band keys, one pass, at any shingle width:
  * `minhash_bands(text, numBands, rowsPerBand[, shingleN = 1])`.
  *
  * Computes exactly what the composable fold computes —
  * [[graft.operators.Dedup.shingles]]`(text, shingleN)`, md5-60 base
  * hash per shingle (mod 2^31-1), affine rehash minima mod 2^31-1
  * ([[graft.operators.Dedup.minhashAffineParams]]), per-band
  * comma-joined keys — but in primitive long arithmetic with zero
  * boxing. The interpreted `aggregate`/`zip_with` fold costs ~7.5 ms/doc
  * (per-shingle 32-lane `zip_with` allocates an array of boxed longs
  * each step); this walk is ~100× cheaper, which is the difference
  * between the LSH banding stage being free and being the pipeline
  * bottleneck.
  *
  * Shingles are the space-joined `shingleN`-token grams of
  * `lower(text)`'s whitespace tokens (the [[GramHashesExpr.tokenOffsets]]
  * rule), hashed from the byte ranges of a sliding window of the last
  * `shingleN` tokens ([[PortableHash.md5Hash60Ranges]]) in the one walk
  * over the bytes, so no gram string and no per-token array is built.
  * `shingles`' edge rules hold exactly: at width 1 a text of no tokens
  * has no shingles (every minimum stays 2^31-1); at width > 1 a text of
  * T < shingleN tokens is ONE shingle, the whole joined text — for
  * T = 0 the hash of "". Distinctness of
  * shingles is irrelevant to minima (min over a multiset equals min over
  * its set), so no shingle array is materialized. Null text gives null.
  * OperatorsSpec keeps the fold as the reference and asserts
  * bit-equality over generated inputs at widths 1, 2, 3 and 5.
  */
case class MinhashBandsExpr(child: Expression, numBands: Int, rowsPerBand: Int,
                            shingleN: Int) extends UnaryExpression {
  require(shingleN >= 1, s"minhash_bands shingleN must be >= 1, got $shingleN")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinhashBandsExpr.compute(input.asInstanceOf[UTF8String], numBands,
      rowsPerBand, shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashBandsExpr.compute($c, $numBands, $rowsPerBand, $shingleN)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashBandsExpr {

  private val P = graft.operators.Dedup.MinhashP

  private val paramCache = new ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def params(numHashes: Int): (Array[Long], Array[Long]) =
    paramCache.computeIfAbsent(numHashes, n => {
      val ps = graft.operators.Dedup.minhashAffineParams(n)
      (ps.map(_._1).toArray, ps.map(_._2).toArray)
    })

  /** `y mod (2^31-1)` for `0 <= y < 2^62` without a 64-bit division —
    * the Mersenne-prime two-fold: each fold replaces y with
    * (y >>> 31) + (y & P), which preserves the residue because
    * 2^31 ≡ 1 (mod P); two folds bring y under 2^31 + 1, one
    * conditional subtract finishes. The affine rehash loop runs this
    * 32× per distinct shingle — at the x10 probe volume the division was
    * the banding stage's hottest instruction. */
  @inline private def modP(y: Long): Long = {
    var v = (y >>> 31) + (y & P)
    v = (v >>> 31) + (v & P)
    if (v >= P) v - P else v
  }

  /** Called from generated code. */
  def compute(input: UTF8String, numBands: Int, rowsPerBand: Int,
              shingleN: Int): GenericArrayData = {
    val numHashes = numBands * rowsPerBand
    val (as, bs) = params(numHashes)
    val bytes = input.toLowerCase.getBytes
    val n = bytes.length
    val mins = Array.fill(numHashes)(P)
    // the last shingleN token ranges in text order, packed like
    // GramHashesExpr.tokenOffsets: ONE byte walk, no per-token array
    val win = new Array[Long](shingleN)
    var t = 0 // tokens seen

    // per-document seen-base set: a repeated shingle (stopwords dominate
    // natural text) contributes the identical base hash, and min over a
    // multiset equals min over its set — so the 32-lane affine loop can
    // skip every repeat EXACTLY (two shingles colliding to one base also
    // produce identical lanes). Open-addressing, grown at 1/2 load;
    // base 0 rides an explicit flag so 0 can stay the empty-slot mark.
    var cap = 256
    var seenTable = new Array[Long](cap)
    var seenCount = 0
    var seenZero = false

    var i = 0
    var more = true
    while (more) {
      var base = -1L // the next shingle's base hash; -1: none
      while (i < n && GramHashesExpr.isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !GramHashesExpr.isWs(bytes(i))) i += 1
        val range = (start.toLong << 32) | i.toLong
        if (t < shingleN) win(t) = range
        else {
          System.arraycopy(win, 1, win, 0, shingleN - 1)
          win(shingleN - 1) = range
        }
        t += 1
        if (t >= shingleN)
          base = modP(PortableHash.md5Hash60Ranges(bytes, win, 0, shingleN))
      } else {
        more = false
        // `Dedup.shingles`' edge rule: T < shingleN tokens are ONE wider
        // shingle of all T (the hash of "" for T = 0); width 1 has none
        if (t < shingleN && shingleN > 1)
          base = modP(PortableHash.md5Hash60Ranges(bytes, win, 0, t))
      }
      var fresh = false
      if (base == 0L) {
        if (!seenZero) { seenZero = true; fresh = true }
      } else if (base > 0L) {
        if ((seenCount + 1) * 2 > cap) { // grow before 1/2 load
          val old = seenTable
          cap <<= 1
          seenTable = new Array[Long](cap)
          var j = 0
          while (j < old.length) {
            val v = old(j)
            if (v != 0L) {
              var s = (scala.util.hashing.byteswap64(v) & (cap - 1)).toInt
              while (seenTable(s) != 0L) s = (s + 1) & (cap - 1)
              seenTable(s) = v
            }
            j += 1
          }
        }
        var slot = (scala.util.hashing.byteswap64(base) & (cap - 1)).toInt
        var probing = true
        while (probing) {
          val v = seenTable(slot)
          if (v == 0L) {
            seenTable(slot) = base; seenCount += 1; fresh = true
            probing = false
          } else if (v == base) probing = false
          else slot = (slot + 1) & (cap - 1)
        }
      }
      if (fresh) {
        var k = 0
        while (k < numHashes) {
          val h = modP(as(k) * base + bs(k))
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
    }

    val bands = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      val sb = new java.lang.StringBuilder(rowsPerBand * 11)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      bands(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(bands)
  }
}
