package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 helpers for the fused dedup/fingerprint functions. All of
  * them reproduce Spark's `md5()` (lowercase hex over UTF-8 bytes)
  * bit-for-bit — the DuckDB oracles mirror that hash family, so the fused
  * operators must keep it. Digests are compared as UNSIGNED byte arrays:
  * hex encoding maps each byte through a monotone 2-char image, so unsigned
  * digest order == lexicographic hex-string order, and only the final
  * minima pay the hex conversion. */
private[functions] object Md5Util {
  val HexChars: Array[Byte] = "0123456789abcdef".getBytes

  def newMd5(): MessageDigest = MessageDigest.getInstance("MD5")

  /** a < b over 16-byte digests, unsigned lexicographic. */
  def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Fused per-document MinHash signature (`graft_minhash_sigs`):
  * `words → array<string>` of the nHashes minima min over 3-word shingles
  * of md5("h|" + shingle), or NULL when the document has fewer than 3 words
  * (no shingles — the groupBy formulation drops such docs, callers filter
  * the null).
  *
  * Replaces the explode-shingles → groupBy(doc_id) → nHashes min(md5(...))
  * aggregate-column plan (graft.ops.Dedup.minhashWide): the md5 count is
  * identical, but there are no per-shingle rows, no hash-agg probes and no
  * doc_id exchange — the whole signature is one narrow function eval per
  * document (the CompactTokens pattern applied to dedup).
  */
object MinHashSigs {
  // 0-or-1-element outer array: consumed via explode_outer + an isNotNull
  // filter on the GENERATOR OUTPUT (the Stats.postings pattern) — filtering
  // on the function value itself would let predicate pushdown substitute
  // the call below the projection and evaluate every signature twice
  // (observed in the physical plan as the sigs call in both Filter and
  // Project); a generator output cannot be substituted past its Generate.
  val schema: DataType = ArrayType(
    ArrayType(StringType, containsNull = false), containsNull = false)

  /** Static helper invoked from generated code; null when < 3 words, else a
    * single-element wrapper around the signature array (see [[schema]]). */
  def sigs(words: ArrayData, nHashes: Int): ArrayData = {
    val nw = words.numElements()
    if (nw < 3) return null
    val prefixes = new Array[Array[Byte]](nHashes)
    var h = 0
    while (h < nHashes) {
      prefixes(h) = s"$h|".getBytes
      h += 1
    }
    val mins = new Array[Array[Byte]](nHashes)
    val md = Md5Util.newMd5()
    var tmp = new Array[Byte](16)
    val w = new Array[Array[Byte]](nw)
    var i = 0
    while (i < nw) {
      w(i) = words.getUTF8String(i).getBytes
      i += 1
    }
    i = 0
    while (i + 2 < nw) {
      // shingle = w(i) + ' ' + w(i+1) + ' ' + w(i+2) (concat_ws semantics)
      h = 0
      while (h < nHashes) {
        md.reset()
        md.update(prefixes(h))
        md.update(w(i))
        md.update(' '.toByte)
        md.update(w(i + 1))
        md.update(' '.toByte)
        md.update(w(i + 2))
        md.digest(tmp, 0, 16)
        if (mins(h) == null) {
          mins(h) = tmp
          tmp = new Array[Byte](16)
        } else if (Md5Util.lessUnsigned(tmp, mins(h))) {
          val prev = mins(h) // swap buffers: zero steady-state allocation
          mins(h) = tmp
          tmp = prev
        }
        h += 1
      }
      i += 1
    }
    val out = new Array[AnyRef](nHashes)
    h = 0
    while (h < nHashes) {
      out(h) = Md5Util.toHex(mins(h))
      h += 1
    }
    new GenericArrayData(Array[AnyRef](new GenericArrayData(out)))
  }
}

/** Fused per-document 32-bit SimHash (`graft_simhash`): `words → bigint`
  * (NULL when the doc has no tokens — the groupBy formulation drops those
  * rows).
  *
  * Bit j of the result = sign of Σ over token OCCURRENCES of (+1 when the
  * j-th hex digit of md5(token) is odd else −1) — identical to the 32
  * conditional-sum aggregate columns in the previous plan
  * (`instr('0123456789abcdef', digit) % 2 == 0` ⇔ digit value odd), with no
  * explode, no 32-column agg and no doc_id exchange. */
object SimHashVal {
  // 0-or-1-element outer array — same generator-barrier contract as
  // [[MinHashSigs.schema]] (explode_outer + isNotNull on the generator
  // output).
  val schema: DataType = ArrayType(LongType, containsNull = false)

  /** Static helper invoked from generated code; null when 0 words, else a
    * single-element array holding the hash. */
  def simhash(words: ArrayData): ArrayData = {
    val nw = words.numElements()
    if (nw == 0) return null
    val counts = new Array[Int](32)
    val md = Md5Util.newMd5()
    val tmp = new Array[Byte](16)
    var i = 0
    while (i < nw) {
      md.reset()
      md.update(words.getUTF8String(i).getBytes)
      md.digest(tmp, 0, 16)
      var j = 0
      while (j < 16) {
        val b = tmp(j) & 0xff
        // hex digit 2j = high nibble, 2j+1 = low nibble; +1 when odd
        counts(2 * j) += (if (((b >> 4) & 1) == 1) 1 else -1)
        counts(2 * j + 1) += (if ((b & 1) == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var acc = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) acc |= 1L << j
      j += 1
    }
    new GenericArrayData(Array[Any](acc))
  }
}

/** Fused rolling 8-char-window fingerprint (`graft_fingerprint`):
  * `text → string`, the lexicographic min of md5 over every 8-CHARACTER
  * window (windows slide by one character; a text shorter than 8 chars is
  * one whole-text window — `substring(text, i, 8)` semantics). Replaces the interpreted
  * `aggregate(sequence(...), 'g', least(acc, md5(substring(...))))` HOF
  * fold: one digest-compare loop per document, hex conversion only for the
  * final minimum. Windows are sliced at UTF-8 code-point boundaries, exactly
  * like `substring`. */
object FingerprintMin {
  private def numBytesForFirstByte(b: Byte): Int = {
    val u = b & 0xff
    if (u < 0x80) 1
    else if (u < 0xe0) 2 // 0xc0..0xdf (0x80..0xbf are continuation; treated
    else if (u < 0xf0) 3 // as 1 below the start-offset scan never lands there)
    else 4
  }

  /** Static helper invoked from generated code. */
  def fingerprint(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    // char-start offsets (code points), offs(n) = bytes.length
    var nChars = 0
    var i = 0
    val offs = new Array[Int](bytes.length + 1)
    while (i < bytes.length) {
      offs(nChars) = i
      i += numBytesForFirstByte(bytes(i))
      nChars += 1
    }
    offs(nChars) = bytes.length
    val md = Md5Util.newMd5()
    var tmp = new Array[Byte](16)
    var min: Array[Byte] = null
    val nWin = math.max(nChars - 7, 1)
    var w = 0
    while (w < nWin) {
      val from = offs(w)
      val to = offs(math.min(w + 8, nChars))
      md.reset()
      md.update(bytes, from, to - from)
      md.digest(tmp, 0, 16)
      if (min == null) {
        min = tmp
        tmp = new Array[Byte](16)
      } else if (Md5Util.lessUnsigned(tmp, min)) {
        val prev = min
        min = tmp
        tmp = prev
      }
      w += 1
    }
    Md5Util.toHex(min)
  }
}
