package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.index.PostingCodec

/** One compacted posting entry of a single document, produced doc-at-a-time
  * by [[CompactTokens.compact]] (or [[CompactTokens.fromTokens]] for the code
  * analyzer): `pos` is the final positions wire record — vint(tf) followed
  * by delta varints of the 0-based token positions (prev = -1) — which every
  * later build stage byte-copies, never re-encodes. */
final case class TermEntry(term: String, tf: Int, len: Int, pos: Array[Byte])

/** Fused tokenize → per-document posting compaction as ONE native
  * function (`graft_compact_tokens`): `content → array<struct<term, tf, len,
  * pos>>`, one entry per DISTINCT term of the document, positions already in
  * wire format.
  *
  * This is the build's map side collapsed to a single function eval per
  * document. The previous shape — tokenize, `posexplode` one row per token,
  * `sortWithinPartitions(doc_id, term, pos)`, then a linear-scan compactor —
  * materialized one UnsafeRow per TOKEN and paid an O(T log T) in-partition
  * sort before the compaction could fold tf/positions. Telemetry at 480k
  * files showed that map stage was ~80% of single-core build wall. Here the
  * per-doc aggregation is a linear scan over the content bytes with one
  * small hash map per document (bounded by the doc's distinct-term count,
  * dead after the eval — no sort, no per-token rows), and the output
  * explodes straight into the (term, salt) shuffle write.
  *
  * Tokenization is byte-identical to [[AsciiTokens.tokenize]] (maximal
  * `[A-Za-z0-9]+` runs, ASCII-lowercased — reference `Utils/Utils.java:14`
  * semantics);
  * `PhraseSpec` cross-validates the fused positions against the
  * per-token `Stats.tokensPos` path, and the `q_tf`, `q_docstats` and
  * `q_termstats` DuckDB oracles check its tf, len and df directly (they
  * are projections of `Stats.postings`).
  */
object CompactTokens {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("pos", BinaryType, nullable = false))), containsNull = false)

  /** Growable int list for a term's position stream. */
  private final class IntVec {
    var a = new Array[Int](4)
    var n = 0
    def add(v: Int): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = v
      n += 1
    }
  }

  @inline private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Static helper invoked from generated code: one linear pass collecting
    * per-term ascending positions, then one encode pass. Entry order is the
    * document's term first-occurrence order (deterministic; downstream
    * re-sorts by (term, salt, doc_id) anyway). */
  def compact(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val map = new java.util.LinkedHashMap[UTF8String, IntVec]()
    var i = 0
    var len = 0
    while (i < bytes.length) {
      if (isAlnum(bytes(i))) {
        val start = i
        while (i < bytes.length && isAlnum(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var j = 0
        while (j < tok.length) {
          val b = bytes(start + j)
          tok(j) = if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b
          j += 1
        }
        val key = UTF8String.fromBytes(tok)
        var lst = map.get(key)
        if (lst == null) { lst = new IntVec; map.put(key, lst) }
        lst.add(len)
        len += 1
      } else i += 1
    }
    val out = new Array[AnyRef](map.size)
    val posBuf = new PostingCodec.ByteBuf(64)
    val it = map.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](
        e.getKey, e.getValue.n, len, encodePositions(e.getValue, posBuf))): InternalRow
      k += 1
    }
    new GenericArrayData(out)
  }

  private def encodePositions(ps: IntVec, buf: PostingCodec.ByteBuf): Array[Byte] = {
    buf.reset()
    buf.writeVLong(ps.n.toLong)
    var prev = -1L
    var j = 0
    while (j < ps.n) {
      buf.writeVLong(ps.a(j) - prev)
      prev = ps.a(j)
      j += 1
    }
    buf.toArray
  }

  /** JVM-String mirror for analyzers that tokenize outside Catalyst (the
    * code analyzer UDF): same compaction + wire format over a pre-tokenized
    * stream. */
  def fromTokens(toks: Seq[String]): Seq[TermEntry] = {
    val map = new java.util.LinkedHashMap[String, IntVec]()
    var p = 0
    toks.foreach { t =>
      var lst = map.get(t)
      if (lst == null) { lst = new IntVec; map.put(t, lst) }
      lst.add(p)
      p += 1
    }
    val buf = new PostingCodec.ByteBuf(64)
    val out = new scala.collection.mutable.ArrayBuffer[TermEntry](map.size)
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out += TermEntry(e.getKey, e.getValue.n, p, encodePositions(e.getValue, buf))
    }
    out.toSeq
  }
}
