package graft.index

import scala.collection.mutable.ArrayBuffer

/** Posting-list wire format (north rule: sorted docID arrays, delta-gap +
  * var-byte, block-max skip metadata).
  *
  * The reference stores one BSON subdocument per (term, doc) with no
  * compression or skip data (`dbManager/dbManager.java:195-206`); this is the
  * from-scratch compressed layout replacing it (SURVEY.md §4.2).
  *
  * Stream layout (per chunk, independent — decoder starts with prev = -1):
  *   repeat n times: vlong(gap = doc_id - prev), vint(tf), vint(len)
  * Postings are grouped in blocks of [[BlockSize]]; per block we keep
  * `(last_doc_id, max_tf, max_weight, offset)` where `max_weight` is the
  * maximum BM25 term weight (tf/len part, excluding idf) inside the block —
  * the block-max bound used by MaxScore/WAND pruning. A decoder can seek to
  * block i using blocks(i-1).last_doc_id as the delta base.
  */
object PostingCodec {
  val BlockSize = 128

  final case class Posting(doc_id: Long, tf: Int, len: Int)

  /** Posting with its in-document token positions (0-based, sorted). The
    * positions travel in a SEPARATE self-contained byte stream (per posting:
    * vint(count), then delta-gap varints with prev = -1), stored as its own
    * parquet column — no query reads it (column pruned); only the
    * `q_positions` roundtrip decodes it. */
  final case class PosPosting(doc_id: Long, tf: Int, len: Int,
                              positions: Array[Int])

  final case class BlockMeta(last_doc_id: Long, max_tf: Int,
                             max_weight: Double, offset: Int)

  /** BM25 per-term weight without idf: tf(k1+1) / (tf + k1(1-b+b·len/avgdl)). */
  def weight(tf: Int, len: Int, avgdl: Double, k1: Double, b: Double): Double =
    (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * len / avgdl))

  /** Growable primitive byte buffer (no boxing — the encode path is hot). */
  final class ByteBuf(initialCapacity: Int = 64) {
    private var buf = new Array[Byte](math.max(initialCapacity, 16))
    private var n = 0
    def length: Int = n
    def append(b: Byte): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      buf(n) = b
      n += 1
    }
    def writeVLong(v0: Long): Unit = {
      var v = v0
      require(v >= 0, s"varint must be non-negative: $v")
      while ((v & ~0x7fL) != 0L) {
        append(((v & 0x7f) | 0x80).toByte)
        v >>>= 7
      }
      append(v.toByte)
    }
    def appendAll(bs: Array[Byte]): Unit = appendSlice(bs, 0, bs.length)
    def appendSlice(bs: Array[Byte], from: Int, len: Int): Unit = {
      var need = buf.length
      while (n + len > need) need *= 2
      if (need != buf.length) buf = java.util.Arrays.copyOf(buf, need)
      System.arraycopy(bs, from, buf, n, len)
      n += len
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
    def reset(): Unit = n = 0
  }

  // ---- varbyte (LEB128, unsigned) ----
  final class Reader(val bytes: Array[Byte], var pos: Int) {
    def readVLong(): Long = {
      var shift = 0
      var v = 0L
      var b = bytes(pos)
      pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = bytes(pos)
        pos += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    def readVInt(): Int = readVLong().toInt
    def hasMore: Boolean = pos < bytes.length
  }

  /** Encode sorted, distinct postings into (bytes, blockMeta). */
  def encode(postings: Array[Posting], avgdl: Double,
             k1: Double, b: Double): (Array[Byte], Array[BlockMeta]) = {
    val out = new ByteBuf(postings.length * 3)
    val blocks = new ArrayBuffer[BlockMeta]
    var prev = -1L
    var i = 0
    while (i < postings.length) {
      val offset = out.length
      var maxTf = 0
      var maxW = 0.0
      var lastDoc = prev
      val end = math.min(i + BlockSize, postings.length)
      while (i < end) {
        val p = postings(i)
        require(p.doc_id > prev, s"postings must be sorted distinct: ${p.doc_id} after $prev")
        out.writeVLong(p.doc_id - prev)
        out.writeVLong(p.tf.toLong)
        out.writeVLong(p.len.toLong)
        prev = p.doc_id
        lastDoc = p.doc_id
        if (p.tf > maxTf) maxTf = p.tf
        val w = weight(p.tf, p.len, avgdl, k1, b)
        if (w > maxW) maxW = w
        i += 1
      }
      blocks += BlockMeta(lastDoc, maxTf, maxW, offset)
    }
    (out.toArray, blocks.toArray)
  }

  /** Decode a full chunk (prev starts at -1). */
  def decode(bytes: Array[Byte]): Array[Posting] = {
    val r = new Reader(bytes, 0)
    val out = new ArrayBuffer[Posting]
    var prev = -1L
    while (r.hasMore) {
      val doc = prev + r.readVLong()
      out += Posting(doc, r.readVInt(), r.readVInt())
      prev = doc
    }
    out.toArray
  }

  /** Decode one block given its metadata and the previous block's last doc
    * (-1 for the first block) — the skip-pointer read path. */
  def decodeBlock(bytes: Array[Byte], offset: Int, prevLastDoc: Long,
                  count: Int): Array[Posting] = {
    val r = new Reader(bytes, offset)
    val out = new Array[Posting](count)
    var prev = prevLastDoc
    var i = 0
    while (i < count && r.hasMore) {
      val doc = prev + r.readVLong()
      out(i) = Posting(doc, r.readVInt(), r.readVInt())
      prev = doc
      i += 1
    }
    if (i == count) out else out.take(i)
  }

  /** Encode sorted, distinct positional postings into
    * (postingBytes, blockMeta, positionBytes). The postings stream is
    * byte-identical to [[encode]]'s (decoders of either stream compose);
    * positions are a parallel stream in the same posting order. */
  def encodeWithPos(postings: Array[PosPosting], avgdl: Double,
                    k1: Double, b: Double): (Array[Byte], Array[BlockMeta], Array[Byte]) = {
    val (bytes, blocks) =
      encode(postings.map(p => Posting(p.doc_id, p.tf, p.len)), avgdl, k1, b)
    val pos = new ByteBuf(postings.length * 3)
    var i = 0
    while (i < postings.length) {
      val ps = postings(i).positions
      pos.writeVLong(ps.length.toLong)
      var prev = -1L
      var j = 0
      while (j < ps.length) {
        pos.writeVLong(ps(j) - prev)
        prev = ps(j)
        j += 1
      }
      i += 1
    }
    (bytes, blocks, pos.toArray)
  }

  /** Decode a postings chunk together with its positions stream. */
  def decodeWithPos(bytes: Array[Byte], posBytes: Array[Byte]): Array[PosPosting] = {
    val base = decode(bytes)
    val r = new Reader(posBytes, 0)
    base.map { p =>
      val n = r.readVInt()
      val ps = new Array[Int](n)
      var prev = -1L
      var j = 0
      while (j < n) {
        prev += r.readVLong()
        ps(j) = prev.toInt
        j += 1
      }
      PosPosting(p.doc_id, p.tf, p.len, ps)
    }
  }

  /** One finished chunk from the streaming merge ([[mergeStreamsPos]]):
    * the chunk fields of a [[graft.index.IndexRow]] except its chunk_id and
    * `max_weight` (the max over `blocks`). */
  final case class ChunkOut(first_doc_id: Long, last_doc_id: Long, n: Int,
                            blocks: Array[BlockMeta], bytes: Array[Byte],
                            pos: Array[Byte])

  /** STREAMING merge of doc-disjoint encoded runs into block-max chunks
    * with O(chunk) memory — the scale-critical path of the stage-2 merge.
    *
    * An object-level merge (decode → concat → re-encode) materializes one
    * JVM object + positions array per posting for the WHOLE term before
    * chunking; for a term present in every document that is df live
    * objects per task, and at ~2M docs × 32 merge tasks the old-gen fills
    * with short-lived posting objects and the build collapses into GC
    * (measured: 69k files/s at 480k files → 7k at 1.92M). Here each run is
    * semi-decoded with a varint cursor (primitives only), the position
    * records — self-contained per posting — are byte-copied, and chunks
    * are emitted as soon as they fill, so live memory is one chunk's
    * buffers regardless of df.
    *
    * Requires runs pairwise doc-disjoint after ordering by first doc_id
    * (the salted doc_id-range build guarantees this); throws
    * IllegalArgumentException on violation.
    */
  /** `chunkBytes`: byte bound on a chunk's payload (postings + positions),
    * checked at BLOCK boundaries only — every non-final chunk's posting
    * count stays a multiple of [[BlockSize]], so Σ blocks per term remains
    * ceil(df/BlockSize) regardless of where the byte bound cuts. Positions
    * bytes per posting vary ~10× across terms (∝ tf), so count-bounded
    * chunks have high byte variance and the index write's row-sampled range
    * partitioning can't byte-balance its output tasks; byte-bounded chunks
    * make rows ≈ uniform weight at any scale. */
  def mergeStreamsPos(runs0: Seq[(Array[Byte], Array[Byte])], avgdl: Double,
                      k1: Double, b: Double, chunkSize: Int,
                      chunkBytes: Int = Int.MaxValue): Array[ChunkOut] = {
    val runs = runs0.filter(_._1.nonEmpty).sortBy { case (seg, _) =>
      new Reader(seg, 0).readVLong() - 1 // first doc = gap + (-1)
    }
    val chunks = ArrayBuffer.empty[ChunkOut]
    var out = new ByteBuf(1 << 16)
    var posOut = new ByteBuf(1 << 16)
    var blocks = new ArrayBuffer[BlockMeta]
    var chunkN = 0
    var chunkFirst = -1L
    var chunkPrev = -1L
    var blockOffset = 0
    var blockMaxTf = 0
    var blockMaxW = 0.0
    var blockN = 0
    var lastDoc = -1L

    def flushBlock(): Unit = if (blockN > 0) {
      blocks += BlockMeta(chunkPrev, blockMaxTf, blockMaxW, blockOffset)
      blockMaxTf = 0; blockMaxW = 0.0; blockN = 0
    }
    def flushChunk(): Unit = if (chunkN > 0) {
      flushBlock()
      chunks += ChunkOut(chunkFirst, chunkPrev, chunkN, blocks.toArray,
        out.toArray, posOut.toArray)
      out = new ByteBuf(1 << 16); posOut = new ByteBuf(1 << 16)
      blocks = new ArrayBuffer[BlockMeta]
      chunkN = 0; chunkFirst = -1L; chunkPrev = -1L; blockOffset = 0
    }
    def add(doc: Long, tf: Int, len: Int,
            posSrc: Array[Byte], posFrom: Int, posLen: Int): Unit = {
      if (chunkN == chunkSize) flushChunk()
      else if (blockN == BlockSize &&
          out.length.toLong + posOut.length >= chunkBytes) flushChunk()
      if (blockN == BlockSize) flushBlock()
      if (chunkN == 0) { chunkFirst = doc; chunkPrev = -1L }
      if (blockN == 0) blockOffset = out.length
      out.writeVLong(doc - chunkPrev)
      out.writeVLong(tf.toLong)
      out.writeVLong(len.toLong)
      posOut.appendSlice(posSrc, posFrom, posLen)
      chunkPrev = doc
      chunkN += 1
      blockN += 1
      if (tf > blockMaxTf) blockMaxTf = tf
      val w = weight(tf, len, avgdl, k1, b)
      if (w > blockMaxW) blockMaxW = w
    }

    runs.foreach { case (seg, posB) =>
      val rp = new Reader(seg, 0)
      val rr = new Reader(posB, 0)
      var prev = -1L
      while (rp.hasMore) {
        val doc = prev + rp.readVLong()
        val tf = rp.readVInt()
        val len = rp.readVInt()
        prev = doc
        require(doc > lastDoc,
          s"streaming merge needs doc-disjoint ordered runs: $doc after $lastDoc")
        lastDoc = doc
        val posStart = rr.pos
        val nPos = rr.readVInt()
        var j = 0
        while (j < nPos) { rr.readVLong(); j += 1 }
        add(doc, tf, len, posB, posStart, rr.pos - posStart)
      }
    }
    flushChunk()
    chunks.toArray
  }
}
