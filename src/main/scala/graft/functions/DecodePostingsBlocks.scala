package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Block-selective decode of a posting chunk — the read path of the
  * block-max skip metadata (north rule: "block-max WAND pruning").
  *
  * Decodes ONLY the 128-posting blocks whose doc-id range `(prevLast, last]`
  * intersects `[lo, hi]` AND whose `max_weight` is at least `minw`; other
  * blocks are skipped without touching their bytes (each block's byte span
  * is `[offset_i, offset_{i+1})` and its delta base is the previous block's
  * `last_doc_id` — exactly what PostingCodec.BlockMeta stores).
  *
  * Two users in CompressedSearchEngine.searchPruned:
  *  - candidate generation: per-term `minw` = the block-max WAND bound
  *    (a block can seed a top-k candidate only if idf·max_weight plus every
  *    other term's upper bound reaches θ),
  *  - rescore: `[lo, hi]` = the candidates' doc range (minw = 0 — every
  *    contribution of a surviving candidate counts).
  */
object DecodePostingsBlocks {
  /** Static helper invoked from generated code. `blocks` rows are
    * (last_doc_id: long, max_tf: int, max_weight: double, offset: int).
    * A null in any of the five arguments gives null without a call (ADVICE
    * r2): callers pass literal lo/hi/minw today, but a nullable scalar must
    * yield null, not decode with defaults. */
  def decode(bytes: Array[Byte], blocks: ArrayData,
             lo: Long, hi: Long, minw: Double): ArrayData = {
    val nBlocks = blocks.numElements()
    val out = new java.util.ArrayList[AnyRef](64)
    var i = 0
    var prevLast = -1L
    var break = false
    while (i < nBlocks && !break) {
      val row = blocks.getStruct(i, 4)
      val last = row.getLong(0)
      val maxW = row.getDouble(2)
      val offset = row.getInt(3)
      if (prevLast >= hi) break = true // blocks are doc-ascending
      else if (last >= lo && maxW >= minw) {
        val end = if (i + 1 < nBlocks) blocks.getStruct(i + 1, 4).getInt(3)
          else bytes.length
        DecodePostings.decodeSpan(bytes, offset, end, prevLast, out)
      }
      prevLast = last
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}
