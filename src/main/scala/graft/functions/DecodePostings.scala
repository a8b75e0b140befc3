package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native decode (`graft_decode_postings`) of a delta-gap var-byte posting
  * chunk (`graft.index.PostingCodec` wire format) into
  * `array<struct<doc_id:bigint, tf:int, len:int>>`.
  *
  * Replaces a Scala `udf` on the query hot path: a UDF routes every row
  * through the catalyst↔Scala converters (case-class encoder, boxing); this
  * helper decodes the byte[] directly into InternalRows and stays inside
  * whole-stage codegen, fused with the downstream `explode`. The decode loop
  * is the §7.5 "Catalyst Expression for var-byte decode" deferred
  * optimization from SURVEY.md.
  */
object DecodePostings {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("tf", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))), containsNull = false)

  /** Static helper invoked from generated code: LEB128 stream →
    * InternalRow array. Mirrors PostingCodec.decode exactly (prev = -1,
    * gap/tf/len triples). */
  def decode(bytes: Array[Byte]): ArrayData = {
    // postings are ≥3 bytes each; presize to the upper bound
    val out = new java.util.ArrayList[AnyRef](bytes.length / 3 + 1)
    decodeSpan(bytes, 0, bytes.length, -1L, out)
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** Appends the (doc_id, tf, len) rows of the gap/tf/len triples in
    * `bytes[from, until)` to `out`; `prevDoc` is the delta base (-1 for a
    * chunk, the previous block's last doc id for a block). The one
    * var-byte loop of both posting decoders. */
  def decodeSpan(bytes: Array[Byte], from: Int, until: Int, prevDoc: Long,
                 out: java.util.ArrayList[AnyRef]): Unit = {
    var pos = from
    var prev = prevDoc

    @inline def readVLong(): Long = {
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

    while (pos < until) {
      val doc = prev + readVLong()
      val tf = readVLong().toInt
      val len = readVLong().toInt
      prev = doc
      out.add(new GenericInternalRow(
        Array[Any](doc, tf, len)): InternalRow)
    }
  }
}
