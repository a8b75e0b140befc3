package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native decode (`graft_decode_doc_positions`) of a posting chunk PLUS its
  * parallel position stream into one entry per POSTING —
  * `array<struct<doc_id: bigint, ps: array<int>>>` — the only positions
  * decoder.
  *
  * No query reads positions: this decoder serves the `q_positions` oracle
  * and PhraseSpec's roundtrip, which certify the stored column by
  * exploding `ps` to occurrence rows. The BM25 scoring path uses
  * [[DecodePostings]] and never touches the positions column.
  *
  * Wire format of `positions` (PostingCodec.encodeWithPos): per posting, in
  * chunk posting order: vint(count) then count delta-gap varints (prev = -1).
  * doc ids come from the postings stream (first argument).
  */
object DecodeDocPositions {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("ps", ArrayType(IntegerType, containsNull = false),
      nullable = false))), containsNull = false)

  /** Static helper invoked from generated code. */
  def decode(postings: Array[Byte], positions: Array[Byte]): ArrayData = {
    val out = new java.util.ArrayList[AnyRef](64)
    var pPos = 0
    var qPos = 0
    var prevDoc = -1L

    @inline def readP(): Long = {
      var shift = 0
      var v = 0L
      var b = postings(pPos)
      pPos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = postings(pPos)
        pPos += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    @inline def readQ(): Long = {
      var shift = 0
      var v = 0L
      var b = positions(qPos)
      qPos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = positions(qPos)
        qPos += 1
      }
      v | ((b & 0x7fL) << shift)
    }

    while (pPos < postings.length) {
      val doc = prevDoc + readP()
      readP() // tf (positions stream carries its own count)
      readP() // len
      prevDoc = doc
      val n = readQ().toInt
      val ps = new Array[Int](n)
      var prev = -1L
      var j = 0
      while (j < n) {
        prev += readQ()
        ps(j) = prev.toInt
        j += 1
      }
      out.add(new GenericInternalRow(
        Array[Any](doc, new GenericArrayData(ps))): InternalRow)
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}
