package graft.index

import org.scalatest.funsuite.AnyFunSuite
import PostingCodec._

class PostingCodecSpec extends AnyFunSuite {

  private def randomPostings(rnd: scala.util.Random, n: Int): Array[Posting] = {
    var prev = -1L
    Array.fill(n) {
      val id = prev + 1 + rnd.nextLong(1L << 32)
      prev = id
      Posting(id, 1 + rnd.nextInt(10000), 1 + rnd.nextInt(100000))
    }
  }

  test("varbyte roundtrip on longs") {
    val rnd = new scala.util.Random(1)
    val values = Seq(0L, 1L, 127L, 128L, 16383L, 16384L, Long.MaxValue) ++
      Seq.fill(500)(rnd.nextLong(Long.MaxValue))
    for (v <- values) {
      val buf = new ByteBuf
      buf.writeVLong(v)
      assert(new Reader(buf.toArray, 0).readVLong() === v, s"v=$v")
    }
  }

  test("encode/decode = id on sorted distinct posting arrays") {
    val rnd = new scala.util.Random(2)
    for (n <- Seq(0, 1, 127, 128, 129, 1000, 5000)) {
      val ps = randomPostings(rnd, n)
      val (bytes, blocks) = encode(ps, avgdl = 50.0, k1 = 1.2, b = 0.75)
      assert(decode(bytes).toSeq === ps.toSeq, s"n=$n")
      assert(blocks.length === (n + BlockSize - 1) / BlockSize, s"n=$n")
    }
  }

  test("block metadata: last_doc_id / max_tf / offsets allow block seeks") {
    val rnd = new scala.util.Random(3)
    for (n <- Seq(1, 128, 300, 2500)) {
      val ps = randomPostings(rnd, n)
      val (bytes, blocks) = encode(ps, 50.0, 1.2, 0.75)
      for (i <- blocks.indices) {
        val start = i * BlockSize
        val expect = ps.slice(start, start + BlockSize)
        val prev = if (i == 0) -1L else blocks(i - 1).last_doc_id
        val got = decodeBlock(bytes, blocks(i).offset, prev, expect.length)
        assert(got.toSeq === expect.toSeq)
        assert(blocks(i).last_doc_id === expect.last.doc_id)
        assert(blocks(i).max_tf === expect.map(_.tf).max)
        val maxW = expect.map(p => weight(p.tf, p.len, 50.0, 1.2, 0.75)).max
        assert(math.abs(blocks(i).max_weight - maxW) < 1e-12)
      }
    }
  }
}
