package graft.index

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import PostingCodec._

/** ScalaCheck properties for the posting-list wire format (SURVEY.md §5.4):
  * encode∘decode = id, block seeks agree with full decodes, the streaming
  * merge of doc-disjoint runs equals chunking the whole list, and block-max
  * bounds really bound every in-block weight — the invariants MaxScore
  * pruning relies on. */
class PostingCodecPropsSpec extends AnyFunSuite {

  private val genPosting: Gen[(Long, Int, Int)] = for {
    gap <- Gen.chooseNum(1L, 1L << 40)
    tf <- Gen.chooseNum(1, 50000)
    len <- Gen.chooseNum(1, 1 << 20)
  } yield (gap, tf, len)

  /** Sorted distinct postings with gaps spanning 1 .. 2^40. */
  private val genPostings: Gen[Array[Posting]] =
    Gen.chooseNum(0, 600).flatMap { n =>
      Gen.listOfN(n, genPosting).map { raw =>
        var prev = -1L
        raw.map { case (gap, tf, len) =>
          prev += gap
          Posting(prev, tf, len)
        }.toArray
      }
    }

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("property: encode then decode is the identity") {
    check("roundtrip")(Prop.forAll(genPostings) { ps =>
      val (bytes, _) = encode(ps, avgdl = 100.0, k1 = 1.2, b = 0.75)
      decode(bytes).toSeq == ps.toSeq
    })
  }

  test("property: block metadata allows independent block seeks") {
    check("block seeks")(Prop.forAll(genPostings) { ps =>
      val (bytes, blocks) = encode(ps, 100.0, 1.2, 0.75)
      val joined = blocks.zipWithIndex.flatMap { case (bm, i) =>
        val prevLast = if (i == 0) -1L else blocks(i - 1).last_doc_id
        val count = math.min(BlockSize, ps.length - i * BlockSize)
        decodeBlock(bytes, bm.offset, prevLast, count)
      }
      joined.toSeq == ps.toSeq
    })
  }

  test("property: block-max metadata bounds every posting in its block") {
    check("block-max bounds")(Prop.forAll(genPostings) { ps =>
      val (_, blocks) = encode(ps, 100.0, 1.2, 0.75)
      ps.grouped(BlockSize).zip(blocks.iterator).forall { case (grp, bm) =>
        grp.forall(p => weight(p.tf, p.len, 100.0, 1.2, 0.75) <= bm.max_weight + 1e-12) &&
          grp.forall(_.tf <= bm.max_tf) &&
          grp.last.doc_id == bm.last_doc_id
      }
    })
  }

  /** Positional postings: tf positions in [0, 2^28), strictly ascending. */
  private val genPosPostings: Gen[Array[PosPosting]] =
    genPostings.map(_.map { p =>
      val tf = math.min(p.tf, 64) // positions array bounded for test speed
      val rnd = new scala.util.Random(p.doc_id)
      var pos = -1L
      val positions = Array.fill(tf) { pos += 1 + rnd.nextInt(1000); pos.toInt }
      PosPosting(p.doc_id, tf, p.len, positions)
    })

  test("property: positional encode then decode is the identity, and the " +
      "postings stream is byte-identical to the non-positional encoder's") {
    check("pos roundtrip")(Prop.forAll(genPosPostings) { ps =>
      val (bytes, _, posBytes) = encodeWithPos(ps, 100.0, 1.2, 0.75)
      val (plain, _) = encode(ps.map(p => Posting(p.doc_id, p.tf, p.len)), 100.0, 1.2, 0.75)
      val back = decodeWithPos(bytes, posBytes)
      java.util.Arrays.equals(bytes, plain) &&
        back.map(p => (p.doc_id, p.tf, p.len)).toSeq ==
          ps.map(p => (p.doc_id, p.tf, p.len)).toSeq &&
        back.map(_.positions.toSeq).toSeq == ps.map(_.positions.toSeq).toSeq
    })
  }

  test("property: streaming mergeStreamsPos == object-path chunking, " +
      "byte-identical postings/positions and identical block metadata") {
    val genChunkSize = Gen.oneOf(7, 64, 1 << 17)
    check("mergeStreams")(Prop.forAll(genPosPostings, Gen.chooseNum(1, 8),
        genChunkSize) { (ps, k, chunkSize) =>
      val slices = ps.grouped(math.max(1, ps.length / k + 1)).toSeq
        .filter(_.nonEmpty)
      val runs = slices.map(s => {
        val (bytes, _, posBytes) = encodeWithPos(s, 100.0, 1.2, 0.75)
        (bytes, posBytes)
      })
      val got = mergeStreamsPos(runs, 100.0, 1.2, 0.75, chunkSize)
      val want = ps.grouped(chunkSize).toSeq.map { cps =>
        val (bytes, blocks, posBytes) = encodeWithPos(cps, 100.0, 1.2, 0.75)
        (cps.head.doc_id, cps.last.doc_id, cps.length, blocks, bytes, posBytes)
      }
      got.length == want.length && got.zip(want).forall {
        case (g, (first, last, n, blocks, bytes, posBytes)) =>
          g.first_doc_id == first && g.last_doc_id == last && g.n == n &&
            java.util.Arrays.equals(g.bytes, bytes) &&
            java.util.Arrays.equals(g.pos, posBytes) &&
            g.blocks.toSeq == blocks.toSeq
      }
    })
  }

  test("mergeStreamsPos rejects interleaved (non-disjoint) runs") {
    val a = Array(PosPosting(1L, 1, 10, Array(0)), PosPosting(5L, 1, 10, Array(1)))
    val b = Array(PosPosting(3L, 1, 10, Array(2)))
    val runs = Seq(a, b).map { s =>
      val (bytes, _, posBytes) = encodeWithPos(s, 100.0, 1.2, 0.75)
      (bytes, posBytes)
    }
    assertThrows[IllegalArgumentException] {
      mergeStreamsPos(runs, 100.0, 1.2, 0.75, 1 << 17)
    }
    // the index build's merge has no fallback: overlapping runs fail loudly
    assertThrows[IllegalArgumentException] {
      InvertedIndex.termChunkRows("t", 3L, runs, 100.0)
    }
  }
}
