package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup groups identical content, keeper = min doc_id") {
    val d = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      3L -> "other text here")
    val got = Dedup.exact(d).collect()
    assert(got.length === 2)
    val dupGroup = got.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) === 1L)
  }

  test("minhash: identical docs collide in every band; jaccard = 1") {
    val same = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> same, 2L -> same, 3L -> "completely different words apart entirely unrelated stuff")
    val pairs = Dedup.minhashPairs(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
    val j = Dedup.ngramJaccardTop(d, 5).collect()
    assert(j.head.getLong(0) === 1L && j.head.getLong(1) === 2L)
    assert(j.head.getDouble(2) === 1.0)
  }

  test("clusters: transitive closure; representatives keep min per cluster") {
    // components: {1,2,3} (chain), {5,6}, {7,8,9} (8~9, 7~9 — min arrives
    // at 8 only via a second hop through 9)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val cl = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
    val d = docs((1L to 10L).map(i => i -> s"text number $i"): _*)
    val reps = Dedup.representatives(d, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reps === Set(1L, 4L, 5L, 7L, 10L))
  }

  test("clusters: long path converges to one component; empty pairs is empty") {
    // diameter-5 path — forces several propagation rounds before fixpoint
    val chain = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val cl = Dedup.clusters(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cl.toMap === (1L to 6L).map(_ -> 1L).toMap)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(empty).isEmpty)
    // non-convergence within maxIter must fail loudly, never return a
    // silently-truncated (wrong) labeling — and must leave no cached frame
    val cached = spark.sparkContext.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException](Dedup.clusters(chain, maxIter = 2))
    assert(ex.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.size === cached)
  }

  test("simhash: identical docs get identical hashes; hash is stable") {
    val d = docs(1L -> "merge sort window", 2L -> "merge sort window",
      3L -> "hash join scan")
    val h = Dedup.simhash(d).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
    assert(h.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("ann brute force: query vector ranks itself first with cos 1") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f, -0.2f), 0),
      (1L, Array(0.9f, 0.1f, 0.4f, -0.1f), 0),
      (2L, Array(-1.0f, 0.2f, -0.5f, 0.2f), 1)
    ).toDF("vec_id", "embedding", "label")
    // pad to-dim-agnostic: dot/norm fold over whatever length arrays have
    val got = Similarity.annBruteForce(e, 0, 3).collect()
    assert(got.head.getLong(0) === 0L && got.head.getDouble(1) === 1.0)
    assert(got(1).getLong(0) === 1L) // most similar neighbor
    assert(got.last.getLong(0) === 2L)
  }

  test("lsh ann probes the Hamming-radius ring, ranked by cosine") {
    val e = Seq(
      (0L, Array.fill(8)(1.0f) ++ Array.fill(4)(0.5f), 0),
      (1L, Array.fill(8)(0.9f) ++ Array.fill(4)(0.4f), 0),
      // one sign bit flipped vs the query: reachable by multi-probe only
      (3L, (Array.fill(7)(1.0f) :+ -1.0f) ++ Array.fill(4)(0.5f), 0),
      (2L, Array.fill(8)(-1.0f) ++ Array.fill(4)(0.5f), 1) // Hamming 8: excluded
    ).toDF("vec_id", "embedding", "label")
    // radius 1: exactly the 1-flip ring
    val r1 = Similarity.annLsh(e, 0, 10, radius = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(r1 === Seq(0L, 1L, 3L))
    // radius 0 (single probe): only the exact bucket
    val r0 = Similarity.annLsh(e, 0, 10, radius = 0)
      .collect().map(_.getLong(0)).toSeq
    assert(r0 === Seq(0L, 1L))
    // default (fixture-measured) radius still excludes the antipodal bucket
    val rd = Similarity.annLsh(e, 0, 10).collect().map(_.getLong(0)).toSeq
    assert(rd === Seq(0L, 1L, 3L))
    assert(Similarity.probeMasks(8, 1).length === 9)
    assert(Similarity.probeMasks(8, 4).length === 163)
  }

  test("ivf ann: probe-all == brute force; probed subset is brute-consistent") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f, -0.2f), 0),
      (1L, Array(0.9f, 0.1f, 0.4f, -0.1f), 0),
      (2L, Array(-1.0f, 0.2f, -0.5f, 0.2f), 1),
      (3L, Array(0.1f, 1.0f, -0.3f, 0.6f), 1),
      (4L, Array(0.2f, 0.9f, -0.2f, 0.5f), 1),
      (5L, Array(1.1f, -0.1f, 0.6f, -0.3f), 0)
    ).toDF("vec_id", "embedding", "label")
    // probing every cell degenerates to exact search: identical ranking
    val all = Similarity.annIvf(e, 0, k = 6, nCentroids = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.annBruteForce(e, 0, 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all === brute)
    // nProbe < nCentroids: the query ranks itself first (its own cell is
    // always probed) and every returned cosine matches brute force exactly
    val sub = Similarity.annIvf(e, 0, k = 6, nCentroids = 3, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sub.head === ((0L, 1.0)))
    val bruteCos = brute.toMap
    sub.foreach { case (id, cos) => assert(bruteCos(id) === cos) }
    assert(sub.size < brute.size) // one cell of three really pruned
    assertThrows[IllegalArgumentException] {
      Similarity.annIvf(e, 0, nCentroids = 3, nProbe = 4)
    }
  }

  test("langid picks profile with most marker hits, und when none") {
    val d = docs(1L -> "the fast and small thing", 2L -> "el que la los y",
      3L -> "zzz qqq www")
    val got = TextAnalysis.langId(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "es")
    assert(got(3L) === "und")
  }

  test("quality / token counts / fingerprint are deterministic and sane") {
    val d = docs(1L -> "the alpha beta", 2L -> "x")
    val q = TextAnalysis.quality(d).collect()
    assert(q.forall(r => r.getDouble(3) >= 0 && r.getDouble(4) >= 0))
    val t = TextAnalysis.tokenCounts(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(t(1L) === ((3L, 3L)))
    val f1 = TextAnalysis.fingerprint(d).collect().map(r => r.getString(1))
    val f2 = TextAnalysis.fingerprint(d).collect().map(r => r.getString(1))
    assert(f1.toSeq === f2.toSeq)
  }

  test("multimodal: parsed header fields equal the generator's closed forms") {
    val d = docs(2L -> "ignored", 7L -> "ignored", 64L -> "ignored",
      1001L -> "ignored")
    val got = Multimodal.features(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    for (id <- Seq(2L, 64L)) { // even → BMP
      val (w, h) = Multimodal.bmpDims(id)
      val rowBytes = (w * 3 + 3) / 4 * 4
      assert(got(id) === (("image/bmp", 54L + h.toLong * rowBytes, w.toLong,
        h.toLong, 1L, 0L, 0L)))
    }
    for (id <- Seq(7L, 1001L)) { // odd → WAV
      val (rate, ch, frames) = Multimodal.wavParams(id)
      assert(got(id) === (("audio/wav", 44L + frames.toLong * ch * 2,
        0L, 0L, frames.toLong, rate.toLong, ch.toLong)))
    }
  }

  test("multimodal: resize and frame-sample transform the actual bytes") {
    import Multimodal.MediaCodec
    // resize: 40x30 → maxDim 16 ⇒ 16x12, and sampled pixels come from the
    // nearest-neighbor source positions
    val src = MediaCodec.makeBmp(40, 30, seed = 9L)
    val small = MediaCodec.resizeBmp(src, 16)
    assert(MediaCodec.decode(small) === (("image/bmp", 16L, 12L, 1L, 0L, 0L)))
    val srcRow = (40 * 3 + 3) / 4 * 4
    val dstRow = (16 * 3 + 3) / 4 * 4
    for ((x, y) <- Seq((0, 0), (7, 5), (15, 11))) {
      val (sx, sy) = (x * 40 / 16, y * 30 / 12)
      assert((0 until 3).forall(c =>
        small(54 + y * dstRow + 3 * x + c) == src(54 + sy * srcRow + 3 * sx + c)),
        s"pixel ($x,$y) not sourced from ($sx,$sy)")
    }
    // within maxDim → unchanged payload
    assert(MediaCodec.resizeBmp(MediaCodec.makeBmp(10, 8, 1L), 16).length ===
      MediaCodec.makeBmp(10, 8, 1L).length)
    // frame-sample: 10 frames, stride 4 ⇒ frames 0,4,8 survive byte-for-byte
    val wav = MediaCodec.makeWav(8000, 2, 10, seed = 9L)
    val dec = MediaCodec.sampleWav(wav, 4)
    assert(MediaCodec.decode(dec) === (("audio/wav", 0L, 0L, 3L, 8000L, 2L)))
    val ba = 2 * 2
    for ((outF, srcF) <- Seq((0, 0), (1, 4), (2, 8)))
      assert((0 until ba).forall(i =>
        dec(44 + outF * ba + i) == wav(44 + srcF * ba + i)), s"frame $outF")
  }

  test("multimodal: codec round-trips and rejects malformed payloads") {
    import Multimodal.MediaCodec
    // decode reads the BYTES, so a hand-mutated header must be believed...
    val bmp = MediaCodec.makeBmp(13, 9, seed = 5L)
    assert(MediaCodec.decode(bmp) === (("image/bmp", 13L, 9L, 1L, 0L, 0L)))
    val wav = MediaCodec.makeWav(11000, 2, 123, seed = 5L)
    assert(MediaCodec.decode(wav) === (("audio/wav", 0L, 0L, 123L, 11000L, 2L)))
    // ...and malformed containers rejected, not defaulted
    intercept[IllegalArgumentException] {
      MediaCodec.decode("notmedia".getBytes("US-ASCII"))
    }
    val truncated = bmp.clone()
    java.util.Arrays.fill(truncated, 2, 6, 0.toByte) // lie about file size
    intercept[IllegalArgumentException] { MediaCodec.decode(truncated) }
  }
}
