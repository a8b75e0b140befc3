package graft.index

import graft.SparkSpec
import graft.analyze.Analyzer
import graft.oracle.LocalOracle
import graft.search.CompressedSearchEngine
import org.apache.spark.sql.functions._

/** Compressed index == in-memory analyzer counts == in-memory oracle ==
  * pruned path, on seeded random corpora (FIXTURES.md §5 properties). */
class CompressedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int, nDocs: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("merge", "sort", "window", "scan", "filter", "hash",
      "join", "batch", "stream", "spark", "dup", "rareterm")
    (0L until nDocs.toLong).map { id =>
      val n = 3 + rnd.nextInt(60)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  private def build(seed: Int, nDocs: Int, saltBuckets: Int) =
    CompressedSearchEngine.build(corpus(seed, nDocs).toDF("doc_id", "content"),
      saltBuckets = saltBuckets)

  test("index roundtrip equals tf ⋈ docstats") {
    val ce = build(7, 120, 8)
    // reference tf and doc lengths from the analyzer, computed in memory
    val want = corpus(7, 120).flatMap { case (id, content) =>
      val toks = Analyzer.simpleTokens(content)
      toks.groupBy(identity).map { case (term, occ) =>
        (term, id, occ.size, toks.size) }
    }.sorted
    val got = ce.decoded(None).select("term", "doc_id", "tf", "len").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSeq.sorted
    assert(got === want)
  }

  test("salted merge == single-bucket build") {
    val many = build(11, 200, 16)
    val one = build(11, 200, 1)
    val a = many.decoded(None).orderBy("term", "doc_id").collect().toSeq
    val b = one.decoded(None).orderBy("term", "doc_id").collect().toSeq
    assert(a === b)
  }

  test("batch multi-query search == per-query searchTopK, per qid") {
    val ce = build(17, 180, 8)
    val queries = Seq(
      0L -> Seq("merge", "sort", "window"),
      1L -> Seq("dup", "rareterm"),
      2L -> Seq("hash", "join"))
    val got = ce.searchMany(queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    for ((qid, terms) <- queries) {
      val want = ce.searchTopK(terms, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got(qid) === want, s"qid $qid")
    }
    // a term duplicated in one query's list scores once (searchTopK's isin
    // semantics) — a naive (qid, term) join would double its weight
    val dup = ce.searchMany(Seq(0L -> Seq("merge", "merge", "sort")), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val dedup = ce.searchTopK(Seq("merge", "sort"), 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dup === dedup)
  }

  test("compressed exhaustive == in-memory oracle scores") {
    val ce = build(13, 150, 8)
    for (terms <- Seq(Seq("merge", "sort"), Seq("dup"), Seq("rareterm", "hash", "join"))) {
      val got = ce.searchTopK(terms, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = LocalOracle.search(corpus(13, 150), "simple",
        terms.mkString(" "), 10)
      assert(got === want, s"terms $terms")
    }
  }

  test("pruned top-k rank-identical to exhaustive, both τ branches covered") {
    val branches = scala.collection.mutable.Set.empty[Boolean]
    for (seed <- Seq(3, 5, 9)) {
      val ce = build(seed, 250, 8)
      for (terms <- Seq(Seq("merge"), Seq("merge", "sort", "window"),
          Seq("dup", "batch"), Seq("rareterm", "spark"),
          Seq("hash", "join", "scan", "filter", "stream"))) {
        val got = ce.searchPruned(terms, 10, force = true).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        ce.lastPrunedUsedCandidates.foreach(branches += _)
        val want = ce.searchTopK(terms, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got === want, s"seed=$seed terms=$terms")
      }
    }
    // the matrix must exercise BOTH the block-max candidate pass (τ > 0)
    // and the provable-no-op skip (τ ≤ 0 for all essential terms)
    assert(branches === Set(true, false), s"branches covered: $branches")
  }

  test("block-max WAND pruning rank-identical at multi-block scale") {
    // 2000 docs × up to 62 tokens → ~15 blocks per common term, and the
    // 20× doc-length spread gives real max_weight variance across blocks,
    // so the τ bound actually skips blocks (rank-identity is the contract)
    val ce = build(17, 2000, 8)
    for (terms <- Seq(Seq("merge", "rareterm"), Seq("merge", "sort", "window"),
        Seq("dup", "rareterm", "spark"), Seq("hash"))) {
      val got = ce.searchPruned(terms, 10, force = true).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = ce.searchTopK(terms, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === want, s"terms $terms")
    }
  }

  test("block-selective decode == block-filtered full decode") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(23)
    var doc = 0L
    val ps = Array.fill(500) {
      doc += 1 + rnd.nextInt(5)
      PostingCodec.Posting(doc, 1 + rnd.nextInt(9), 10 + rnd.nextInt(90))
    }
    val (bytes, blocks) = PostingCodec.encode(ps, avgdl = 40.0, k1 = 1.2, b = 0.75)
    val blocksAd = new GenericArrayData(blocks.map(b =>
      new GenericInternalRow(Array[Any](b.last_doc_id, b.max_tf, b.max_weight,
        b.offset)): Any))
    def expected(lo: Long, hi: Long, minw: Double): Seq[PostingCodec.Posting] = {
      val grouped = ps.grouped(PostingCodec.BlockSize).toSeq
      var prevLast = -1L
      grouped.zip(blocks).flatMap { case (blockPs, meta) =>
        val keep = meta.last_doc_id >= lo && prevLast < hi && meta.max_weight >= minw
        prevLast = meta.last_doc_id
        if (keep) blockPs else Nil
      }
    }
    for ((lo, hi, minw) <- Seq(
        (Long.MinValue, Long.MaxValue, 0.0),
        (ps(100).doc_id, ps(300).doc_id, 0.0),
        (Long.MinValue, Long.MaxValue, blocks.map(_.max_weight).max - 1e-9),
        (ps(450).doc_id, Long.MaxValue, 1.0))) {
      val got = graft.functions.DecodePostingsBlocks
        .decode(bytes, blocksAd, lo, hi, minw)
      val gotPs = (0 until got.numElements()).map { i =>
        val r = got.getStruct(i, 3)
        PostingCodec.Posting(r.getLong(0), r.getInt(1), r.getInt(2))
      }
      assert(gotPs === expected(lo, hi, minw), s"case ($lo, $hi, $minw)")
    }
  }

  test("chunking splits long posting lists and preserves order + positions") {
    // force tiny chunks by merging manually with a small chunk size
    val avgdl = 10.0
    val pps = (0L until 300L).map { i =>
      val tf = 1 + (i % 5).toInt
      PostingCodec.PosPosting(i * 3, tf, 30, Array.tabulate(tf)(j => j * 2 + (i % 7).toInt))
    }
    val segBuf = new PostingCodec.ByteBuf
    val posBuf = new PostingCodec.ByteBuf
    var prev = -1L
    pps.foreach { p =>
      segBuf.writeVLong(p.doc_id - prev)
      segBuf.writeVLong(p.tf.toLong)
      segBuf.writeVLong(p.len.toLong)
      prev = p.doc_id
      posBuf.writeVLong(p.positions.length.toLong)
      var pp = -1L
      p.positions.foreach { q => posBuf.writeVLong(q - pp); pp = q }
    }
    val chunks = InvertedIndex.termChunkRows("t", 300L,
      Seq((segBuf.toArray, posBuf.toArray)), avgdl, chunkSize = 64).toArray
    assert(chunks.forall(_.df === 300))
    assert(chunks.length === 5) // ceil(300/64)
    assert(chunks.map(_.chunk_id).toSeq === (0 until 5))
    val all = chunks.flatMap(c => PostingCodec.decode(c.postings))
    assert(all.toSeq === pps.map(p => PostingCodec.Posting(p.doc_id, p.tf, p.len)))
    val allPos = chunks.flatMap(c =>
      PostingCodec.decodeWithPos(c.postings, c.positions))
    assert(allPos.map(_.positions.toSeq).toSeq === pps.map(_.positions.toSeq))
    assert(chunks.forall(c => c.first_doc_id <= c.last_doc_id))
  }

  test("writeParts: floor of max(32, 2 x cores), ceil(bytes / 128 MB) above, never overflows") {
    val floor = math.max(32, 2 * spark.sparkContext.defaultParallelism)
    val mb = 1L << 20
    val target = InvertedIndex.WriteTargetBytes
    assert(target === 128 * mb)
    assert(InvertedIndex.writeParts(spark, 0L) === floor)
    assert(InvertedIndex.writeParts(spark, 17L * mb / 10) === floor)
    assert(InvertedIndex.writeParts(spark, 64 * target + 1) === math.max(floor, 65))
    // sizes no manifest reaches saturate instead of wrapping
    assert(InvertedIndex.writeParts(spark, 1L << 60) === Int.MaxValue)
    assert(InvertedIndex.writeParts(spark, Long.MaxValue) === Int.MaxValue)
    for (bytes <- (0L to 200L).map(i => i * i * i * 7919L * 1024L) ++
        Seq(target - 1, target, target + 1, 1L << 40)) {
      val parts = InvertedIndex.writeParts(spark, bytes)
      assert(parts >= floor, s"$bytes bytes")
      assert(bytes <= parts * target, s"$bytes bytes")
      // no more parts than the byte bound needs, above the floor
      assert(parts == floor || bytes > (parts - 1) * target, s"$bytes bytes")
    }
  }
}
