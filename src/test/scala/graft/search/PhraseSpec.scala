package graft.search

import graft.SparkSpec
import graft.index.Stats
import graft.oracle.LocalOracle
import org.apache.spark.sql.functions._

/** Phrase semantics: results through the compressed engine (conjunctive
  * candidates from the index + substring verify) must equal the in-memory
  * LocalOracle on docs built to break a naive token-adjacency reading:
  *
  *  - a match can start MID-TOKEN ("rehash join" contains "hash join" while
  *    the tokens are [rehash, join]),
  *  - a match can end mid-token ("hash joins"),
  *  - conjunctive tokens present but never adjacent must stay excluded,
  *  - a doc with the substring but MISSING an exact token stays excluded
  *    (the reference ANDs the substring with conjunctive token candidates,
  *    `dbManager.java:250-256` + `:324-341`).
  *
  * It also certifies the stored positions column against the analyzer.
  */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    0L -> "alpha hash join beta",          // exact adjacency
    1L -> "rehash join gamma hash delta",  // suffix-boundary match + stray hash
    2L -> "hash gamma join",               // tokens present, never adjacent
    3L -> "alpha hash joins beta join",    // prefix-boundary match
    4L -> "rehash joins only",             // substring present, token 'hash'/'join' absent
    5L -> "nothing to see here",
    // 70 distinct terms: more than a 64-bit term mask holds; the "!!!"
    // substring lets a phrase with no tokens reach the verify
    6L -> ((0 until 70).map(i => s"w$i") :+ "!!!").mkString(" "))

  private lazy val files = docs.toDF("doc_id", "content")
  private lazy val ce = CompressedSearchEngine.build(files, saltBuckets = 4)

  test("phrase candidates == substring baseline on boundary-adversarial docs") {
    val got = ce.phraseCandidates("hash join", files)
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = LocalOracle.phraseCandidates(docs, "simple", "hash join")
      .toSeq.sorted
    assert(got === want)
    assert(got === Seq(0L, 1L, 3L))
  }

  test("full phrase + boolean search (fused single-scan boolean " +
      "candidates) == baseline") {
    def ws(r: Range) = r.map(i => s"w$i").mkString("\"", " ", "\"")
    val w70 = ws(0 until 70)
    for (q <- Seq("\"hash join\"", "\"hash join\" AND \"join beta\"",
        "\"hash join\" OR \"nothing to\"", "\"hash join\" NOT \"rehash\"",
        "\"hash join\" AND \"hash join\"", "\"absent\" OR \"hash join\"",
        "\"hash join\" NOT \"hash join\"",
        // more terms than a 64-bit mask: one set, and a union of two
        w70, s"$w70 AND ${ws(5 until 7)}", s"$w70 OR \"hash join\"",
        s"$w70 NOT \"hash join\"", s"\"hash join\" NOT $w70",
        s"${ws(0 until 40)} OR ${ws(30 until 70)}",
        // a phrase with no tokens has no candidates, on either side
        "\"!!!\"", s"\"!!!\" AND ${ws(0 until 2)}", s"${ws(0 until 2)} AND \"!!!\"",
        "\"!!!\" OR \"hash join\"", "\"hash join\" OR \"!!!\"",
        s"\"!!!\" NOT ${ws(0 until 2)}", s"${ws(0 until 2)} NOT \"!!!\"")) {
      val got = ce.search(q, files, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = LocalOracle.search(docs, "simple", q, 10)
      assert(got === want, s"query [$q]")
    }
  }

  test("positions roundtrip: decode(encode) == posexplode of the analyzer") {
    graft.functions.GraftFunctions.register(spark)
    val got = ce.index
      .select(col("term"), explode(graft.functions.GraftFunctions
        .decodeDocPositions(col("postings"), col("positions"))).as("e"))
      .select(col("term"), col("e.doc_id").as("doc_id"),
        explode(col("e.ps")).as("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val want = Stats.tokensPos(files)
      .select("term", "doc_id", "pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(got === want)
    assert(got.nonEmpty)
  }
}
