package graft.search

import graft.SparkSpec
import graft.oracle.LocalOracle
import org.apache.spark.sql.functions._

class QueryParserSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("classification mirrors reference QueryProcessor.java:32-80") {
    assert(QueryParser.parse("merge sort window") === Tokens("merge sort window"))
    assert(QueryParser.parse("\"hash join\"") === Phrase("hash join"))
    assert(QueryParser.parse("\"A B\" AND \"c\"") === Bool("and", "a b", "c"))
    assert(QueryParser.parse("\"a\" or \"b\"") === Bool("or", "a", "b"))
    assert(QueryParser.parse("\"a\" NOT \"b\"") === Bool("not", "a", "b"))
    assert(QueryParser.parse("  Mixed Case QUERY ") === Tokens("mixed case query"))
  }
}

/** Rank-identity of the serving engine (CompressedSearchEngine.search) vs
  * the in-memory oracle on seeded random corpora, across analyzers and all
  * query forms (SURVEY.md §5). */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def randomCorpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Seq("merge", "sort", "window", "the", "running", "jumped",
      "parseHttp", "snake_case", "scan", "filter", "hash", "join", "batch",
      "relational", "hopeful", "x1", "a", "dup",
      "val", "match") // scala keywords: dropped per-lang by the code analyzer
    (0L until nDocs.toLong).map { id =>
      val n = 3 + rnd.nextInt(50)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  private val queryForms = Seq(
    "merge sort window",
    "running hopeful",
    "dup",
    "\"merge sort\"",
    "\"hash join\" AND \"batch\"",
    "\"merge\" OR \"dup\"",
    "\"sort\" NOT \"hash\"",
    "zzz_nothing_matches",
    "the a",                  // stopword-only under code analyzer
    "\"zzz absent phrase\" OR \"merge\""
  )

  /** The serving engine over `docs`, as a raw query → top-10 function. */
  private def engineFor(docs: Seq[(Long, String)],
                        analyzer: String): String => Seq[(Long, Double)] = {
    val files = docs.toDF("doc_id", "content")
      .withColumn("repo", lit("r")).withColumn("path", lit("p"))
      .withColumn("commit", lit("c")).withColumn("lang", lit("scala"))
      .withColumn("sha", sha2(col("content"), 256))
    val eng = CompressedSearchEngine.build(files, analyzer)
    raw => eng.search(raw, files, 10, analyzer).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("a phrase with a non-ASCII capital finds the doc that contains it") {
    // "Kelvin" spelled with the Kelvin sign (U+212A): the index holds the
    // token "elvin", and doc 2's "kelvin" must not stand in for it
    val kelvin = "\u212Aelvin"
    val search = engineFor(Seq(1L -> s"temperature on the $kelvin scale",
      2L -> "the kelvin scale in ascii", 3L -> "a scale model"), "simple")
    assert(search("\"" + kelvin + " scale\"").map(_._1) === Seq(1L))
  }

  for (analyzer <- Seq("simple", "code"); seed <- Seq(1, 2)) {
    test(s"engine == oracle ($analyzer, seed=$seed)") {
      val docs = randomCorpus(seed, 40)
      val search = engineFor(docs, analyzer)
      for (q <- queryForms) {
        val got = search(q)
        val want = LocalOracle.search(docs, analyzer, q, 10, docLang = "scala")
        assert(got === want, s"query [$q] analyzer=$analyzer seed=$seed")
      }
    }
  }
}
