package graft

import graft.corpus.Corpus
import graft.oracle.LocalOracle

/** Smoke + oracle checks over the driver's sf0.001 testdata. */
class EntrySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run non-empty on sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, dir)
      assert(df.count() > 0, s"query $name returned no rows")
    }
  }

  test("every oracleSql key has a query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("search results rank-identical to in-memory oracle on sf0.001") {
    val docs = Corpus.files(spark, dir).select("doc_id", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // the SparkEntry queries themselves, i.e. the serving search path
    for ((name, q) <- Seq("q_bm25_tokens" -> "merge sort window",
        "q_bm25_rare" -> "dup stream", "q_phrase" -> "\"hash join\"",
        "q_bool_and" -> "\"merge sort\" AND \"table scan\"",
        "q_bool_or" -> "\"batch batch\" OR \"window agg\"",
        "q_bool_not" -> "\"sort merge\" NOT \"hash join\"")) {
      val got = SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = LocalOracle.search(docs, "simple", q, 10)
      assert(got === want, s"$name [$q]")
    }
  }
}
