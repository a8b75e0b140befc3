package graft

import graft.corpus.Corpus
import graft.search.{CompressedSearchEngine, Extras}
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._

class ExtrasSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private lazy val files = Corpus.files(spark, dir)
  private lazy val e = CompressedSearchEngine.build(files)

  test("streaming windowed counts == batch aggregation") {
    val streamed = StreamingOps.windowedEventCounts(spark, dir).collect().toSeq
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming sessionization == batch window-function sessionization") {
    val streamed = StreamingOps.sessionize(spark, dir).collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ms")
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").as("ts_ms"),
        col("value"))
      .withColumn("brk",
        when(col("ts_ms") - lag("ts_ms", 1).over(w) > 1800000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("brk").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "session_id")
      .agg(min("ts_ms").as("session_start_ms"), count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value"))
      .orderBy("user_id", "session_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // at least one user has multiple sessions, so gaps actually split
    assert(streamed.exists(_.getLong(1) > 0))
  }

  test("query log: appends accumulate, counts key on raw query, suggestions " +
      "prefix-match the normalized form") {
    import graft.search.QueryLog
    val path = "/tmp/graft_querylog_spec"
    val log = QueryLog.replay(spark, path)
    // appends accumulated across three batches; blank/empty-normalized dropped
    val expectedRows = QueryLog.ReplayBatches.flatten
      .count(q => q.trim.nonEmpty && QueryLog.normalize(q).nonEmpty)
    assert(log.count() === expectedRows)
    val counts = QueryLog.counts(log).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // raw query is the counter key (reference keys _id on the raw string):
    // "Spark SQL" and "spark sql" count separately despite equal normalized
    assert(counts("Spark SQL") === 2L)
    assert(counts("spark sql") === 3L)
    val got = QueryLog.suggest(log, "S", 3).collect()
    assert(got.length === 3)
    // normalized prefix match (case-insensitive via ascii lower of prefix)
    assert(got.forall(r => QueryLog.normalize(r.getString(0)).startsWith("s")))
    assert(got.map(_.getLong(1)).toSeq === got.map(_.getLong(1)).toSeq.sorted.reverse)
  }

  test("query log: a log of many small appends is read in one wave of tasks") {
    import graft.search.QueryLog
    val path = tmpDir("graft-querylog") + "/log"
    (1 to 10).foreach(i => QueryLog.append(spark, path, Seq(s"query $i")))
    val log = QueryLog.load(spark, path)
    assert(log.count() === 10)
    assert(log.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
  }

  test("pagination: pages tile the top-k, pages past the end are empty") {
    val all = e.search("merge sort window", files, 9).collect().toSeq
    val paged = (1 to 3).flatMap(p =>
      e.searchPage("merge sort window", files, p, 3).collect())
    assert(paged === all)
    assert(e.searchPage("merge sort window", files, 1000, 10).collect().isEmpty)
  }

  test("snippets: first matching paragraph, 100-word truncation, fallback " +
      "(reference SnippetGenerator semantics vs a direct Scala mirror)") {
    val contents = files.select("doc_id", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    def expected(id: Long, needles: Seq[String], maxWords: Int = 100): String = {
      val c = contents(id)
      val chosen = c.split("\n", -1)
        .find(p => needles.forall(n => p.toLowerCase.contains(n)))
        .getOrElse(c)
      val words = chosen.split("\\s+").filter(_.nonEmpty)
      if (words.length <= maxWords) chosen
      else words.take(maxWords).mkString(" ") + "..."
    }
    val q1 = "\"merge sort\" AND \"table scan\""
    val got = Extras.withSnippets(e.search(q1, files), files, q1).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getString(2) === expected(r.getLong(0),
        Seq("merge sort", "table scan")), s"doc ${r.getLong(0)}")
    }
    val got2 = Extras.withSnippets(e.search("merge sort window", files), files,
      "merge sort window").collect()
    assert(got2.nonEmpty)
    got2.foreach { r =>
      assert(r.getString(2) === expected(r.getLong(0),
        Seq("merge sort window")), s"doc ${r.getLong(0)}")
    }
  }

  test("phrase counts match manual substring counting") {
    val got = Extras.phraseCounts(e.phraseCandidates("hash join", files),
        files, "hash join")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.nonEmpty)
    val contents = files.select("doc_id", "content").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    for ((id, n) <- got) {
      val c = contents(id).toLowerCase
      val manual = "hash join".r.findAllMatchIn(c).length
      assert(n === manual, s"doc $id")
      assert(n >= 1)
    }
  }
}
