package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.InvertedIndex
import graft.search.CompressedSearchEngine

/** Asserts the physical-plan properties the engine's 100 TB posture depends
  * on (the same plans PLANS.md documents): pushdown reaches the parquet
  * scan, candidate sets are broadcast into the corpus scan, top-k plans as
  * TakeOrderedAndProject (never a global sort), and the index build has
  * exactly the intended exchanges. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val mem = CompressedSearchEngine.build(Corpus.files(spark, sf))

  /** The serving engine over sf's index, written to and re-read from
    * `idxPath` so plans show the real parquet index scan. */
  private def engineAt(idxPath: String): CompressedSearchEngine = {
    InvertedIndex.write(mem.index, idxPath,
      nPartitions = InvertedIndex.writeParts(spark, 0L))
    new CompressedSearchEngine(
      InvertedIndex.load(spark, idxPath), mem.nDocs, mem.avgdl)
  }

  test("predicate and projection reach the parquet scan") {
    val p = plan(Corpus.documents(spark, sf)
      .filter(col("lang") === "scala").select("doc_id", "lang"))
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,scala)]"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string"), p)
  }

  test("compressed index scan pushes the query-term IN filter") {
    val ce = engineAt("/tmp/graft_planspec_index")
    val p = plan(ce.searchTopK(Seq("merge", "sort")))
    assert(p.contains("PushedFilters: [In(term, [merge,sort])]"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("GlobalSort"), p)
  }

  test("segment build: one (term, salt) repartition, single fused tokenize, " +
      "no join, no map-side sort") {
    val p = plan(InvertedIndex.segments(
      graft.index.Stats.postings(Corpus.files(spark, sf)), mem.nDocs))
    // exactly one explicit repartition — the salted, skew-aware shuffle
    // (REPARTITION_BY_NUM: user-specified count, exempt from AQE's
    // size-based coalescing — the encode stage is CPU-per-posting bound)
    val reparts = "REPARTITION_BY_NUM".r.findAllIn(p).length
    assert(reparts == 1, s"expected 1 REPARTITION_BY_NUM, got $reparts in:\n$p")
    assert(p.contains("hashpartitioning(term"), p)
    assert(p.contains("Sort [term"), p)
    // tf/len/positions ride in the posting row: the build plan has NO join
    assert(!p.contains("Join"), p)
    // the fused tokenize+compact function evaluates exactly once per row
    // (the array is materialized once — not re-evaluated for the generator
    // or a pushed-down non-empty filter at the scan)
    val tokenizes = "CompactTokens\\.compact\\(".r.findAllIn(p).length
    assert(tokenizes == 1,
      s"expected 1 CompactTokens.compact eval, got $tokenizes in:\n$p")
    // the ONLY sort is the post-shuffle (term, salt, doc_id) run sort — the
    // map side no longer sorts per-token rows
    val sorts = "\\bSort \\[".r.findAllIn(p).length
    assert(sorts == 1, s"expected 1 Sort (post-shuffle only), got $sorts in:\n$p")
  }

  test("minhash pipeline: one fused signature eval, reused bucket exchange") {
    val df = ops.Dedup.minhashPairs(Corpus.documents(spark, sf))
    df.collect() // AQE finalizes the plan at runtime
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==").head
    // the whole signature is ONE narrow function eval per document (r6 —
    // no shingle explode, no groupBy agg); the explicit (band, bucket)
    // repartition before the self-join is the ONLY signature-bearing
    // exchange and the join's second side REUSES it instead of recomputing
    // signatures from the raw text
    assert(p.contains("ReusedExchange"), p)
    assert(!p.contains("collect_list"), p)
    val sigEvals = "MinHashSigs\\.sigs\\(".r.findAllIn(fin).length
    assert(sigEvals == 1,
      s"expected 1 MinHashSigs.sigs eval in the final plan, got $sigEvals in:\n$fin")
  }

  test("simhash: fully narrow — no explode, no agg, no exchange before sort") {
    val df = ops.Dedup.simhash(Corpus.documents(spark, sf))
    val p = plan(df)
    // r6: the 32 bit-plane sums are folded inside ONE fused function per
    // document — the only exchange left is the final orderBy's range
    // partitioning, and the function evaluates exactly once per row (the
    // explode_outer generator barrier keeps the isNotNull filter from being
    // substituted below the projection)
    val hashEx = "hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(hashEx == 0, s"expected 0 doc_id hash exchanges, got $hashEx in:\n$p")
    val aggs = "\\bHashAggregate".r.findAllIn(p).length
    assert(aggs == 0, s"expected no aggregates, got $aggs in:\n$p")
    val evals = "SimHashVal\\.simhash\\(".r.findAllIn(p).length
    assert(evals == 1, s"expected 1 SimHashVal.simhash eval, got $evals in:\n$p")
  }

  test("near-dup pairs plan is an LSH-bucket equi-join, never a cartesian") {
    val p = plan(ops.Similarity.nearDupPairs(Corpus.embeddings(spark, sf)))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bucket"), p)
  }

  test("cluster propagation round: equi-join + min hash agg, never a cartesian") {
    val pairs = ops.Dedup.minhashPairs(Corpus.documents(spark, sf))
    val e = ops.Dedup.symmetricEdges(pairs)
    val p = plan(ops.Dedup.propagationRound(e,
      e.select(col("src").as("v"), col("dst").as("lab"))))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  /** The final AQE plan of `df`, run once. AdaptiveSparkPlan.toString
    * prints the Final AND Initial plans; this is the Final section. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("the corpus joins the broadcast scored member set") {
    val files = Corpus.files(spark, sf)
    val ce = engineAt("/tmp/graft_planspec_index")
    for (q <- Seq("\"hash join\"", "\"hash join\" AND \"merge sort\"")) {
      val p = finalPlan(ce.search(q, files))
      // the (doc_id, in0, in1, score) rows are broadcast into the corpus
      // scan; the corpus is never shuffled to meet them
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("compressed boolean query verifies both phrases in ONE corpus scan") {
    val ce = engineAt("/tmp/graft_planspec_index_bool")
    val files = Corpus.files(spark, sf)
    // a lone phrase and each operator; phrases chosen to co-occur at
    // sf0.001 (AND/NOT nonempty) — an empty intermediate would let AQE
    // empty-propagate the corpus scan away
    for (q <- Seq("\"merge sort\"", "\"merge sort\" OR \"table scan\"",
        "\"merge sort\" AND \"table scan\"",
        "\"merge sort\" NOT \"table scan\"")) {
      val p = finalPlan(ce.search(q, files))
      // content is read once for the UNION of both candidate sets and
      // both `contains` predicates evaluate on that single scan — the
      // two-scans-of-files shape made bool_or cost 2× bool_and (r3)
      val scans = "documents\\.parquet".r.findAllIn(p).length
      assert(scans == 1, s"[$q] expected 1 corpus scan, got $scans in:\n$p")
      // both phrases' substring predicates reach that one scan, as the
      // zero-allocation case-folding search (r6 — no lowered content copy)
      assert(p.contains("AsciiContains.containsLower("), p)
      assert(!p.contains("AsciiLower.lower("), p)
      // ONE decoded index scan: one aggregate over the union of the
      // phrases' terms gives both membership flags and the BM25 score, so
      // no second scan re-decodes the terms to score the verified docs
      val idxScans = "graft_planspec_index_bool".r.findAllIn(p).length
      assert(idxScans == 1,
        s"[$q] expected 1 index scan (candidates + scores), got $idxScans in:\n$p")
    }
  }
}
