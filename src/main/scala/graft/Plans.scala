package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.corpus.Corpus
import graft.index.InvertedIndex
import graft.search.CompressedSearchEngine

/** Dumps `explain("formatted")` for the load-bearing physical plans into
  * PLANS.md — the audit trail that the plans are the ones a 1000-executor
  * run needs: filters/projections reach the parquet scan (PushedFilters /
  * ReadSchema), query-side joins broadcast the tiny side, top-k plans as
  * TakeOrderedAndProject (never a global sort), the index build has exactly
  * the intended exchanges, and the hot path stays inside WholeStageCodegen.
  *
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.builder("graft-plans", 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val files = Corpus.files(spark, sfDir)
    val mem = CompressedSearchEngine.build(files)
    val toksP = graft.index.Stats.postings(files)
    // write + re-read so the query plans show the real parquet scan
    val idxPath = "/tmp/graft_plans_index"
    InvertedIndex.write(mem.index, idxPath,
      nPartitions = InvertedIndex.writeParts(spark, 0L))
    val ceng = new CompressedSearchEngine(
      InvertedIndex.load(spark, idxPath), mem.nDocs, mem.avgdl)

    val sections = Seq(
      ("Corpus scan with predicate + projection",
        "Expect: `PushedFilters: [IsNotNull(lang), EqualTo(lang,scala)]` and " +
          "a pruned `ReadSchema` (only doc_id/lang/text reach the scan).",
        Corpus.documents(spark, sfDir)
          .filter(col("lang") === "scala").select("doc_id", "lang", "text")),
      ("BM25 over the compressed block-max index",
        "Expect: parquet scan of the index with `PushedFilters: [In(term, …)]` " +
          "(row-group pruning via min/max stats), generate/explode of " +
          "decoded postings, hash agg, `TakeOrderedAndProject`.",
        ceng.searchTopK(Seq("merge", "sort", "window"))),
      ("Phrase query over the compressed engine (one index scan)",
        "Expect: three stages. The index scan (`PushedFilters: [In(term, " +
          "…)]`) decodes the phrase's tokens once into ONE hash aggregate " +
          "on doc_id that gives the membership flag in0 (a `count` of the " +
          "phrase's terms) and the BM25 score (a `sum` of the weights); " +
          "its rows are broadcast into a `BroadcastHashJoin` with the " +
          "corpus scan, whose `AsciiContains.containsLower` filter is the " +
          "substring verify, and `TakeOrderedAndProject` takes the top-k " +
          "of the join. " +
          "No second index scan re-scores the verified docs.",
        ceng.search("\"hash join\"", files)),
      ("Boolean query over the compressed engine (shared verify scan)",
        "Expect: ONE index scan for both phrases — the union of their " +
          "tokens decoded once into one hash aggregate on doc_id with a " +
          "`count` per phrase (flags in0/in1) and the `sum` of the BM25 " +
          "weights (score) — broadcast into ONE scan of the corpus parquet: " +
          "the scan keeps the rows that contain either phrase, the join " +
          "condition pairs each `AsciiContains.containsLower` call with its " +
          "phrase's flag, and the top-k is taken over the join. The " +
          "two-scans-of-files shape " +
          "cost bool_or 2× bool_and (r3).",
        ceng.search("\"hash join\" OR \"merge sort\"", files)),
      ("Boolean AND over the compressed engine (intersection hydration)",
        "Expect: the same three stages; the aggregate's rows are filtered " +
          "to the docs flagged for both phrases (in0 = 1 AND in1 = 1) " +
          "before the broadcast, and both `AsciiContains.containsLower` " +
          "predicates evaluate in one filter on the one corpus scan.",
        ceng.search("\"hash join\" AND \"merge sort\"", files)),
      ("Index build stage 1: salted segment runs",
        "Expect: ONE fused tokenize+compact eval per document (a single " +
          "`CompactTokens.compact` call — tf, len, and wire-encoded " +
          "positions ride in the posting row, so there is NO docstats " +
          "join, no per-token " +
          "rows, and no map-side sort) and a single `Exchange " +
          "hashpartitioning(term, salt)` feeding an in-partition sort + " +
          "MapPartitions (the streaming var-byte segment encoder).",
        InvertedIndex.segments(toksP, mem.nDocs)),
      ("Index build stage 2: term-keyed merge into chunks",
        "Expect: ONE `Exchange hashpartitioning(term, N)` (explicit count — " +
          "exempt from AQE size-based coalescing, the merge is CPU-per-" +
          "posting bound) + in-partition Sort [term] + MapPartitions (the " +
          "streaming byte-level chunk merge: one term's run bytes live at a " +
          "time, chunk rows emitted as they fill — no per-posting objects, " +
          "no per-term aggregate buffers).",
        InvertedIndex.mergeSegments(
          InvertedIndex.segments(toksP, mem.nDocs), mem.avgdl)),
      ("Batch multi-query search (offline query replay)",
        "Expect: ONE index parquet scan with `PushedFilters: [In(term, …)]` " +
          "covering the whole batch's terms, the (qid, term) queries table " +
          "broadcast into the decoded postings, partial+final hash agg on " +
          "(qid, doc_id), and a single window (rank per qid) — Q queries, " +
          "one scan.",
        ceng.searchMany(Seq(0L -> Seq("merge", "sort"),
          1L -> Seq("hash", "join")))),
      ("ANN brute-force cosine top-k",
        "Expect: `BroadcastNestedLoopJoin` of the ONE-ROW query vector " +
          "(a scalar broadcast, not a cartesian hazard), the cosine fold " +
          "as a single projection, `TakeOrderedAndProject` top-k — one " +
          "narrow pass, zero shuffles.",
        ops.Similarity.annBruteForce(Corpus.embeddings(spark, sfDir), 0)),
      ("ANN LSH multi-probe",
        "Expect: the probe ring exploded on the tiny query side and " +
          "broadcast into an equi-join on the bucket key (at scale: a " +
          "bucket-partitioned table prunes to the probed partitions), then " +
          "cosine + `TakeOrderedAndProject`.",
        ops.Similarity.annLsh(Corpus.embeddings(spark, sfDir), 0)),
      ("Dedup clustering — one min-label propagation round",
        "Expect: the symmetric edge union equi-joined to current labels on " +
          "dst (never a cartesian), min-label hash agg on src with " +
          "map-side partial aggregation, then the least() merge joined " +
          "back on v — two bounded doc_id shuffles per round, rounds = " +
          "component diameter. (The converged `clusters` output plan just " +
          "reads the cached fixpoint frame, so the round shape is dumped " +
          "here explicitly.)",
        { val e = ops.Dedup.symmetricEdges(
            ops.Dedup.minhashPairs(Corpus.documents(spark, sfDir)))
          ops.Dedup.propagationRound(e,
            e.select(col("src").as("v"), col("dst").as("lab"))) }),
      ("ANN IVF probed-cell scan",
        "Expect: cell assignment as a pure narrow projection (greatest over " +
          "per-centroid rounded cosines from the driver-planned codebook), " +
          "a `cell IN (probed)` filter (at scale: partition pruning on an " +
          "ingest-time cell column), the query vector inlined as a literal " +
          "(like query-term metadata — no join at all), " +
          "`TakeOrderedAndProject` — one scan, zero shuffles, zero joins. " +
          "(Dumped with a 2-centroid codebook so the embedded vector " +
          "literals don't drown the plan shape; production default is 16.)",
        ops.Similarity.annIvf(Corpus.embeddings(spark, sfDir), 0,
          nCentroids = 2, nProbe = 1))
    )

    val md = new StringBuilder
    md.append("# PLANS — physical-plan audit (generated by `graft.Plans`)\n\n")
    md.append(s"Corpus: `$sfDir`. Re-generate with " +
      "`sbt \"runMain graft.Plans\"`.\n")
    for ((title, expect, df) <- sections) {
      md.append(s"\n## $title\n\n$expect\n\n```\n")
      md.append(fmt(df).trim.take(8000))
      md.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), md.toString)
    println(s"wrote $out (${sections.size} plans)")
    spark.stop()
  }
}
