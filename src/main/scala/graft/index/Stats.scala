package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analyze.Analyzer

/** Corpus statistics stage (SURVEY.md §2.4 A1/A3/A4, §7.1 step 3).
  *
  * [[postings]] is the one source of BM25's corpus statistics: each row
  * carries a document's tf for one term and the document's length, so
  * `tf(doc_id, term, tf)`, `docstats(doc_id, len)` (the `idx == 0` rows),
  * `termstats(term, df)` (rows per term) and `avgdl` are projections of
  * the stream the index build shuffles (the scale-correct shape of the
  * reference's per-document counting loop, `Indexer/TextIndexer.java:32-95`).
  * `n_docs` counts every corpus file, token-less ones included.
  */
object Stats {
  val K1 = 1.2
  val B = 0.75

  /** Positional token stream (doc_id, term, pos, len) — pos is the 0-based
    * token index in the document's analyzer output, len the document's token
    * count. The per-token reference path: the build reads [[postings]]
    * instead, and PhraseSpec checks the stored positions against this
    * stream. The intermediate select materializes `toks` once per row so
    * the generator and `size` share it. */
  def tokensPos(files: DataFrame, analyzer: String = "simple"): DataFrame = {
    val toksCol: DataFrame => DataFrame = analyzer match {
      case "simple" =>
        graft.functions.GraftFunctions.register(files.sparkSession)
        f => f.select(col("doc_id"),
          graft.functions.GraftFunctions.asciiTokens(col("content")).as("toks"))
      case "code" =>
        val tokUdf = udf((c: String, l: String) => Analyzer.codeTokens(c, l))
        f => {
          val withLang =
            if (f.columns.contains("lang")) f
            else f.withColumn("lang", lit(""))
          withLang.select(col("doc_id"),
            tokUdf(col("content"), col("lang")).as("toks"))
        }
      case other => throw new IllegalArgumentException(s"analyzer: $other")
    }
    // posexplode_outer + post-filter instead of posexplode: the non-outer
    // generator implies an array-non-empty predicate that the optimizer
    // pushes below the projection, re-evaluating the tokenizer at the scan
    // (a full second tokenize per row). The outer variant emits one null row
    // for token-less docs, filtered on the generator OUTPUT — tokenize runs
    // exactly once per row (asserted by PlanAuditSpec).
    toksCol(files)
      .select(col("doc_id"), size(col("toks")).as("len"),
        posexplode_outer(col("toks")))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("col").as("term"), col("pos"), col("len"))
  }

  /** Compacted posting stream `(doc_id, idx, term, tf, len, pos)` — the
    * index-build input: ONE fused tokenize+compact function eval per
    * document (graft.functions.CompactTokens.compact) emits one entry per DISTINCT
    * term with tf, doc length, and the wire-encoded position record. No
    * per-token rows, no pre-shuffle sort, no docstats join. `idx` is the
    * entry's index within its document (idx == 0 exactly once per tokenized
    * doc → the docs_tok observation). Same posexplode_outer + isNotNull
    * shape as [[tokensPos]] so the optimizer cannot push an implied
    * non-empty filter below the projection and re-run the tokenizer. */
  def postings(files: DataFrame, analyzer: String = "simple"): DataFrame = {
    val entries: DataFrame = analyzer match {
      case "simple" =>
        graft.functions.GraftFunctions.register(files.sparkSession)
        files.select(col("doc_id"),
          graft.functions.GraftFunctions.compactTokens(col("content")).as("entries"))
      case "code" =>
        val compUdf = udf((c: String, l: String) =>
          graft.functions.CompactTokens.fromTokens(Analyzer.codeTokens(c, l)))
        val withLang =
          if (files.columns.contains("lang")) files
          else files.withColumn("lang", lit(""))
        withLang.select(col("doc_id"),
          compUdf(col("content"), col("lang")).as("entries"))
      case other => throw new IllegalArgumentException(s"analyzer: $other")
    }
    entries
      .select(col("doc_id"), posexplode_outer(col("entries")))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), col("pos").as("idx"), col("col.term").as("term"),
        col("col.tf").as("tf"), col("col.len").as("len"),
        col("col.pos").as("pos"))
  }
}
