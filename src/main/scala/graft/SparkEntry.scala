package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.Stats
import graft.search.CompressedSearchEngine

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB mirror in [[oracleSql]] unless it
  * is not SQL-expressible (then the driver records a rows-only check).
  * Column names, types and row order are aligned between the two; floating
  * point is rounded to 4 decimals on both sides (see OracleSqls).
  */
object SparkEntry {

  /** The build's posting stream over `dir`'s corpus: the corpus-statistics
    * entries below are projections of it, so their oracles certify the
    * tokenizer the index build runs. */
  private def postings(s: SparkSession, dir: String,
                       analyzer: String = "simple"): DataFrame =
    Stats.postings(Corpus.files(s, dir), analyzer)

  private def tf(stream: DataFrame): DataFrame =
    stream.select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"))
      .orderBy("doc_id", "term")

  /** `raw` through the serving lifecycle over `dir`'s corpus, top-10 —
    * every search entry below runs the serving engine, so the DuckDB
    * oracles certify the code path Serve/HttpServe run. */
  private def searchCorpus(s: SparkSession, dir: String, raw: String): DataFrame = {
    val files = Corpus.files(s, dir)
    CompressedSearchEngine.build(files).search(raw, files)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val files = Corpus.files(spark, "/root/testdata/sf0.001")
    Serve.hydrate(
      CompressedSearchEngine.build(files).search("merge sort window", files), files)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2/S3 corpus scan + F18 sha256 row invariant (input_hint)
    "q_corpus_files" -> ((s, dir) =>
      Corpus.files(s, dir).orderBy("doc_id")),
    // A1 term frequencies
    "q_tf" -> ((s, dir) => tf(postings(s, dir))),
    // docstats: BM25 length norm input (one idx == 0 row per tokenized doc)
    "q_docstats" -> ((s, dir) =>
      postings(s, dir).filter(col("idx") === 0)
        .select(col("doc_id"), col("len").cast("long").as("len"))
        .orderBy("doc_id")),
    // A3 global document frequency
    "q_termstats" -> ((s, dir) =>
      postings(s, dir).groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy("term")),
    // A4 corpus scalars, as the engine scores with them
    "q_corpus_stats" -> ((s, dir) => {
      val e = CompressedSearchEngine.build(Corpus.files(s, dir))
      s.range(1).select(round(lit(e.avgdl), 4).as("avgdl"),
        lit(e.nDocs).as("n_docs"))
    }),
    // E5 conjunctive candidates
    "q_candidates_all" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir))
        .candidatesAll(Seq("hash", "join")).orderBy("doc_id")),
    // E4 disjunctive candidates
    "q_candidates_any" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir))
        .decoded(Some(Seq("dup", "vector")))
        .select("doc_id").distinct().orderBy("doc_id")),
    // §3.1 flagship: multi-term BM25 top-10
    "q_bm25_tokens" -> ((s, dir) =>
      searchCorpus(s, dir, "merge sort window")),
    // rare+common term mix
    "q_bm25_rare" -> ((s, dir) =>
      searchCorpus(s, dir, "dup stream")),
    // P4 phrase semantics (conjunctive candidates + raw substring filter)
    "q_phrase" -> ((s, dir) =>
      searchCorpus(s, dir, "\"hash join\"")),
    // E1 AND over phrase-filtered sets
    "q_bool_and" -> ((s, dir) =>
      searchCorpus(s, dir, "\"merge sort\" AND \"table scan\"")),
    // E2 OR
    "q_bool_or" -> ((s, dir) =>
      searchCorpus(s, dir, "\"batch batch\" OR \"window agg\"")),
    // E3 NOT
    "q_bool_not" -> ((s, dir) =>
      searchCorpus(s, dir, "\"sort merge\" NOT \"hash join\"")),
    // A2 + §2.11: delta-gap varbyte posting codec — encode∘decode = id
    "q_index_roundtrip" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir)).decoded(None)
        .orderBy("term", "doc_id")),
    // block-max skip metadata (128-posting blocks)
    "q_index_stats" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir)).index.groupBy("term")
        .agg(first(col("df")).as("df"),
          sum(size(col("blocks"))).cast("long").as("nblocks"))
        .orderBy("term")),
    // exhaustive BM25 top-k straight from decoded postings (no query parse)
    "q_bm25_compressed" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir))
        .searchTopK(Seq("merge", "sort", "window"))),
    // MaxScore/block-range pruned top-k — rank-identical to exhaustive
    "q_bm25_pruned" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir))
        .searchPruned(Seq("merge", "sort", "window"), 10, force = true)),
    // Batch multi-query search (offline query-replay / relevance-eval):
    // 3 queries scored in ONE index scan, per-qid top-k from one window
    "q_batch_search" -> ((s, dir) =>
      CompressedSearchEngine.build(Corpus.files(s, dir)).searchMany(Seq(
        0L -> Seq("merge", "sort", "window"),
        1L -> Seq("dup", "stream"),
        2L -> Seq("hash", "join")))),
    // positional payload roundtrip: decode(encode(positions)) == posexplode,
    // through the posting-level positions decoder
    "q_positions" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      CompressedSearchEngine.build(Corpus.files(s, dir)).index
        .select(col("term"), explode(graft.functions.GraftFunctions
          .decodeDocPositions(col("postings"), col("positions"))).as("e"))
        .select(col("term"), col("e.doc_id").as("doc_id"),
          explode(col("e.ps")).as("pos"))
        .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))
        .orderBy("term", "doc_id", "pos")
    }),
    // duplicates q_phrase: the positional phrase plan these two once
    // certified is gone, and both names stay part of the query set
    "q_phrase_pos" -> ((s, dir) =>
      searchCorpus(s, dir, "\"hash join\"")),
    // duplicates q_bool_and (see q_phrase_pos)
    "q_bool_and_pos" -> ((s, dir) =>
      searchCorpus(s, dir, "\"merge sort\" AND \"table scan\"")),
    // S7 checkpointed build + resume: full bucketed pipeline with lineage
    // manifests, then query the published index
    "q_bm25_checkpointed" -> ((s, dir) => {
      val out = s"/tmp/graft_ckpt_v3_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.checkpoint.CheckpointedBuild.run(Corpus.files(s, dir), out, nBuckets = 4)
      graft.checkpoint.CheckpointedBuild.load(s, out)
        .searchTopK(Seq("merge", "sort", "window"))
    }),
    // S3 incremental append: initial build over the lower 3/4 of the id
    // domain, then an append run over the full corpus with the SAME domain —
    // untouched buckets re-validate (snapshot match) and are skipped, only
    // the appended range's bucket rebuilds (asserted byte-identical
    // manifests in CheckpointedBuildSpec); the merged index must equal a
    // fresh full build, certified here by the full-corpus BM25 oracle
    "q_bm25_incremental" -> ((s, dir) => {
      val out = s"/tmp/graft_ckpt_v3_incr_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val files = Corpus.files(s, dir)
      val b = files.agg(min("doc_id"), max("doc_id")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val cut = lo + 3 * math.max(1L, (hi - lo + 4) / 4)
      val domain = Some((lo, hi))
      graft.checkpoint.CheckpointedBuild.run(files.filter(col("doc_id") < cut),
        out, nBuckets = 4, idDomain = domain)
      // append run carries the delta's id range (snapshot metadata at the
      // Iceberg seam): re-validation scans only the buckets it intersects
      graft.checkpoint.CheckpointedBuild.run(files, out, nBuckets = 4,
        idDomain = domain, changedIds = Some((cut, hi)))
      graft.checkpoint.CheckpointedBuild.load(s, out)
        .searchTopK(Seq("merge", "sort", "window"))
    }),
    // §2.8 streaming incremental loop: the corpus arrives as two staged
    // crawler outputs; a file-source stream foreachBatch-appends each
    // micro-batch to the docs store and runs a changedIds-scoped
    // incremental index append — the final index must equal a fresh full
    // build, certified by the full-corpus BM25 oracle
    "q_bm25_streamed" -> ((s, dir) => {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val src = s"/tmp/graft_stream_ingest_src_$tag"
      val store = s"/tmp/graft_stream_ingest_store_$tag"
      val out = s"/tmp/graft_ckpt_v3_stream_$tag"
      Seq(src, store, out).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      val files = Corpus.files(s, dir)
      val b = files.agg(min("doc_id"), max("doc_id")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val cut = lo + math.max(1L, (hi - lo + 2) / 2)
      graft.streaming.StreamingOps.stageArrival(
        files.filter(col("doc_id") < cut), src, 0)
      graft.streaming.StreamingOps.stageArrival(
        files.filter(col("doc_id") >= cut), src, 1)
      graft.streaming.StreamingOps.indexIngest(s, src, store, out, (lo, hi))
      graft.checkpoint.CheckpointedBuild.load(s, out)
        .searchTopK(Seq("merge", "sort", "window"))
    }),
    // ---- training-data pipeline ops (documents / embeddings tables) ----
    "q_dedup_exact" -> ((s, dir) =>
      ops.Dedup.exact(Corpus.documents(s, dir))),
    "q_minhash_sig" -> ((s, dir) =>
      ops.Dedup.minhashSignatures(Corpus.documents(s, dir))
        .withColumn("h", col("h").cast("long")).orderBy("doc_id", "h")),
    "q_dedup_minhash" -> ((s, dir) =>
      ops.Dedup.minhashPairs(Corpus.documents(s, dir))),
    // J6/S11 closure: near-dup pairs → transitive clusters → one kept
    // representative per cluster (the actual dedup-pipeline deliverable)
    "q_dedup_clusters" -> ((s, dir) =>
      ops.Dedup.clusters(ops.Dedup.minhashPairs(Corpus.documents(s, dir)))),
    "q_dedup_reps" -> ((s, dir) =>
      ops.Dedup.representatives(Corpus.documents(s, dir),
          ops.Dedup.minhashPairs(Corpus.documents(s, dir)))
        .select("doc_id").orderBy("doc_id")),
    "q_dedup_jaccard" -> ((s, dir) =>
      ops.Dedup.ngramJaccardTop(Corpus.documents(s, dir))),
    "q_dedup_simhash" -> ((s, dir) =>
      ops.Dedup.simhash(Corpus.documents(s, dir))),
    "q_ann_brute" -> ((s, dir) =>
      ops.Similarity.annBruteForce(Corpus.embeddings(s, dir), 0)),
    "q_ann_lsh" -> ((s, dir) =>
      ops.Similarity.annLsh(Corpus.embeddings(s, dir), 0)),
    // O5 IVF variant: coarse-quantizer cells + probed-cell scan — the
    // partition-pruning scale path (cells become a partition column at
    // ingest); LSH above is the hash-bucket scale path
    "q_ann_ivf" -> ((s, dir) =>
      ops.Similarity.annIvf(Corpus.embeddings(s, dir), 0)),
    // O5 threshold variant: reference ImageSearchService.java:136 applies
    // a cosine > 0.3 cutoff AFTER its kNN — same plan as q_ann_brute plus
    // one post-limit filter
    "q_ann_threshold" -> ((s, dir) =>
      ops.Similarity.annThreshold(Corpus.embeddings(s, dir), 0)),
    "q_neardup_embed" -> ((s, dir) =>
      ops.Similarity.nearDupPairs(Corpus.embeddings(s, dir))),
    "q_langid" -> ((s, dir) =>
      ops.TextAnalysis.langId(Corpus.documents(s, dir))),
    "q_quality" -> ((s, dir) =>
      ops.TextAnalysis.quality(Corpus.documents(s, dir))),
    "q_tokcount" -> ((s, dir) =>
      ops.TextAnalysis.tokenCounts(Corpus.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) =>
      ops.TextAnalysis.fingerprint(Corpus.documents(s, dir))),
    "q_multimodal" -> ((s, dir) =>
      ops.Multimodal.features(Corpus.documents(s, dir))),
    // resize (images, nearest-neighbor to maxDim 16) + frame-sample (audio,
    // stride 4), fields re-decoded from the TRANSFORMED bytes
    "q_multimodal_downsample" -> ((s, dir) =>
      ops.Multimodal.downsampledFeatures(Corpus.documents(s, dir))),
    // Structured Streaming: windowed event-time agg == batch oracle
    "q_stream_window" -> ((s, dir) =>
      streaming.StreamingOps.windowedEventCounts(s, dir)),
    // flatMapGroupsWithState custom state: gap-based sessionization
    "q_stream_sessions" -> ((s, dir) =>
      streaming.StreamingOps.sessionize(s, dir)),
    // S10/A11/O3/P5: REAL query-log sink — three append batches replayed
    // into a fresh log table, counted, prefix-suggested (raw key,
    // normalized match, reference dbManager.java:513-552)
    "q_suggestions" -> ((s, dir) =>
      search.QueryLog.suggest(search.QueryLog.replay(s,
        s"/tmp/graft_querylog_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"), "s")),
    // O2: pagination — page 2 of 3-per-page over the flagship query
    "q_paged" -> ((s, dir) => {
      val files = Corpus.files(s, dir)
      CompressedSearchEngine.build(files)
        .searchPage("merge sort window", files, page = 2, limit = 3)
    }),
    // F13: paragraph snippets for the flagship query's result page
    // (first matching newline block, 100-word truncation, whole-doc fallback)
    "q_snippets" -> ((s, dir) =>
      search.Extras.withSnippets(searchCorpus(s, dir, "merge sort window"),
        Corpus.files(s, dir), "merge sort window")),
    // F13 boolean path: paragraph must satisfy the AND of both phrases
    "q_snippets_bool" -> ((s, dir) => {
      val q = "\"merge sort\" AND \"table scan\""
      search.Extras.withSnippets(searchCorpus(s, dir, q), Corpus.files(s, dir), q)
    }),
    // F12: phrase occurrence counts over phrase candidates
    "q_phrase_count" -> ((s, dir) => {
      val files = Corpus.files(s, dir)
      search.Extras.phraseCounts(
        CompressedSearchEngine.build(files).phraseCandidates("hash join", files),
        files, "hash join")
    }),
    // code-aware analyzer (identifier/camelCase/snake subtokens + Porter
    // stem): DuckDB-oracled via a generated pure-SQL Porter stemmer
    // (PorterSql — validated against PorterStemmer on 28k fuzz words);
    // rank parity additionally asserted against the in-repo Scala oracle
    "q_tf_code" -> ((s, dir) => tf(postings(s, dir, "code"))),
    "q_bm25_code" -> ((s, dir) => {
      val files = Corpus.files(s, dir)
      CompressedSearchEngine.build(files, "code")
        .search("merge sort window", files, analyzer = "code")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val b = OracleSqls
    def bm25(terms: Seq[String], extraCtes: Seq[String], cand: Option[String]) =
      (Seq(b.base) ++ extraCtes).mkString(",\n")
        .replaceFirst(",\n$", "") + ",\n" + b.bm25Select(terms, cand)
    def boolQ(p1: Seq[String], ph1: String, p2: Seq[String], ph2: String,
              op: String, scoreTerms: Seq[String]) =
      s"""${b.base},
         |${b.phraseCte("phr1", p1, ph1)},
         |${b.phraseCte("phr2", p2, ph2)},
         |cand AS (SELECT doc_id FROM phr1 $op SELECT doc_id FROM phr2),
         |${b.bm25Select(scoreTerms, Some("cand"))}""".stripMargin
    // wrap a full (doc_id, score) bm25 query: first matching paragraph (cond
    // over alias p), 100-word truncation, whole-doc fallback — mirrors
    // Extras.withSnippets exactly
    def snippetOracle(fullBm25: String, cond: String): String = {
      val idx = fullBm25.lastIndexOf("\nSELECT doc_id")
      val ctes = fullBm25.substring(0, idx)
      val finalSel = fullBm25.substring(idx + 1)
      s"""$ctes,
         |topk AS (
         |$finalSel
         |),
         |ch AS (
         |  SELECT t.doc_id, t.score,
         |    coalesce(list_filter(string_split(f.content, chr(10)),
         |      p -> $cond)[1], f.content) AS chosen
         |  FROM topk t JOIN files f USING (doc_id)),
         |cw AS (
         |  SELECT doc_id, score, chosen,
         |    list_filter(string_split_regex(chosen, '\\s+'), x -> x <> '') AS w
         |  FROM ch)
         |SELECT doc_id, score,
         |  CASE WHEN len(w) <= 100 THEN chosen
         |       ELSE array_to_string(w[1:100], ' ') || '...' END AS snippet
         |FROM cw ORDER BY score DESC, doc_id ASC""".stripMargin
    }
    Map(
      "q_corpus_files" ->
        s"""WITH ${b.filesCte}
           |SELECT doc_id, repo, path, "commit", lang, content, sha
           |FROM files ORDER BY doc_id""".stripMargin,
      "q_tf" ->
        s"${b.base}\nSELECT doc_id, term, tf FROM tf ORDER BY doc_id, term",
      "q_docstats" ->
        s"${b.base}\nSELECT doc_id, len FROM docstats ORDER BY doc_id",
      "q_termstats" ->
        s"${b.base}\nSELECT term, df FROM termstats ORDER BY term",
      "q_corpus_stats" ->
        s"${b.base}\nSELECT round(avgdl, 4) AS avgdl, n_docs FROM consts",
      "q_candidates_all" ->
        s"""${b.base},
           |${b.candAllCte("cand", Seq("hash", "join"))}
           |SELECT doc_id FROM cand ORDER BY doc_id""".stripMargin,
      "q_candidates_any" ->
        s"""${b.base}
           |SELECT DISTINCT doc_id FROM tf WHERE term IN ('dup', 'vector')
           |ORDER BY doc_id""".stripMargin,
      "q_bm25_tokens" -> bm25(Seq("merge", "sort", "window"), Nil, None),
      "q_bm25_rare" -> bm25(Seq("dup", "stream"), Nil, None),
      "q_phrase" -> bm25(Seq("hash", "join"),
        Seq(b.phraseCte("phr", Seq("hash", "join"), "hash join")), Some("phr")),
      "q_bool_and" -> boolQ(Seq("merge", "sort"), "merge sort",
        Seq("table", "scan"), "table scan", "INTERSECT",
        Seq("merge", "sort", "table", "scan")),
      "q_bool_or" -> boolQ(Seq("batch"), "batch batch",
        Seq("window", "agg"), "window agg", "UNION",
        Seq("batch", "window", "agg")),
      "q_bool_not" -> boolQ(Seq("sort", "merge"), "sort merge",
        Seq("hash", "join"), "hash join", "EXCEPT",
        Seq("sort", "merge")),
      "q_index_roundtrip" ->
        s"""${b.base}
           |SELECT tf.term, ts.df, tf.doc_id, tf.tf, ds.len
           |FROM tf JOIN termstats ts USING (term) JOIN docstats ds USING (doc_id)
           |ORDER BY tf.term, tf.doc_id""".stripMargin,
      "q_index_stats" ->
        s"""${b.base}
           |SELECT term, df, CAST(ceil(df / 128.0) AS BIGINT) AS nblocks
           |FROM termstats ORDER BY term""".stripMargin,
      "q_bm25_compressed" -> bm25(Seq("merge", "sort", "window"), Nil, None),
      "q_batch_search" -> b.batchSearch(Seq(
        0 -> Seq("merge", "sort", "window"),
        1 -> Seq("dup", "stream"),
        2 -> Seq("hash", "join"))),
      "q_bm25_pruned" -> bm25(Seq("merge", "sort", "window"), Nil, None),
      "q_positions" ->
        s"""WITH ${b.filesCte},
           |w AS (
           |  SELECT doc_id,
           |         list_filter(string_split_regex(lower(content), '[^a-z0-9]+'),
           |                     x -> x <> '') AS toks
           |  FROM files
           |),
           |occ AS (
           |  SELECT doc_id, unnest(toks) AS term, unnest(range(len(toks))) AS pos
           |  FROM w
           |)
           |SELECT doc_id, term, CAST(pos AS BIGINT) AS pos FROM occ
           |ORDER BY term, doc_id, pos""".stripMargin,
      "q_phrase_pos" -> bm25(Seq("hash", "join"),
        Seq(b.phraseCte("phr", Seq("hash", "join"), "hash join")), Some("phr")),
      "q_bool_and_pos" -> boolQ(Seq("merge", "sort"), "merge sort",
        Seq("table", "scan"), "table scan", "INTERSECT",
        Seq("merge", "sort", "table", "scan")),
      "q_bm25_checkpointed" -> bm25(Seq("merge", "sort", "window"), Nil, None),
      "q_bm25_incremental" -> bm25(Seq("merge", "sort", "window"), Nil, None),
      "q_bm25_streamed" -> bm25(Seq("merge", "sort", "window"), Nil, None),
      "q_dedup_exact" -> OpsOracles.dedupExact,
      "q_minhash_sig" -> OpsOracles.minhashSig,
      "q_dedup_minhash" -> OpsOracles.minhashPairs,
      "q_dedup_clusters" -> OpsOracles.dedupClusters,
      "q_dedup_reps" -> OpsOracles.dedupReps,
      "q_dedup_jaccard" -> OpsOracles.ngramJaccard,
      "q_dedup_simhash" -> OpsOracles.simhash,
      "q_ann_brute" -> OpsOracles.annBrute,
      "q_ann_lsh" -> OpsOracles.annLsh,
      "q_ann_ivf" -> OpsOracles.annIvf,
      "q_ann_threshold" -> OpsOracles.annThreshold,
      "q_neardup_embed" -> OpsOracles.nearDupEmbed,
      "q_langid" -> OpsOracles.langId,
      "q_quality" -> OpsOracles.quality,
      "q_tokcount" -> OpsOracles.tokenCounts,
      "q_fingerprint" -> OpsOracles.fingerprint,
      "q_multimodal" -> OpsOracles.multimodal,
      "q_multimodal_downsample" -> OpsOracles.multimodalDownsample,
      "q_stream_sessions" ->
        """WITH d AS (
          |  SELECT user_id, epoch_ms(ts) AS ts_ms, value,
          |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
          |           OVER (PARTITION BY user_id ORDER BY ts) > 1800000
          |         THEN 1 ELSE 0 END AS brk
          |  FROM events),
          |s AS (
          |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
          |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM d)
          |SELECT user_id, session_id, min(ts_ms) AS session_start_ms,
          |  count(*) AS n_events, round(sum(value), 4) AS sum_value
          |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
      "q_stream_window" ->
        """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
          |       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
      "q_suggestions" -> {
        // mirror of QueryLog.replay + suggest: the same literal stream,
        // grouped by RAW query, prefix-matched on the normalized form
        val vals = search.QueryLog.ReplayBatches.flatten
          .filter(q => q.trim.nonEmpty && search.QueryLog.normalize(q).nonEmpty)
          .map(q => s"('${q.replace("'", "''")}')").mkString(", ")
        s"""WITH log(query) AS (VALUES $vals),
           |c AS (
           |  SELECT query, count(*) AS cnt,
           |    array_to_string(list_filter(
           |      string_split_regex(lower(query), '[^a-z0-9]+'),
           |      x -> x <> ''), ' ') AS norm
           |  FROM log GROUP BY query)
           |SELECT query, cnt FROM c WHERE norm LIKE 's%'
           |ORDER BY cnt DESC, query ASC LIMIT 10""".stripMargin
      },
      "q_paged" ->
        s"${b.base},\n${b.bm25Select(Seq("merge", "sort", "window"), None, 3, 3)}",
      "q_snippets" -> snippetOracle(
        s"${b.base},\n${b.bm25Select(Seq("merge", "sort", "window"), None)}",
        "contains(lower(p), 'merge sort window')"),
      "q_snippets_bool" -> snippetOracle(
        boolQ(Seq("merge", "sort"), "merge sort",
          Seq("table", "scan"), "table scan", "INTERSECT",
          Seq("merge", "sort", "table", "scan")),
        "contains(lower(p), 'merge sort') AND contains(lower(p), 'table scan')"),
      "q_phrase_count" ->
        s"""${b.base},
           |${b.phraseCte("phr", Seq("hash", "join"), "hash join")}
           |SELECT f.doc_id,
           |  CAST((length(f.content) -
           |        length(replace(lower(f.content), 'hash join', ''))) / 9 AS BIGINT) AS n_occ
           |FROM files f JOIN phr USING (doc_id)
           |ORDER BY f.doc_id""".stripMargin,
      // code analyzer: identifier split + normalize chain + a generated
      // pure-DuckDB Porter stemmer (PorterSql.stemCtes — the fts
      // extension's stem() cannot install offline). WITH RECURSIVE powers
      // the exact consonant/vowel pattern computation.
      "q_tf_code" ->
        s"""WITH RECURSIVE ${b.filesCte},
           |${PorterSql.codeTfCtes}
           |SELECT doc_id, term, tf FROM ctf
           |ORDER BY doc_id, term""".stripMargin,
      // same BM25 formula over the code-analyzer tables; query terms are
      // codeTokens("merge sort window") = (merg, sort, window) — the
      // analyzer stems the query with the same chain as the index
      "q_bm25_code" ->
        s"""WITH RECURSIVE ${b.filesCte},
           |${PorterSql.codeTfCtes},
           |tf AS (SELECT doc_id, term, tf FROM ctf),
           |docstats AS (
           |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id),
           |termstats AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |consts AS (
           |  SELECT (SELECT count(*) FROM files) AS n_docs,
           |         (SELECT avg(len) FROM docstats) AS avgdl),
           |${b.bm25Select(Seq("merg", "sort", "window"), None)}""".stripMargin
    )
  }
}
