package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** BM25 retrieval over the compressed block-max index
  * (`index(term, df, chunk_id, first_doc_id, last_doc_id, n, max_weight,
  * blocks, postings, positions)`).
  *
  * Paths:
  *  - [[searchTopK]]: exhaustive — decode every chunk of the query terms,
  *    score, top-k. The correctness baseline.
  *  - [[searchPruned]]: MaxScore term pruning + chunk-range skipping +
  *    block-max WAND block skipping (see its doc). Guaranteed
  *    rank-identical to the exhaustive path (asserted in tests and by the
  *    shared DuckDB oracle).
  *  - [[search]]: the full serving lifecycle (token/phrase/boolean):
  *    phrases take conjunctive candidates and their BM25 scores from ONE
  *    index scan (one per-doc aggregate, `members`, for a phrase and for
  *    both sides of a boolean), then the raw substring verify over the
  *    corpus and the top-k of the docs that pass it.
  *
  * Everything stays distributed: the only `collect`s are O(#query-terms)
  * metadata rows and the k threshold scores — never postings.
  */
final class CompressedSearchEngine(val index: DataFrame, val nDocs: Long,
                                   val avgdl: Double) {

  /** Diagnostic: whether the last [[searchPruned]] call ran the block-max
    * candidate-generation pass (τ > 0 for some essential term) or provably
    * skipped it (τ ≤ 0 for all — no block prunable). Tests assert both
    * branches execute across their query matrix. */
  @volatile private[graft] var lastPrunedUsedCandidates: Option[Boolean] = None

  // the engine's queries call the Graft functions by name; registered once
  // here, not per query, so concurrent requests don't rewrite the registry
  graft.functions.GraftFunctions.register(index.sparkSession)

  // native decode (graft.functions.DecodePostings.decode) — stays inside
  // whole-stage codegen fused with the explode, no catalyst↔Scala converters
  private def decodeCol(c: Column) =
    graft.functions.GraftFunctions.decodePostings(c)

  private def rowsFor(terms: Seq[String]): DataFrame =
    index.filter(col("term").isin(terms: _*))

  /** Decoded view of the index: (term, df, doc_id, tf, len) — also the
    * encode∘decode = id roundtrip surface checked against the tf oracle. */
  def decoded(terms: Option[Seq[String]] = None): DataFrame =
    decodedFrom(terms.fold(index)(rowsFor))

  private def scoreDecoded(decodedRows: DataFrame, k: Int): DataFrame =
    decodedRows
      .withColumn("w", BM25.weight(avgdl, nDocs))
      .groupBy("doc_id")
      .agg(round(sum(col("w")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)

  /** Exhaustive top-k over the compressed index. */
  def searchTopK(terms: Seq[String], k: Int = 10): DataFrame =
    scoreDecoded(decoded(Some(terms)), k)

  /** Batch multi-query search — the offline query-replay / relevance-eval
    * shape: score N queries in ONE index scan. The (qid, term) queries
    * table is broadcast into the decoded postings (a single
    * `In(term, ∪ terms)` parquet scan, so opening the index files and
    * pruning their row groups is paid once for the whole batch), scores
    * aggregate per (qid, doc_id) with map-side partial aggregation, and
    * per-query top-k comes from one
    * window pass over qid partitions. At scale this replaces Q sequential
    * index scans with one: shuffle volume is Σ per-query scored postings
    * and the scan/decode cost is shared. Rank-identical per qid to
    * [[searchTopK]] (asserted in spec and by the DuckDB oracle). */
  def searchMany(queries: Seq[(Long, Seq[String])], k: Int = 10): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    // distinct: a term duplicated within one query's list must score once,
    // exactly like searchTopK's isin filter (a duplicate (qid, term) pair
    // would join every posting twice and double that term's weight)
    val pairs = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }.distinct
    require(pairs.nonEmpty, "searchMany needs at least one (qid, term)")
    val qdf = pairs.toDF("qid", "term")
    val allTerms = pairs.map(_._2).distinct
    val perQ = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("doc_id").asc)
    decoded(Some(allTerms))
      .join(broadcast(qdf), Seq("term"))
      .withColumn("w", BM25.weight(avgdl, nDocs))
      .groupBy("qid", "doc_id")
      .agg(round(sum(col("w")), 4).as("score"))
      .withColumn("rn", row_number().over(perQ))
      .filter(col("rn") <= k)
      .select("qid", "doc_id", "score")
      .orderBy(col("qid").asc, col("score").desc, col("doc_id").asc)
  }

  /** `(doc_id, in0, in1, …, score)` for the docs that hold every term of at
    * least one of `sets`: `in_i` is 1 when the doc holds all of `sets(i)`,
    * else 0, and `score` is the doc's BM25 score over the `scored` terms
    * (default: every term of `sets`). The union of the sets' terms is
    * decoded once and ONE aggregate on `doc_id` counts, per set, the doc's
    * postings whose term is in it, and sums their weights. The build emits
    * each `(term, doc_id)` posting exactly once (CompactTokens compacts per
    * document, a run's doc ids strictly increase, and
    * `PostingCodec.mergeStreamsPos` requires it), so that count is the
    * number of the set's distinct terms the doc holds, and comparing it
    * with the set's length is exact for any number of terms. A set with a
    * duplicate term can never reach its length, and an empty set is never
    * a member (its count, 0, would equal its length). A caller that drops
    * `score` drops its sum too (column pruning). */
  private def members(sets: Seq[Seq[String]],
                      scored: Option[Seq[String]] = None): DataFrame = {
    val flags = sets.zipWithIndex.map { case (ts, i) =>
      (if (ts.isEmpty) lit(0)
       else (count_if(col("term").isin(ts: _*)) === ts.length).cast("int")).as(s"in$i")
    }
    val w = BM25.weight(avgdl, nDocs)
    val score = round(sum(scored.fold(w)(ts => when(col("term").isin(ts: _*), w))), 4)
    decoded(Some(sets.flatten.distinct)).groupBy("doc_id")
      .agg(flags.head, flags.tail :+ score.as("score"): _*)
      .filter(sets.indices.map(i => col(s"in$i") === 1).reduce(_ || _))
  }

  /** E5 conjunctive candidates from the index alone (docs containing ALL
    * terms) — checked against the DuckDB oracle (`q_candidates_all`) and,
    * through the phrase and boolean paths, against `LocalOracle` in specs.
    * One [[members]] aggregate; duplicate terms in `terms` make it
    * unsatisfiable, and no terms give no candidates. */
  def candidatesAll(terms: Seq[String]): DataFrame =
    members(Seq(terms)).select("doc_id")

  /** The corpus rows of the docs that pass `verify`, joined to the
    * broadcast [[members]] rows of `sets`. */
  private def verified(sets: Seq[Seq[String]], scored: Option[Seq[String]],
                       files: DataFrame, verify: Column): DataFrame =
    files.join(broadcast(members(sets, scored)), Seq("doc_id")).filter(verify)

  /** Phrase `p` holds in a doc of set `i` (`in_i` = 1) whose raw content
    * contains it, ASCII case-folded (`dbManager.java:324-341` semantics —
    * the verify is authoritative). AsciiContains folds [A-Z] on the fly
    * during the byte search, so no lowered copy of the content is made.
    * The optimizer pushes the check below the join, onto every corpus row;
    * running it on the joined candidates only measured no faster
    * (GATES.md). */
  private def hit(i: Int, p: String): Column =
    col(s"in$i") === 1 && graft.functions.GraftFunctions.asciiContains(
      col("content"), lit(graft.functions.AsciiLower.lowerString(p)))

  /** P4 phrase candidates: conjunctive tokens from the index, verified by
    * the raw substring filter over the corpus. GATES.md measured a
    * positional token-adjacency pre-filter 4.4–14.7× slower than this plan
    * at every corpus size, so it is the only one. */
  def phraseCandidates(phrase: String, files: DataFrame,
                       analyzer: String = "simple"): DataFrame =
    verified(Seq(graft.analyze.Analyzer.queryTokens(analyzer, phrase).distinct),
      None, files, hit(0, phrase)).select("doc_id")

  /** Full query lifecycle over the persisted index + corpus (serving path):
    * parse → candidates → BM25 → top-k. Certified against the DuckDB
    * oracles (`q_bm25_*`, `q_phrase*`, `q_bool_*`, `q_paged`, `q_snippets*`)
    * and rank-identical to `LocalOracle` on seeded corpora (SearchSpec).
    *
    * A token query is [[searchTopK]]. A phrase or boolean query reads the
    * index ONCE: one [[members]] aggregate over the union of its phrases'
    * tokens gives each candidate's membership flags and its BM25 score
    * (for NOT, over phrase 1's tokens only, as its result is a subset of
    * phrase 1's matches). Those rows are broadcast into ONE scan of the
    * corpus, which runs every phrase's substring verify on the joined rows
    * and takes the top-k: three stages in all. Each membership flag gates
    * its phrase's verify, so every side keeps its exact
    * candidates ∩ substring semantics (reference dbManager verify): a doc
    * outside a phrase's candidate set cannot match it even if the raw
    * substring happens to occur. */
  def search(raw: String, files: DataFrame, k: Int = 10,
             analyzer: String = "simple"): DataFrame = {
    require(k >= 0 && k <= CompressedSearchEngine.MaxResultWindow,
      s"k must be in [0, ${CompressedSearchEngine.MaxResultWindow}]: $k")
    def toks(s: String) = graft.analyze.Analyzer.queryTokens(analyzer, s).distinct
    val hits = QueryParser.parse(raw) match {
      case Tokens(text) => return searchTopK(toks(text), k)
      case Phrase(p) => verified(Seq(toks(p)), None, files, hit(0, p))
      case Bool(op, p1, p2) =>
        val sets = Seq(toks(p1), toks(p2))
        op match {
          case "and" => verified(sets, None, files, hit(0, p1) && hit(1, p2))
          case "or"  => verified(sets, None, files, hit(0, p1) || hit(1, p2))
          case "not" => verified(sets, Some(sets.head), files, hit(0, p1) && !hit(1, p2))
        }
    }
    hits.select("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** O2: paginated serving — reference semantics
    * (`QueryProcessor/QueryProcessor.java:131-139`): 1-based page,
    * fromIndex = (page-1)·limit, pages past the end are empty. The window
    * `page·limit` is at most [[CompressedSearchEngine.MaxResultWindow]]. */
  def searchPage(raw: String, files: DataFrame, page: Int, limit: Int,
                 analyzer: String = "simple"): DataFrame = {
    require(page >= 1 && limit >= 1, s"page/limit must be >= 1: $page/$limit")
    val window = page.toLong * limit
    require(window <= CompressedSearchEngine.MaxResultWindow,
      s"page * limit must be at most ${CompressedSearchEngine.MaxResultWindow}: $window")
    search(raw, files, window.toInt, analyzer).offset((page - 1) * limit)
  }

  /** MaxScore + block-max-WAND pruned top-k — rank-identical to
    * [[searchTopK]].
    *
    * Three Spark jobs total (meta collect, θ pass, pruned rescore): the
    * candidate docId range comes from the essential terms' chunk metadata
    * gathered in the first collect (a superset of the exact candidate
    * min/max), not a separate action, and the query terms' index rows are
    * persisted across the passes so the index parquet is scanned once.
    *
    * Pruning acts at three granularities:
    *  - term (MaxScore): non-essential terms never generate candidates,
    *  - chunk: rescore skips chunks outside the candidates' doc range,
    *  - block (block-max WAND, north rule): candidate generation decodes a
    *    128-posting block of term t only if its best possible total score
    *    `idf_t · max_weight(B) + Σ_{t'≠t} ub(t')` reaches θ — a doc whose
    *    every appearance lies in pruned blocks is bounded below θ by the
    *    same inequality, so skipping is lossless; the rescore decodes only
    *    blocks intersecting [lo, hi] (max_weight bound 0 there: every
    *    contribution of a surviving candidate must count).
    *
    * Adaptive gate: below [[CompressedSearchEngine.PruneGateDocs]] docs the
    * decode work a prune could save is smaller than the two extra adaptive
    * round-trips it costs (measured: 3-job pruning loses to the single
    * exhaustive job up to at least 10^6 docs), so small corpora take the
    * exhaustive path unless `force` is set (specs and `q_bm25_pruned`
    * exercise the machinery with force=true). */
  def searchPruned(terms: Seq[String], k: Int = 10,
                   force: Boolean = false): DataFrame = {
    if (terms.isEmpty) return searchTopK(terms, k)
    if (!force && nDocs < CompressedSearchEngine.PruneGateDocs)
      return searchTopK(terms, k)
    // project the positions column away BEFORE caching: scoring never reads
    // it, and for common terms it dwarfs the postings stream (≈ tf varbyte
    // positions per posting vs ~5 bytes of posting) — persisting it would
    // make the cache materialization the dominant cost of the whole query
    val rows = rowsFor(terms).select(col("term"), col("df"),
      col("first_doc_id"), col("last_doc_id"), col("max_weight"),
      col("blocks"), col("postings")).persist()
    try {
      // (1) per-term metadata: df, max block weight, chunk docId range.
      val meta = rows.groupBy("term")
        .agg(first(col("df")).as("df"), max(col("max_weight")).as("mw"),
          min(col("first_doc_id")).as("lo"), max(col("last_doc_id")).as("hi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4)))
      if (meta.isEmpty) return searchTopK(terms, k)
      val idf = meta.map { case (t, df, _, _, _) =>
        t -> BM25.idfValue(nDocs, df)
      }.toMap
      val ub = meta.map { case (t, _, mw, _, _) => t -> (idf(t) * mw) }.toMap
      // (2) θ: k-th exact score of the rarest term (a lower bound on the
      // final k-th score), minus a safety margin for the display rounding.
      val rarest = meta.minBy(_._2)._1
      val kth = scoreDecoded(decodedFrom(
        rows.filter(col("term") === rarest)), k).collect()
      if (kth.length < k)
        return scoreDecoded(decodedFrom(rows), k) // θ = 0: nothing prunable
      val theta = kth.last.getDouble(1) - 1e-3
      // (3) essential terms: ascending by ub, drop the maximal prefix whose
      // cumulative ub stays strictly below θ — docs appearing ONLY in that
      // prefix provably cannot reach the top-k.
      val asc = meta.map(_._1).sortBy(ub)
      val cum = asc.scanLeft(0.0)((s, t) => s + ub(t)).tail
      val essential = asc.zip(cum).collect { case (t, c) if c >= theta => t }
      val essTerms = if (essential.isEmpty) Seq(asc.last) else essential.toSeq
      val essSet = essTerms.toSet
      // candidate docId range from essential chunk metadata (no extra job)
      val lo = meta.collect { case (t, _, _, l, _) if essSet(t) => l }.min
      val hi = meta.collect { case (t, _, _, _, h) if essSet(t) => h }.max
      // (4) candidates: docs in at least one essential term's SURVIVING
      // blocks (block-max WAND bound τ_t below); rescore them over all
      // terms, decoding only blocks that intersect [lo, hi]. When τ_t ≤ 0
      // for EVERY essential term, no block is prunable (max_weight ≥ 0
      // always passes), so the candidate set would be every essential-term
      // doc and the semi join a provable no-op — skip the whole pass (two
      // stages + a join + its codegen) and let the rescore's [lo, hi] chunk
      // and block range bounds do the narrowing. Dropping the candidate
      // join is always rank-safe: it only removes docs whose total score is
      // bounded below θ, which can never displace the true top-k.
      val ubSum = ub.values.sum
      def tau(t: String): Double = (theta - (ubSum - ub(t))) / idf(t)
      val rescore = decodedBlocksFrom(
        rows.filter(col("last_doc_id") >= lo && col("first_doc_id") <= hi),
        lit(lo), lit(hi), lit(0.0))
      val useCandidates = !essTerms.forall(tau(_) <= 0.0)
      lastPrunedUsedCandidates = Some(useCandidates)
      val decodedRows =
        if (!useCandidates) rescore
        else {
          val minwCand = essTerms.tail
            .foldLeft(when(col("term") === essTerms.head, lit(tau(essTerms.head)))) {
              (acc, t) => acc.when(col("term") === t, lit(tau(t)))
            }.otherwise(lit(0.0))
          val cand = decodedBlocksFrom(rows.filter(col("term").isin(essTerms: _*)),
              lit(Long.MinValue), lit(Long.MaxValue), minwCand)
            .select("doc_id").distinct()
          rescore.join(cand, Seq("doc_id"), "left_semi")
        }
      scoreDecoded(decodedRows, k)
    } finally rows.unpersist()
  }

  /** (term, df, doc_id, tf, len) rows decoded from index chunk rows. */
  private def decodedFrom(chunkRows: DataFrame): DataFrame =
    chunkRows.select(col("term"), col("df"),
        explode(decodeCol(col("postings"))).as("p"))
      .select(col("term"), col("df"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.len").as("len"))

  /** Block-selective variant of [[decodedFrom]]: decodes only blocks whose
    * doc range intersects [lo, hi] and whose max_weight ≥ minw (the block-max
    * skip-pointer read path, graft.functions.DecodePostingsBlocks.decode). */
  private def decodedBlocksFrom(chunkRows: DataFrame, lo: Column, hi: Column,
                                minw: Column): DataFrame =
    chunkRows.select(col("term"), col("df"),
        explode(graft.functions.GraftFunctions.decodeBlocks(
          col("postings"), col("blocks"), lo, hi, minw)).as("p"))
      .select(col("term"), col("df"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.len").as("len"))
}

object CompressedSearchEngine {

  /** The deepest result a query may ask for (`k`, or `page·limit`), as
    * Elasticsearch's `index.max_result_window`: the top-k is sorted in one
    * task and collected to the driver for hydration, so an unbounded
    * window can exhaust the heap of the one serving JVM. */
  val MaxResultWindow = 10000

  /** The engine over an in-memory index of `files`, tokenized and scored
    * with `analyzer`: one [[graft.index.Stats.postings]] stream feeds both
    * the index and the corpus scalars, with CheckpointedBuild.run's
    * formulas — `nDocs` counts every file, `avgdl` is Σ len over the
    * documents that produced tokens (0.0 when none did). */
  def build(files: DataFrame, analyzer: String = "simple",
            saltBuckets: Int = 32): CompressedSearchEngine = {
    val postings = graft.index.Stats.postings(files, analyzer)
    val nDocs = files.count()
    val lens = postings.filter(col("idx") === 0)
      .agg(coalesce(sum(col("len")).cast("long"), lit(0L)), count(lit(1)))
      .head()
    val avgdl = lens.getLong(0).toDouble / math.max(1L, lens.getLong(1))
    new CompressedSearchEngine(
      graft.index.InvertedIndex.build(postings, nDocs, avgdl, saltBuckets),
      nDocs, avgdl)
  }

  /** Corpus size above which adaptive MaxScore pruning pays for its extra
    * driver round-trips (see [[CompressedSearchEngine.searchPruned]]).
    *
    * MEASURED at the design point (GATES.md, 32 cores, 3-term query,
    * median of 3): exhaustive vs forced-pruned was 0.73 s/1.42 s at 1.2M
    * docs, 2.66/4.57 at 4.8M, 6.36/8.90 at 9.6M — the ratio narrows
    * 1.95× → 1.72× → 1.40× as the decode work the prune saves grows
    * against its fixed 3-round-trip cost; extrapolating the trend the
    * crossover sits around 5·10^7–10^8 docs, so the default gate is 64M
    * (the round-2 10M default was an unmeasured extrapolation). */
  val PruneGateDocs: Long = 64_000_000L
}
