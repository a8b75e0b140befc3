package graft

/** DuckDB oracle SQL for the driver's correctness gate (Verify.scala →
  * CORRECTNESS_r{N}.json). Each string must be runnable by DuckDB over the
  * raw parquet tables (`documents`, `embeddings`, `lineitem`, ...) and must
  * reproduce the corresponding SparkEntry query bit-for-bit: same column
  * names, same types (BIGINT/DOUBLE/VARCHAR), floats rounded to 4 decimals on
  * both sides, deterministic ORDER BY where order is part of the contract.
  *
  * The corpus derivation here mirrors [[graft.corpus.Corpus.files]] exactly;
  * the tokenizer mirrors the one [[graft.index.Stats.postings]] runs for
  * the index build ("simple" analyzer: graft.functions.CompactTokens).
  */
object OracleSqls {

  /** files(doc_id, repo, path, commit, lang, content, sha) ⇔ Corpus.files. */
  val filesCte: String =
    """files AS (
      |  SELECT doc_id,
      |         'org' || CAST(doc_id % 10 AS VARCHAR) || '/' || source AS repo,
      |         'src/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
      |         md5('commit' || CAST(doc_id AS VARCHAR)) AS "commit",
      |         lang,
      |         text AS content,
      |         sha256(text) AS sha
      |  FROM documents
      |)""".stripMargin

  /** tf/docstats/termstats/consts ⇔ Stats.{tf,docstats,termstats,scalars}. */
  val statsCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |         unnest(string_split_regex(lower(content), '[^a-z0-9]+')) AS term
      |  FROM files
      |),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM toks WHERE term <> '' GROUP BY doc_id, term
      |),
      |docstats AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len FROM tf GROUP BY doc_id
      |),
      |termstats AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |),
      |consts AS (
      |  SELECT (SELECT count(*) FROM files) AS n_docs,
      |         (SELECT avg(len) FROM docstats) AS avgdl
      |)""".stripMargin

  val base: String = s"WITH $filesCte,\n$statsCtes"

  private def termList(terms: Seq[String]): String =
    terms.map(t => s"'$t'").mkString(", ")

  /** Conjunctive candidates (E5): docs containing ALL terms. */
  def candAllCte(name: String, terms: Seq[String]): String =
    s"""$name AS (
       |  SELECT doc_id FROM tf WHERE term IN (${termList(terms)})
       |  GROUP BY doc_id HAVING count(DISTINCT term) = ${terms.length}
       |)""".stripMargin

  /** Phrase candidates (E5 + P4 substring filter). */
  def phraseCte(name: String, terms: Seq[String], phrase: String): String =
    s"""${name}_all AS (
       |  SELECT doc_id FROM tf WHERE term IN (${termList(terms)})
       |  GROUP BY doc_id HAVING count(DISTINCT term) = ${terms.length}
       |),
       |$name AS (
       |  SELECT f.doc_id FROM files f JOIN ${name}_all USING (doc_id)
       |  WHERE contains(lower(f.content), '$phrase')
       |)""".stripMargin

  /** Batch multi-query BM25 (mirrors CompressedSearchEngine.searchMany):
    * a VALUES-backed (qid, term) table joins the shared tf/termstats CTEs
    * once and a per-qid window ranks on the 4-decimal-rounded score with
    * the doc_id tiebreak — the same ordering the engine's window uses. */
  def batchSearch(queries: Seq[(Int, Seq[String])], k: Int = 10): String = {
    val vals = queries.flatMap { case (q, ts) =>
      ts.distinct.map(t => s"($q, '$t')") }.mkString(", ")
    s"""$base,
       |queries(qid, term) AS (VALUES $vals),
       |scored AS (
       |  SELECT q.qid, tf.doc_id,
       |         sum( ln((c.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0)
       |              * (tf.tf * 2.2)
       |              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ds.len / c.avgdl)) ) AS score
       |  FROM tf
       |  JOIN queries q ON q.term = tf.term
       |  JOIN termstats ts ON ts.term = tf.term
       |  JOIN docstats ds ON ds.doc_id = tf.doc_id
       |  CROSS JOIN consts c
       |  GROUP BY q.qid, tf.doc_id),
       |ranked AS (
       |  SELECT qid, doc_id, round(score, 4) AS score,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY round(score, 4) DESC, doc_id ASC) AS rn
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score FROM ranked
       |WHERE rn <= $k
       |ORDER BY qid ASC, score DESC, doc_id ASC""".stripMargin
  }

  /** BM25 scored top-k select over a candidate CTE (or all matching docs).
    * `offset` mirrors the engine's pagination slice (O2). */
  def bm25Select(terms: Seq[String], candCte: Option[String], k: Int = 10,
                 offset: Int = 0): String = {
    val candJoin = candCte.fold("")(c => s"\n  JOIN $c USING (doc_id)")
    s"""scored AS (
       |  SELECT tf.doc_id,
       |         sum( ln((c.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0)
       |              * (tf.tf * 2.2)
       |              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * ds.len / c.avgdl)) ) AS score
       |  FROM tf
       |  JOIN termstats ts USING (term)
       |  JOIN docstats ds USING (doc_id)$candJoin
       |  CROSS JOIN consts c
       |  WHERE tf.term IN (${termList(terms)})
       |  GROUP BY tf.doc_id
       |)
       |SELECT doc_id, round(score, 4) AS score FROM scored
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT $k${
        if (offset > 0) s" OFFSET $offset" else ""}""".stripMargin
  }
}
