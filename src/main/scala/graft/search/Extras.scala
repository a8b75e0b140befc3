package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Query-serving parity features from the reference beyond core retrieval:
  * suggestions, snippets, phrase-occurrence counts (SURVEY.md §2.6 O3,
  * §2.10 F12/F13, §3.3).
  */
object Extras {

  // Query-log suggestions moved to [[QueryLog]] — a real append + count
  // sink replacing the round-1 termstats stand-in.

  /** F13 — reference snippet semantics (`Utils/SnippetGenerator.java:36-114`):
    * the first paragraph (newline-delimited block, the plain-text analog of
    * the reference's Jsoup block elements, `:68`) whose lowered text
    * satisfies the query — substring containment for token/phrase queries,
    * AND/OR/NOT over both phrases for boolean queries (`:76-95`) — returned
    * whole if at most `maxWords` whitespace words, else truncated to the
    * first `maxWords` words + "..." (`:97-110`). If no paragraph matches,
    * the same word-truncation of the whole document (`generateSnippet`,
    * `:15-30`). Joined AFTER top-k so content is read for the result page
    * only (J3); the snippet itself is pure codegen'd column expressions. */
  def withSnippets(topk: DataFrame, files: DataFrame, raw: String,
                   maxWords: Int = 100): DataFrame = {
    GraftFunctions.register(files.sparkSession)
    import graft.functions.AsciiLower.lowerString
    def has(p: Column, needle: String): Column =
      GraftFunctions.asciiContains(p, lit(lowerString(needle)))
    val matches: Column => Column = QueryParser.parse(raw) match {
      case Tokens(text)        => p => has(p, text)
      case Phrase(ph)          => p => has(p, ph)
      case Bool("and", p1, p2) => p => has(p, p1) && has(p, p2)
      case Bool("or", p1, p2)  => p => has(p, p1) || has(p, p2)
      case Bool(_, p1, p2)     => p => has(p, p1) && !has(p, p2)
    }
    val chosen = coalesce(
      get(filter(split(col("content"), "\n"), matches), lit(0)),
      col("content"))
    val words = filter(split(chosen, "\\s+"), w => w =!= "")
    val snippet = when(size(words) <= maxWords, chosen)
      .otherwise(concat(
        array_join(slice(words, 1, maxWords), " "), lit("...")))
    topk.join(files.select(col("doc_id"), col("content")), Seq("doc_id"))
      .select(col("doc_id"), col("score"), snippet.as("snippet"))
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  private def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"

  /** F12: occurrences of a phrase in the content (raw substring count, the
    * reference's `PhraseBasedRanker.java:107-121` semantics on the single
    * content field), over the phrase candidate set. */
  def phraseCounts(cands: DataFrame, files: DataFrame, phrase: String): DataFrame = {
    GraftFunctions.register(files.sparkSession)
    val p = graft.functions.AsciiLower.lowerString(phrase)
    files.join(cands, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        ((length(col("content")) -
          length(expr(s"replace(graft_ascii_lower(content), ${sqlLit(p)}, '')"))) /
          p.length).cast("long").as("n_occ"))
      .orderBy("doc_id")
  }
}
