package graft.oracle

import graft.analyze.Analyzer
import graft.search.{Bool, Phrase, QueryParser, Tokens}

/** Tiny, obviously-correct in-memory implementation of the full
  * tokenize → df → BM25 → sort pipeline (SURVEY.md §5 item 2). Every Spark
  * query's top-k must be rank-identical (rounded-score-equal, order-identical
  * under the deterministic tiebreak) against this oracle.
  */
object LocalOracle {
  val K1 = 1.2
  val B = 0.75

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Term statistics of one corpus and the reference's candidate algebra. */
  private final class Corpus(docs: Seq[(Long, String)], analyzer: String,
                             docLang: String) {
    // documents tokenize with their language's keyword stop set (per-lang
    // dispatch); queries have no language and keep keywords
    private def docTokens(c: String): Seq[String] = analyzer match {
      case "code" => Analyzer.codeTokens(c, docLang)
      case _      => Analyzer.queryTokens(analyzer, c)
    }
    private val tf: Map[Long, Map[String, Int]] =
      docs.map { case (id, c) =>
        id -> docTokens(c).groupBy(identity).map { case (t, g) => t -> g.size }
      }.toMap
    private val df: Map[String, Int] =
      tf.values.flatMap(_.keys).toSeq.groupBy(identity).map { case (t, g) => t -> g.size }
    private val n = docs.size.toLong
    private val lens = tf.collect { case (id, m) if m.nonEmpty => id -> m.values.sum }
    private val avgdl = if (lens.isEmpty) 0.0 else lens.values.sum.toDouble / lens.size

    def qtoks(s: String): Seq[String] = Analyzer.queryTokens(analyzer, s).distinct

    def candAll(terms: Seq[String]): Set[Long] =
      if (terms.isEmpty) Set.empty
      else docs.collect { case (id, _) if terms.forall(t => tf(id).contains(t)) => id }.toSet

    def phraseCand(phrase: String): Set[Long] = {
      val byId = docs.toMap
      candAll(qtoks(phrase))
        .filter(id => byId(id).toLowerCase.contains(phrase.toLowerCase))
    }

    def score(terms: Seq[String], cand: Option[Set[Long]], k: Int): Seq[(Long, Double)] = {
      val hits = docs.collect {
        case (id, _) if terms.exists(t => tf(id).contains(t)) &&
          cand.forall(_.contains(id)) => id
      }
      hits.map { id =>
        val len = lens(id)
        val s = terms.collect {
          case t if tf(id).contains(t) =>
            val f = tf(id)(t).toDouble
            val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            idf * (f * (K1 + 1)) / (f + K1 * ((1 - B) + B * len / avgdl))
        }.sum
        id -> round4(s)
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    }
  }

  /** P4 phrase candidates: docs holding every phrase token whose lowered
    * content contains the lowered phrase (`dbManager.java:324-341`). */
  def phraseCandidates(docs: Seq[(Long, String)], analyzer: String,
                       phrase: String, docLang: String = ""): Set[Long] =
    new Corpus(docs, analyzer, docLang).phraseCand(phrase)

  def search(docs: Seq[(Long, String)], analyzer: String, raw: String,
             k: Int = 10, docLang: String = ""): Seq[(Long, Double)] = {
    val c = new Corpus(docs, analyzer, docLang)
    QueryParser.parse(raw) match {
      case Tokens(text) => c.score(c.qtoks(text), None, k)
      case Phrase(p)    => c.score(c.qtoks(p), Some(c.phraseCand(p)), k)
      case Bool(op, p1, p2) =>
        val c1 = c.phraseCand(p1); val c2 = c.phraseCand(p2)
        val cand = op match {
          case "and" => c1 intersect c2
          case "or"  => c1 union c2
          case "not" => c1 diff c2
        }
        val terms = if (op == "not") c.qtoks(p1) else (c.qtoks(p1) ++ c.qtoks(p2)).distinct
        c.score(terms, Some(cand), k)
    }
  }
}
