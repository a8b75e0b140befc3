package graft.analyze

import scala.collection.mutable.ArrayBuffer

/** Tokenization + normalization for the inverted index.
  *
  * Two analyzers:
  *
  *  - `simple`: lowercase + split on non-alphanumeric runs. This is the
  *    oracle-parity analyzer — expressible identically in DuckDB SQL
  *    (`string_split_regex(lower(content), '[^a-z0-9]+')`), so every
  *    driver-checked query uses it.
  *
  *  - `code`: the full reference-anchored chain for source code — split into
  *    identifier tokens, expand camelCase / snake_case / letter-digit
  *    subtokens, then normalize each candidate with the reference's exact
  *    order: lowercase → strip non-alphanumerics → stopword drop → Porter
  *    stem (reference `Utils/Tokenizer.java:38-44`). Ranking parity for this
  *    analyzer is asserted against the in-repo Scala oracle (SURVEY.md §5).
  */
object Analyzer {

  /** Reference normalization chain: lowercase → strip `[^a-z0-9]` →
    * stopword drop → Porter stem (`Utils/Tokenizer.java:38-44`). For the
    * code corpus, `extraStops` carries the document language's reserved
    * words (the code analog of the English stopword list) — dropped at the
    * same pre-stem stage. */
  def normalize(raw: String,
                extraStops: Set[String] = Set.empty): Option[String] = {
    val sb = new StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = Character.toLowerCase(raw.charAt(i))
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      i += 1
    }
    val cleaned = sb.toString
    if (cleaned.isEmpty || StopWords.set.contains(cleaned) ||
      extraStops.contains(cleaned)) None
    else Some(PorterStemmer.stem(cleaned))
  }

  /** Oracle-parity tokenizer: ASCII-lowercase, split on non-[a-z0-9] runs —
    * the index's own tokens (graft.functions.AsciiTokens). Java's
    * `toLowerCase` moves some letters across the ASCII boundary (the Kelvin
    * sign K → k, İ → i̇, and I → ı under a Turkish default locale), and a
    * query token so lowered never matches the index's token for the same
    * text. */
  def simpleTokens(content: String): Seq[String] =
    graft.functions.AsciiLower.lowerString(content).split("[^a-z0-9]+")
      .iterator.filter(_.nonEmpty).toSeq

  /** Split one raw identifier into subtokens on `_`, camelCase humps and
    * letter↔digit boundaries; returns the parts (the caller decides whether
    * to also keep the whole identifier). "parseHttpResponse" →
    * ["parse","Http","Response"]; "snake_case_2x" → ["snake","case","2","x"].
    */
  def splitIdentifier(tok: String): Seq[String] = {
    val parts = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { parts += cur.toString; cur.clear() } }
    var i = 0
    while (i < tok.length) {
      val c = tok.charAt(i)
      if (c == '_') flush()
      else {
        if (cur.nonEmpty) {
          val prev = cur.last
          val humpStart = Character.isUpperCase(c) &&
            (Character.isLowerCase(prev) ||
              (Character.isUpperCase(prev) && i + 1 < tok.length &&
                Character.isLowerCase(tok.charAt(i + 1))))
          val digitBoundary = Character.isDigit(c) != Character.isDigit(prev)
          if (humpStart || digitBoundary) flush()
        }
        cur.append(c)
      }
      i += 1
    }
    flush()
    parts.toSeq
  }

  /** Code-aware tokens: raw identifier tokens plus camel/snake subtokens,
    * each passed through the reference normalization chain. When `lang`
    * names a known programming language, its reserved words are dropped
    * like stopwords (per-lang dispatch; unknown langs drop nothing). */
  def codeTokens(content: String, lang: String = ""): Seq[String] = {
    val kw = LangKeywords.forLang(lang)
    val out = ArrayBuffer.empty[String]
    for (raw <- content.split("[^A-Za-z0-9_]+") if raw.nonEmpty) {
      normalize(raw, kw).foreach(out += _)
      val parts = splitIdentifier(raw)
      if (parts.length > 1)
        parts.foreach(p => normalize(p, kw).foreach(out += _))
    }
    out.toSeq
  }

  /** Tokenize a user query with the same analyzer as the index. */
  def queryTokens(analyzer: String, q: String): Seq[String] = analyzer match {
    case "simple" => simpleTokens(q)
    case "code"   => codeTokens(q)
    case other    => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }
}
