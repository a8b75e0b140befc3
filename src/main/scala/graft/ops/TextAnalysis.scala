package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation over
  * `documents(doc_id, text, ...)`: language ID (marker-token heuristic),
  * quality scoring, token counting, and document fingerprinting. All pure
  * column expressions (codegen'd, narrow — no shuffle except final sorts for
  * the deterministic compare).
  */
object TextAnalysis {

  /** Marker-token profiles for the language-ID heuristic. A real pipeline
    * swaps in char-n-gram profiles; the operator shape (per-language score →
    * argmax with deterministic tiebreak) is the same. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "fast", "small", "and"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "les", "une", "est", "et")
  )

  private def words: Column = Dedup.wordsCol(col("text"))

  private def countIn(set: Seq[String]): Column =
    size(filter(words, w => w.isin(set: _*)))

  /** (doc_id, lang_pred, score): argmax of marker hits; ties prefer the
    * lexicographically smallest language; no hits → 'und'. */
  def langId(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val scored = documents.select(col("doc_id") +:
      langProfiles.map { case (l, set) => countIn(set).cast("long").as(s"s_$l") }: _*)
    val best = greatest(langProfiles.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = langProfiles.foldRight(lit("und")) { case ((l, _), rest) =>
      when(best > 0 && col(s"s_$l") === best, lit(l)).otherwise(rest)
    }
    scored.select(col("doc_id"), pred.as("lang_pred"), best.as("score"))
      .orderBy("doc_id")
  }

  /** Quality features + score: n_words, n_chars, stopword ratio, and
    * score = min(1, n_words/100) · (1 − stop_ratio), rounded. */
  def quality(documents: DataFrame, stopset: Seq[String] = Seq("the", "a", "and", "of")): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        length(col("text")).cast("long").as("n_chars"),
        countIn(stopset).cast("double").as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        round(col("n_stop") / greatest(col("n_words"), lit(1L)), 4).as("stop_ratio"),
        round(least(col("n_words") / 100.0, lit(1.0)) *
          (lit(1.0) - col("n_stop") / greatest(col("n_words"), lit(1L))), 4).as("score"))
      .orderBy("doc_id")
  }

  /** Whitespace token count + BPE-ish regex token count. */
  def tokenCounts(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), w => w =!= "")).cast("long")
          .as("ws_tokens"),
        regexp_count(graft.functions.GraftFunctions.asciiLower(col("text")),
          lit("[a-z0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Rolling 8-char-window fingerprint: lexicographic min of the md5 of
    * every 8-gram (winnowing with window = whole doc). ONE fused native
    * function eval per document (graft.functions.FingerprintMin) — the
    * previous `aggregate(sequence(...), 'g', least(acc, md5(substring)))`
    * HOF fold is CodegenFallback: an interpreted expression-tree walk plus a
    * 32-char hex string allocation per character position (measured 3.4 s
    * noop-sink at sf0.1 where the fused loop compares raw digests and hex-
    * encodes only the final minimum). Same md5-over-8-char-window semantics,
    * windows cut at code-point boundaries exactly like `substring`. */
  def fingerprint(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // widen: ~290 md5 digests per document is the heaviest per-row compute
    // of the narrow ops — on the single-split documents file it ran serial
    Dedup.widen(documents).select(col("doc_id"),
        graft.functions.GraftFunctions.fingerprintMin(col("text")).as("fp"))
      .orderBy("doc_id")
  }
}
