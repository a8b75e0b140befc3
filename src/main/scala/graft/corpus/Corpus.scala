package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus sources for the engine.
  *
  * The north-rule input shape is `files(repo, path, commit, lang, content)`
  * (BASELINE.json `input_hint`). [[files]] derives it from the driver's
  * read-only `documents.parquet` (TESTDATA.md) with pure column expressions
  * that DuckDB reproduces verbatim, so every driver-checked oracle can
  * rebuild the identical corpus. Per-row invariant column
  * `sha = sha2(content,256)` (BASELINE.json:15).
  */
object Corpus {

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** `files(doc_id, repo, path, commit, lang, content, sha)` derived from
    * `documents.parquet`. Mirrored 1:1 by [[graft.OracleSqls.filesCte]]. */
  def files(spark: SparkSession, sfDir: String): DataFrame =
    documents(spark, sfDir).select(
      col("doc_id"),
      concat(lit("org"), (col("doc_id") % 10).cast("string"), lit("/"),
        col("source")).as("repo"),
      concat(lit("src/doc_"), col("doc_id").cast("string"), lit(".txt"))
        .as("path"),
      md5(concat(lit("commit"), col("doc_id").cast("string"))).as("commit"),
      col("lang"),
      col("text").as("content"),
      sha2(col("text"), 256).as("sha")
    )
}
