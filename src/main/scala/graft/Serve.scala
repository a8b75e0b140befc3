package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointedBuild
import graft.search.QueryLog

/** Thin serving loop — the reference's long-lived query lifecycle
  * (`Backend/TextController.java:30-44`: one warm engine answering
  * query/page/limit requests, logging queries, serving suggestions) minus the
  * HTTP framework: a REPL over stdin against ONE loaded engine.
  *
  * What "long-lived" buys and what this entry exercises: the published index
  * is loaded ONCE (one engine over the index's parquet files, which every
  * query scans with its own pushed-down term filter; the index is not
  * cached), the display corpus is persisted once, in the partitions it is
  * read in (the open cost [[GraftSession.builder]] sets packs a small
  * corpus's files into about one wave of tasks) — per-query work is only the query's own plan.
  * Every query is appended to the query log (S10) before it is searched, so
  * `:suggest` reflects the session's history like the reference's
  * suggestion endpoint. A session is safe to call from several threads (the
  * [[HttpServe]] workers): appends to the log are serialized, and
  * everything else a request does is its own Spark job.
  *
  * Protocol (one request per line, one JSON line per result row):
  *   <query>                 top-10 BM25 (tokens / "phrase" / boolean)
  *   :page <p> <n> <query>   page p (1-based) of n results
  *   :suggest <prefix>       top-10 query suggestions
  *   :quit                   exit
  */
object Serve {

  /** Minimal RFC 8259 string encoder (quotes, backslashes, control chars)
    * for the error channel — protocol lines must stay parseable JSON no
    * matter what an exception message contains. */
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** J2/J3 hydrate AFTER top-k: display columns are joined for the result
    * page only, in the deterministic (score desc, doc_id asc) order. The
    * join yields at most k rows, so they are sorted in one partition: a
    * global sort would first run a range-sampling job of its own. */
  def hydrate(topk: DataFrame, files: DataFrame): DataFrame =
    topk.join(files.select("doc_id", "repo", "path", "lang"), Seq("doc_id"))
      .repartition(1)
      .sortWithinPartitions(col("score").desc, col("doc_id").asc)

  /** One warm serving session over a published checkpoint dir. */
  final class Session(val spark: SparkSession, ckptDir: String, corpus: DataFrame,
                      logPath: String) {
    val engine: graft.search.CompressedSearchEngine =
      CheckpointedBuild.load(spark, ckptDir)
    private val files = corpus.persist()
    private val logLock = new Object

    /** Two parquet appends into one directory share `<logPath>/_temporary`,
      * which the first job to commit deletes under the other; so appends
      * take turns. Each stays synchronous, so a later `:suggest` sees it. */
    private def log(raw: String): Unit =
      logLock.synchronized(QueryLog.append(spark, logPath, Seq(raw)))

    def query(raw: String, k: Int = 10): DataFrame = {
      log(raw)
      hydrate(engine.search(raw, files, k), files)
    }

    def page(raw: String, page: Int, limit: Int): DataFrame = {
      log(raw)
      hydrate(engine.searchPage(raw, files, page, limit), files)
    }

    def suggest(prefix: String): DataFrame =
      // a :suggest before any logged query means no log table yet — that's
      // an empty suggestion list, not a missing-path error
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(logPath)))
        spark.range(0).select(lit("").as("query"), lit(0L).as("cnt"))
      else QueryLog.suggest(QueryLog.load(spark, logPath), prefix)

    /** Result rows rendered as JSON strings — the wire format shared by the
      * REPL and HTTP fronts. */
    def render(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq

    /** One protocol line → result rows rendered as JSON strings. */
    def handle(line: String): Seq[String] = {
      val trimmed = line.trim
      if (trimmed.isEmpty) return Seq.empty
      val df = trimmed match {
        case s if s.startsWith(":suggest ") =>
          suggest(s.stripPrefix(":suggest ").trim)
        case s if s.startsWith(":page ") =>
          s.stripPrefix(":page ").split("\\s+", 3) match {
            case Array(p, n, q) => page(q, p.toInt, n.toInt)
            case _ => return Seq("""{"error": "usage: :page <p> <n> <query>"}""")
          }
        case q => query(q)
      }
      render(df)
    }

    def close(): Unit = files.unpersist()
  }

  /** The serving fronts' shared start-up: a local session on every core
    * over the corpus in `sfDirArg` (default sf0.001), serving the checkpoint
    * in `ckptDirArg` (default: a /tmp dir named after the corpus). The
    * checkpoint is built first if not yet published (resumable — a second
    * start on the same dir skips straight to load). */
  def open(appName: String, sfDirArg: Option[String],
           ckptDirArg: Option[String]): Session = {
    val sfDir = sfDirArg.getOrElse("/root/testdata/sf0.001")
    val ckptDir = ckptDirArg.getOrElse(
      s"/tmp/graft_serve_v3_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val spark = GraftSession.builder(appName,
      Runtime.getRuntime.availableProcessors()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val files = corpus.Corpus.files(spark, sfDir)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$ckptDir/scalars.json")))
      CheckpointedBuild.run(files, ckptDir, nBuckets = 4)
    new Session(spark, ckptDir, files, s"$ckptDir/querylog")
  }

  /** args: <sfDir> [ckptDir] (see [[open]]). */
  def main(args: Array[String]): Unit = {
    val session = open("graft-serve", args.headOption, args.lift(1))
    println(s"""{"status": "serving", "n_docs": ${session.engine.nDocs}}""")
    Iterator.continually(scala.io.StdIn.readLine())
      .takeWhile(l => l != null && l.trim != ":quit")
      .foreach { line =>
        try session.handle(line).foreach(println)
        catch { case e: Exception =>
          // getMessage can be null, and messages may carry quotes/newlines/
          // backslashes — encode as a real JSON string so the serving loop
          // never emits a malformed line or dies on an NPE
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          println(s"""{"error": ${Serve.jsonString(msg)}}""") }
      }
    session.close()
    session.spark.stop()
  }
}
