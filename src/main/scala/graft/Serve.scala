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
  * Every query that passes the engine's checks is logged (S10) before it
  * is searched, so `:suggest` reflects the session's history like the
  * reference's suggestion endpoint. The log is buffered in the session:
  * every [[LogFlushCount]] entries, and on [[Session.close]], one parquet
  * append writes the buffer, and `:suggest` reads the log plus the buffer.
  * A request therefore runs only its own query's jobs; a process that is
  * killed without `close()` loses at most the buffered entries
  * (both fronts close their session on SIGTERM, this REPL also at `:quit`
  * and at end of input). A session is safe to call from several threads
  * (the [[HttpServe]] workers): the buffer and its flush are serialized,
  * and everything else a request does is its own Spark job.
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

  /** Log entries a session buffers before one append writes them. */
  private[graft] val LogFlushCount = 256

  /** J2/J3 hydrate AFTER top-k: the top-k (at most
    * [[graft.search.CompressedSearchEngine.MaxResultWindow]] rows of
    * `(doc_id, score)`) is collected, and the display columns are read by
    * key for those docs only: one job over `files` that keeps the rows whose
    * `doc_id` is a key of a literal `doc_id → score` map and looks their
    * score up in it — no join, no exchange. The map is a reference the
    * generated code reads, not inlined constants (as an `IN` list of ten
    * longs would be), so a new query compiles no code; an empty top-k is a
    * constant-false filter, which reads no corpus rows. The rows are sorted
    * in one partition in the deterministic (score desc, doc_id asc) order:
    * `(doc_id, score, repo, path, lang)`. */
  def hydrate(topk: DataFrame, files: DataFrame): DataFrame = {
    val scores = topk.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    files.filter(lit(scores.nonEmpty) && map_contains_key(typedLit(scores), col("doc_id")))
      .select(col("doc_id"), element_at(typedLit(scores), col("doc_id")).as("score"),
        col("repo"), col("path"), col("lang"))
      .coalesce(1)
      .sortWithinPartitions(col("score").desc, col("doc_id").asc)
  }

  /** One warm serving session over a published checkpoint dir. */
  final class Session(val spark: SparkSession, ckptDir: String, corpus: DataFrame,
                      logPath: String) {
    val engine: graft.search.CompressedSearchEngine =
      CheckpointedBuild.load(spark, ckptDir)
    private val files = corpus.persist()
    /** Guards [[buffer]] and its flush. Two parquet appends into one
      * directory share `<logPath>/_temporary`, which the first job to
      * commit deletes under the other, so flushes take turns; `suggest`
      * lists the log and copies the buffer under the same lock, so an
      * entry is counted once, on disk or in the buffer. */
    private val logLock = new Object
    /** Logged `(query, normalized)` rows not yet appended to the log. */
    private val buffer = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

    private def flush(): Unit = logLock.synchronized {
      QueryLog.append(spark, logPath, buffer.map(_._1).toSeq)
      buffer.clear()
    }

    /** Buffers `raw` under [[QueryLog.rows]]'s rule; a full buffer is
      * appended to the log. */
    private[graft] def log(raw: String): Unit = logLock.synchronized {
      buffer ++= QueryLog.rows(Seq(raw))
      if (buffer.size >= LogFlushCount) flush()
    }

    def query(raw: String, k: Int = 10): DataFrame = {
      val topk = engine.search(raw, files, k)
      log(raw)
      hydrate(topk, files)
    }

    def page(raw: String, page: Int, limit: Int): DataFrame = {
      val topk = engine.searchPage(raw, files, page, limit)
      log(raw)
      hydrate(topk, files)
    }

    def suggest(prefix: String): DataFrame = {
      val log = logLock.synchronized {
        val buffered = QueryLog.frame(spark, buffer.toSeq)
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(logPath)))
          QueryLog.load(spark, logPath).unionByName(buffered)
        else buffered
      }
      QueryLog.suggest(log, prefix)
    }

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

    /** Set by the first [[close]]; guarded by [[logLock]]. */
    private var closed = false

    /** Appends the buffered log entries and releases the cached corpus.
      * Only the first call does anything, so a shutdown hook may call it
      * again after `:quit` closed the session and stopped Spark. */
    def close(): Unit = logLock.synchronized {
      if (!closed) {
        closed = true
        flush()
        files.unpersist()
      }
    }
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

  /** Registers a JVM shutdown hook that runs `before` and then closes
    * `session`, which appends its buffered query log. It runs before
    * Spark's own hook (priority `FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`)
    * stops the SparkContext, so a SIGTERM loses no logged query. */
  def closeOnShutdown(session: Session, before: () => Unit = () => ()): Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      before()
      session.close()
    }, org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 40)

  /** args: <sfDir> [ckptDir] (see [[open]]). The session is closed at
    * `:quit`, at end of input, or on SIGTERM ([[closeOnShutdown]]). */
  def main(args: Array[String]): Unit = {
    val session = open("graft-serve", args.headOption, args.lift(1))
    closeOnShutdown(session)
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
