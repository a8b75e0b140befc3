package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** HTTP front over [[Serve.Session]] — the reference's flagship entry point
  * is a REST controller (`Backend/TextController.java:30-44`: query/page/
  * limit search plus a suggestion endpoint over one warm engine); this is
  * the same lifecycle on the JDK's built-in server (no new dependencies):
  *
  *   GET /search?query=Q[&page=P&limit=N] → JSON array of result rows
  *   GET /suggest?prefix=S                → JSON array of (query, cnt)
  *
  * Requests run on a fixed pool of `defaultParallelism` worker threads, as
  * the reference's Spring controller runs each request on a pooled worker:
  * concurrent requests are concurrent Spark jobs on the one warm session.
  * The session serializes the only shared mutable state, its query-log
  * buffer. Workers are named daemon threads and idle ones time out, so a
  * stopped server leaves no live threads behind. */
object HttpServe {

  /** Start the front on `port` (0 = ephemeral); returns the bound server. */
  def start(session: Serve.Session, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val n = session.spark.sparkContext.defaultParallelism
    val ids = new AtomicInteger()
    val pool = new ThreadPoolExecutor(n, n, 5, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"HttpServe-worker-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    server.setExecutor(pool)
    def params(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
    def respond(ex: HttpExchange, code: Int, rows: Seq[String]): Unit = {
      val bytes = rows.mkString("[", ",", "]").getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
    }
    def route(path: String)(f: Map[String, String] => Seq[String]): Unit =
      server.createContext(path, (ex: HttpExchange) =>
        try {
          // status + body are computed BEFORE any header is sent: once
          // sendResponseHeaders has run, a second respond() (the old
          // catch-path) throws IllegalStateException and leaks the exchange
          val (code, rows) =
            try (200, f(params(ex)))
            catch {
              case e: IllegalArgumentException =>
                val msg = Option(e.getMessage).getOrElse("bad request")
                (400, Seq(s"""{"error": ${Serve.jsonString(msg)}}"""))
              case e: Exception =>
                val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
                (500, Seq(s"""{"error": ${Serve.jsonString(msg)}}"""))
            }
          respond(ex, code, rows)
        } catch {
          case _: java.io.IOException => () // client gone mid-write
        } finally ex.close())
    route("/search") { p =>
      val q = p.getOrElse("query",
        throw new IllegalArgumentException("missing query parameter"))
      // typed Session methods, NOT the line-protocol dispatcher: a raw
      // query that happens to start with ":suggest "/":page " must be
      // searched literally, not re-parsed as a REPL command
      (p.get("page"), p.get("limit")) match {
        case (Some(pg), Some(lim)) =>
          session.render(session.page(q, pg.toInt, lim.toInt))
        case (None, None) => session.render(session.query(q))
        case _ => throw new IllegalArgumentException(
          "page and limit must be supplied together")
      }
    }
    route("/suggest") { p =>
      session.render(session.suggest(p.getOrElse("prefix", "")))
    }
    server.start()
    server
  }

  /** args: <sfDir> [port] [ckptDir] — builds the checkpoint if not yet
    * published (resumable, [[Serve.open]]), then serves until the process
    * is killed. A shutdown hook ([[Serve.closeOnShutdown]]) stops the
    * server, then closes the session, which appends its buffered query
    * log. */
  def main(args: Array[String]): Unit = {
    val port = args.lift(1).map(_.toInt).getOrElse(8080)
    val session = Serve.open("graft-http-serve", args.headOption, args.lift(2))
    val server = start(session, port)
    Serve.closeOnShutdown(session, () => server.stop(0))
    println(s"""{"status": "serving", "port": ${server.getAddress.getPort}, "n_docs": ${session.engine.nDocs}}""")
    Thread.currentThread().join() // serve until killed
  }
}
