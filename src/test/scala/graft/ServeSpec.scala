package graft

import com.sun.net.httpserver.HttpServer
import graft.corpus.Corpus
import graft.search.QueryLog
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SpecBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

class ServeSpec extends SparkSpec {

  private lazy val files = Corpus.files(spark, "/root/testdata/sf0.001")

  /** One published checkpoint; each test opens its own session on it. */
  private lazy val dir = {
    val d = tmpDir("graft-serve")
    checkpoint.CheckpointedBuild.run(files, d, nBuckets = 2)
    d
  }

  /** One GET round-trip: (status, body), the error body on a 4xx/5xx. */
  private def fetch(server: HttpServer, pathQ: String): (Int, String) = {
    val c = java.net.URI.create(
      s"http://127.0.0.1:${server.getAddress.getPort}$pathQ").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    val code = c.getResponseCode
    val src = scala.io.Source.fromInputStream(
      if (code < 400) c.getInputStream else c.getErrorStream, "UTF-8")
    try (code, src.mkString) finally src.close()
  }

  test("serving session: warm engine answers queries, pages, suggestions") {
    val s = new Serve.Session(spark, dir, files, s"$dir/querylog")
    try {
      val hits = s.handle("merge sort window")
      assert(hits.size === 10)
      assert(hits.forall(j => j.contains("\"doc_id\"") && j.contains("\"score\"")
        && j.contains("\"path\"")))
      // pagination: page 2 of 3 == rows 4-6 of the same ranking
      val all = s.handle("merge sort window")
      val p2 = s.handle(":page 2 3 merge sort window")
      assert(p2 === all.slice(3, 6))
      // phrase + boolean forms route through the same parser as the engine
      assert(s.handle("\"hash join\"").nonEmpty)
      // the session's queries accumulated in the log → suggestions see them
      val sug = s.handle(":suggest merge")
      assert(sug.exists(_.contains("merge sort window")))
      // the repeated query outranks the once-asked ones
      assert(sug.head.contains("\"cnt\":3"))
      // hydrate reads the display fields by key: no join, no exchange
      val hydrated = Serve.hydrate(s.engine.search("merge sort window", files), files)
      val plan = hydrated.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
      assert(hydrated.toJSON.collect().toSeq === all)
      // an empty top-k reads no corpus rows
      val none = Serve.hydrate(s.engine.search("\"merge sort\" AND \"zzz\"", files), files)
      assert(none.collect().isEmpty)
      assert(!none.queryExecution.executedPlan.toString.contains("FileScan"))
      assert(s.handle("") === Seq.empty)
      assert(s.handle(":page x") === Seq("""{"error": "usage: :page <p> <n> <query>"}"""))

      // HTTP front (reference TextController lifecycle): one GET /search
      // round-trip against the same warm session, ephemeral port
      val server = HttpServe.start(s, 0)
      try {
        def get(pathQ: String): String = {
          val (code, body) = fetch(server, pathQ)
          assert(code === 200, body)
          body
        }
        def status(pathQ: String): Int = fetch(server, pathQ)._1
        val body = get("/search?query=merge+sort+window")
        assert(body.startsWith("[") && body.endsWith("]"))
        assert(body.split("\\{\"doc_id\"").length - 1 === 10)
        val paged = get("/search?query=merge+sort+window&page=2&limit=3")
        assert(paged === "[" + all.slice(3, 6).mkString(",") + "]")
        val sugBody = get("/suggest?prefix=merge")
        assert(sugBody.contains("merge sort window"))
        // a malformed request is a JSON error, not a dead socket
        assert(status("/search") === 400)
        // pagination params come together: a lone page (or limit) is a 400,
        // not page-1 rows silently returned for a page-3 request
        assert(status("/search?query=merge+sort&page=3") === 400)
        assert(status("/search?query=merge+sort&limit=5") === 400)
        assert(status("/search?query=merge+sort&page=x&limit=3") === 400)
        // a query that happens to start with a REPL command is searched
        // literally, never re-parsed by the line-protocol dispatcher
        val inj = get("/search?query=%3Asuggest+merge")
        assert(inj.startsWith("[") && !inj.contains("\"cnt\":"))
      } finally server.stop(0)
    } finally s.close()
  }

  test("a new query compiles no code once the session is warm") {
    val s = new Serve.Session(spark, dir, files, tmpDir("graft-serve-codegen") + "/querylog")
    try {
      Seq("merge", "window", "merge").foreach(q => assert(s.handle(q).size === 10))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // a term no earlier query asked for: only literals differ, and the
      // hydrate's ids live in a map the generated code reads
      assert(s.handle("customer").size === 10)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiled)
    } finally s.close()
  }

  test("a served request runs at most 3 jobs for tokens, 4 for a phrase or boolean") {
    val s = new Serve.Session(spark, dir, files, tmpDir("graft-serve-jobs") + "/querylog")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // a stage added to the plan shows here as a job more per request
      for ((q, most) <- Seq("merge sort window" -> 3, "\"hash join\"" -> 4,
          "\"merge sort\" AND \"table scan\"" -> 4,
          "\"merge sort\" OR \"table scan\"" -> 4,
          "\"merge sort\" NOT \"table scan\"" -> 4)) {
        SpecBus.drain(sc)
        jobs.set(0)
        assert(s.handle(q).nonEmpty, q)
        SpecBus.drain(sc)
        assert(jobs.get <= most, s"[$q] ran ${jobs.get} jobs")
      }
    } finally {
      sc.removeSparkListener(listener)
      s.close()
    }
  }

  test("a result window past MaxResultWindow is a 400, and the session still answers") {
    val s = new Serve.Session(spark, dir, files, tmpDir("graft-serve-window") + "/querylog")
    val server = HttpServe.start(s, 0)
    try {
      // page * limit overflows an Int (2^32, 2^31), or just passes the window
      Seq("page=65536&limit=65536", "page=2&limit=1073741824", "page=1&limit=10001")
        .foreach { pl =>
          val (code, body) = fetch(server, s"/search?query=merge+sort&$pl")
          assert(code === 400, s"$pl: $body")
          assert(body.contains("at most 10000"), body)
        }
      val (code, body) = fetch(server, "/search?query=merge+sort+window")
      assert(code === 200)
      assert(body.split("\\{\"doc_id\"").length - 1 === 10)
    } finally {
      server.stop(0)
      s.close()
    }
  }

  test("query-log buffer: suggestions see buffered queries; close appends them once") {
    val logPath = tmpDir("graft-serve-buffer") + "/querylog"
    def parquetFiles(log: String = logPath) = Option(new java.io.File(log).listFiles())
      .toSeq.flatten.count(_.getName.endsWith(".parquet"))
    val s = new Serve.Session(spark, dir, files, logPath)
    val sug = try {
      // before any query there is no log: an empty list, not an error
      assert(s.handle(":suggest merge") === Seq.empty)
      // "?!" normalizes to empty: searched, but not logged
      Seq("merge sort", "Merge join", "?!", "merge sort", "merge sort").foreach(s.handle)
      val got = s.handle(":suggest merge")
      assert(got === Seq("""{"query":"merge sort","cnt":3}""",
        """{"query":"Merge join","cnt":1}"""))
      assert(parquetFiles() === 0)
      got
    } finally {
      // a second close (a shutdown hook after `:quit`) appends nothing
      s.close()
      s.close()
    }
    assert(parquetFiles() === 1)
    assert(QueryLog.load(spark, logPath).count() === 4)
    // a new session on the same log: nothing lost, nothing counted twice
    val s2 = new Serve.Session(spark, dir, files, logPath)
    try assert(s2.handle(":suggest merge") === sug)
    finally s2.close()
    assert(parquetFiles() === 1)

    // the count bound: one append writes the full buffer as one file
    val full = tmpDir("graft-serve-buffer") + "/querylog"
    val s3 = new Serve.Session(spark, dir, files, full)
    try {
      (1 until Serve.LogFlushCount).foreach(i => s3.log(s"query $i"))
      assert(parquetFiles(full) === 0)
      s3.log("query 0")
      assert(parquetFiles(full) === 1)
      assert(QueryLog.load(spark, full).count() === Serve.LogFlushCount)
      assert(s3.handle(":suggest query").size === 10)
    } finally s3.close()
    assert(parquetFiles(full) === 1)
  }

  test("concurrent HTTP clients get the sequential responses; no query-log append is lost") {
    val logPath = tmpDir("graft-serve-log") + "/querylog"
    // a load that races the first append sees only the writer's _temporary
    Files.createDirectories(Paths.get(logPath, "_temporary", "0"))
    assert(QueryLog.load(spark, logPath).count() === 0)
    // suggestions come from a history no concurrent search adds to, so the
    // suggest response stays fixed while the searches append
    QueryLog.append(spark, logPath, Seq("shuffle service", "shuffle service", "Shuffle join"))
    val reqs = Seq(
      "/search?query=merge+sort+window",
      "/search?query=merge+sort+window&page=2&limit=3",
      "/search?query=%22hash+join%22",
      "/search?query=%22hash+join%22+OR+%22merge+sort%22",
      "/suggest?prefix=shuffle")
    val searches = reqs.count(_.startsWith("/search"))
    val clients = 8
    // log entries a client adds before each request: clients * reqs.size *
    // perReq crosses LogFlushCount several times
    val perReq = Serve.LogFlushCount / 2 / reqs.size + 1
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cachedBefore = persistedBefore.size
    // a corpus stored as more files than one wave of tasks
    val corpusPath = tmpDir("graft-serve-corpus") + "/files"
    files.repartition(16).write.parquet(corpusPath)
    val s = new Serve.Session(spark, dir, spark.read.parquet(corpusPath), logPath)
    val server = HttpServe.start(s, 0)
    try {
      val want = reqs.map(fetch(server, _))
      assert(want.forall { case (code, body) =>
        code == 200 && body.startsWith("[{") && body.endsWith("}]") })
      // the session caches its corpus once; the scan packed its 16 files
      // into one wave of partitions
      val added = spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !persistedBefore.contains(id) }.values.toSeq
      assert(added.size === 1)
      assert(added.head.getNumPartitions <= spark.sparkContext.defaultParallelism)
      // each client sends every request once, starting at its own offset,
      // so different request kinds overlap; before each request it logs
      // entries of its own, so buffer flushes run while others log
      val pool = Executors.newFixedThreadPool(clients)
      val got = try pool.invokeAll((0 until clients).map { c =>
          (() => reqs.indices.map(j => (c + j) % reqs.size).map { i =>
            (0 until perReq).foreach(n => s.log(s"client $c $i $n"))
            i -> fetch(server, reqs(i))
          }): Callable[Seq[(Int, (Int, String))]]
        }.asJava).asScala.toSeq.flatMap(_.get())
        finally pool.shutdown()
      assert(got.size === clients * reqs.size)
      got.foreach { case (i, resp) => assert(resp === want(i), reqs(i)) }
    } finally {
      server.stop(0)
      s.close()
    }
    // every search of the sequential and concurrent passes and every
    // client's own entry is in the log once the session is closed
    assert(QueryLog.load(spark, logPath).count() ===
      3 + (1 + clients) * searches + clients * reqs.size * perReq)
    val live = Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive &&
      !t.isDaemon && (t.getName.startsWith("HttpServe") || t.getName == "HTTP-Dispatcher"))
    assert(live.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size === cachedBefore)
  }
}
