package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointedBuild
import graft.index.{InvertedIndex, Stats}
import graft.search.QueryLog

/** One benchmark run, in one fresh JVM, on one seeded corpus:
  *
  *  1. generate the corpus (base + 1/8 delta) and write it as parquet;
  *  2. at local[4]: a full `CheckpointedBuild.run` of the base, as a batch
  *     build runs (the first build in a fresh JVM), then the append of the
  *     delta into it (pinned `idDomain` + `changedIds`);
  *  3. serving: `HttpServe` over the appended index, set up three times,
  *     then driven by `clients` closed-loop HTTP clients, in whole rounds
  *     of the request cycle, for at least `seconds` and `min-requests`
  *     requests;
  *  4. traced runs only: a fresh full build of base + delta, which the
  *     appended index must equal (content hash); layer probes that time the
  *     public functions of each layer, with spans and a SparkListener; and
  *     the same full build in a restarted local[1] session, for the 1-core
  *     side of the scaling pair.
  *
  * Writes what it measured (raw samples, spans, check results) as one JSON
  * document; `run.py` turns it into metrics.
  */
object Main {
  /** Buckets of every build; the delta (1/9 of the ids) lands in the last. */
  val Buckets = 4

  /** Ms between the starts of two clients' rounds: long enough that the
    * earlier client's first request reaches the dispatcher first. */
  val Stagger = 50L

  final case class Args(seed: Long, seconds: Double,
                        trace: Boolean, dir: Path, out: Path, docs: Int,
                        clients: Int, minRequests: Int)

  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("dir")), Paths.get(kv("out")),
      kv("docs").toInt, kv("clients").toInt, kv("min-requests").toInt)
    Files.writeString(a.out, new Run(a).run())
  }

  /** Cumulative host steal seconds (`/proc/stat`, USER_HZ = 100). */
  def stealSeconds: Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally f.close()
  }.getOrElse(0.0)

  def procField(file: String, key: String): Long = scala.util.Try {
    val f = scala.io.Source.fromFile(file)
    try f.getLines().find(_.startsWith(key + ":")).get
      .split("\\s+")(1).toLong finally f.close()
  }.getOrElse(0L)

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def jstr(s: String): String = graft.Serve.jsonString(s)

  def jsonArr(xs: Seq[String]): String = xs.mkString("[", ",\n", "]")

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Order-independent content hash of a parquet table: row count and the
    * xor of every row's xxhash64 over all columns. */
  def contentHash(spark: SparkSession, path: String): String = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.sorted.map(col).toSeq: _*)), lit(0L))).head()
    s"${r.getLong(0)}:${java.lang.Long.toHexString(r.getLong(1))}"
  }

  final case class Sample(op: String, key: Int, cls: String, start: Long,
                          end: Long, traced: Boolean)
}

final class Run(a: Main.Args) {
  import Main._

  private val tracer = new Tracer(a.trace)
  // operations (builds, served requests) and the ones a check failed on
  private val attempted = new AtomicLong(0)
  private val failedOps = new ConcurrentHashMap[String, String]()
  private val gen = new Gen.Corpus(a.seed)
  private val nBase = a.docs
  private val nDelta = a.docs / 8
  private val nAll = (nBase + nDelta).toLong
  private val idDomain = (0L, nAll - 1)
  private val corpusDir = a.dir.resolve("corpus")
  private val logPath = a.dir.resolve("querylog").toString
  private val appended = a.dir.resolve("appended").toString
  private val full = a.dir.resolve("full").toString
  private var spark: SparkSession = _
  private var listener: Tracer.Listener = _
  private val listeners = scala.collection.mutable.ArrayBuffer.empty[Tracer.Listener]
  private val json = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Marks operation `op` failed unless `ok`; the first reason is kept. */
  private def check(op: String, ok: Boolean, what: => String): Unit =
    if (!ok) failedOps.putIfAbsent(op, what)

  private def files: DataFrame =
    spark.read.parquet(corpusDir.resolve("base").toString)
      .unionByName(spark.read.parquet(corpusDir.resolve("delta").toString))

  private def start(cores: Int): Unit = {
    spark = graft.GraftSession.builder("perfbench", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark.sparkContext)
    if (a.trace) {
      listener = new Tracer.Listener(tracer)
      listeners += listener
      spark.sparkContext.addSparkListener(listener)
    }
  }

  private def stop(): Unit = {
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(): String = {
    val steal0 = stealSeconds
    start(4)
    json("fingerprint") = fingerprint
    writeCorpus()
    build()
    if (a.trace) {
      reference()
      buildLayers()
    }
    serve()
    if (a.trace) {
      stop()
      start(1)
      build1()
    }
    stop()
    json("steal_s") = (stealSeconds - steal0).toString
    json("attempted") = attempted.get.toString
    json("failed") = jsonArr(failedOps.asScala.toSeq.sorted.map { case (k, v) => jstr(s"$k: $v") })
    json("peak_rss_mb") = (procField("/proc/self/status", "VmHWM") / 1024.0).toString
    if (a.trace) {
      json("spans") = jsonArr(tracer.spans.map { s =>
        val acc = listeners.flatMap(_.perSpan.get(s.id)).reduceOption(_ merge _)
          .map(x => ", " + x.json).getOrElse("")
        s"""{"id": ${s.id}, "name": ${jstr(s.name)}, "start": ${s.start / 1e9}, "end": ${s.end / 1e9}, "parent": ${s.parent}, "req": ${s.req}$acc}"""
      })
      json("jobs") = jsonArr(listeners.toSeq.flatMap(_.jobs.values.toSeq.sortBy(_.id)).map { j =>
        s"""{"span": ${j.span}, "call_site": ${jstr(j.callSite)}, "start": ${j.start / 1e9}, "end": ${j.end / 1e9}}"""
      })
      // [session, stage, span, launch, finish]: stage ids restart per session
      json("tasks") = jsonArr(listeners.toSeq.zipWithIndex.flatMap { case (l, n) =>
        l.tasks.asScala.toSeq.map(t => s"""[$n, ${t.stage}, ${t.span}, ${t.start / 1e9}, ${t.end / 1e9}]""")
      })
    }
    json.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{\n", ",\n", "\n}\n")
  }

  private def fingerprint: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"""{"nproc": ${Runtime.getRuntime.availableProcessors}, "mem_total_kb": ${procField("/proc/meminfo", "MemTotal")}, "jvm": ${jstr(rt.getVmName + " " + rt.getVmVersion)}}"""
  }

  // ---------------------------------------------------------------- corpus

  /** Generate base + delta and write them as parquet: the program's input. */
  private def writeCorpus(): Unit = {
    val sp = spark
    import sp.implicits._
    val (bytes, s) = timed {
      val base = gen.docs(0, nBase).toVector
      val delta = gen.docs(nBase, nAll).toVector
      // doc_id-range files, as a table loaded in id order would have
      spark.sparkContext.parallelize(base, 16).toDF()
        .write.mode("overwrite").parquet(corpusDir.resolve("base").toString)
      spark.sparkContext.parallelize(delta, 2).toDF()
        .write.mode("overwrite").parquet(corpusDir.resolve("delta").toString)
      (base ++ delta).map(_.content.length.toLong).sum
    }
    json("corpus") = s"""{"base_docs": $nBase, "delta_docs": $nDelta, "content_bytes": $bytes, "write_s": $s}"""
  }

  // ---------------------------------------------------------------- build

  private def runBuild(op: String, df: DataFrame, dir: String,
                       changed: Option[(Long, Long)] = None): Double = {
    attempted.incrementAndGet()
    val t0 = tracer.now
    val wall0 = System.currentTimeMillis()
    val (_, s) = timed(tracer.span(s"checkpoint.$op") {
      CheckpointedBuild.run(df, dir, nBuckets = Buckets, idDomain = Some(idDomain),
        changedIds = changed)
    })
    if (a.trace) phaseTimes(op, dir, t0, wall0)
    s
  }

  /** Bucket phase = build start to the last manifest written by this build
    * (manifests the append skipped keep older mtimes); merge + publish =
    * from there to `scalars.json`. */
  private def phaseTimes(op: String, dir: String, startNs: Long, wall0: Long): Unit = {
    val mtimes = Files.list(Paths.get(dir, "manifest")).iterator().asScala
      .map(p => Files.getLastModifiedTime(p).toMillis).filter(_ >= wall0).toSeq
    val scal = Files.getLastModifiedTime(Paths.get(dir, "scalars.json")).toMillis
    val last = if (mtimes.isEmpty) wall0 else mtimes.max
    val s0 = startNs / 1e9
    json(s"phases.$op") = s"""{"start": $s0, "buckets_end": ${s0 + (last - wall0) / 1e3}, "published": ${s0 + (scal - wall0) / 1e3}}"""
  }

  private def checkManifests(op: String, dir: String, rows: Long): Unit = {
    val ms = CheckpointedBuild.readManifests(dir)
    ms.foreach(m => check(op, m.sha_ok == m.rows,
      s"bucket ${m.partition_id}: sha_ok ${m.sha_ok} != rows ${m.rows}"))
    check(op, ms.map(_.rows).sum == rows, s"n_docs ${ms.map(_.rows).sum} != $rows")
  }

  private def build(): Unit = {
    val base = spark.read.parquet(corpusDir.resolve("base").toString)
    val s = runBuild("build", base, appended)
    checkManifests("build", appended, nBase)
    val append = runBuild("append", files, appended, Some((nBase.toLong, nAll - 1)))
    checkManifests("append", appended, nAll)
    json("build") = s"""{"build_s": $s, "build_files": $nBase, "append_s": $append, "index_bytes": ${dirBytes(Paths.get(appended, "index"))}}"""
  }

  /** Traced runs: a fresh full build of base + delta (JIT-warm); the
    * appended index must hash equal to it. */
  private def reference(): Unit = {
    val s = runBuild("build_n4", files, full)
    checkManifests("build_n4", full, nAll)
    val want = contentHash(spark, full + "/index")
    val got = contentHash(spark, appended + "/index")
    check("append", got == want, s"appended index hash $got != fresh build hash $want")
    json("build_n4") = s"""{"n4_s": $s, "n4_files": $nAll}"""
  }

  /** Traced runs: the 1-core full build of base + delta, JIT-warm like the
    * 4-core one; its index must hash equal to the 4-core build's. */
  private def build1(): Unit = {
    val dir = a.dir.resolve("full1").toString
    val s = runBuild("build_n1", files, dir)
    checkManifests("build_n1", dir, nAll)
    val want = contentHash(spark, full + "/index")
    val got = contentHash(spark, dir + "/index")
    check("build_n1", got == want, s"1-core index hash $got != 4-core hash $want")
    json("build1") = s"""{"n1_s": $s, "n1_files": $nAll}"""
  }

  /** Traced runs: each build layer timed on its own through its public
    * function, on base + delta at local[4]. */
  private def buildLayers(): Unit = {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val ms = CheckpointedBuild.readManifests(full)
    val width = math.max(1L, (nAll + Buckets) / Buckets)
    tracer.span("analyze.postings")(noop(Stats.postings(files)))
    tracer.span("index.segments")(noop(InvertedIndex.segments(Stats.postings(files), width, 32)))
    val avgdl = ms.map(_.tokens).sum.toDouble / math.max(1L, ms.map(_.docsTok).sum)
    val segs = spark.read.parquet(full + "/segments").select("term", "seg", "pos", "n")
    tracer.span("index.merge")(noop(InvertedIndex.mergeSegments(segs, avgdl)))
    val probe = a.dir.resolve("probe_index")
    tracer.span("index.write")(InvertedIndex.write(InvertedIndex.mergeSegments(segs, avgdl),
      probe.toString, nPartitions = InvertedIndex.writeParts(spark, ms.map(_.bytes).sum)))
    json("layers.build") = s"""{"tokens": ${ms.map(_.tokens).sum}, "index_bytes_written": ${dirBytes(probe)}}"""
  }

  // ---------------------------------------------------------------- serve

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def get(port: Int, r: Gen.Request): (Int, String) = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val q = r.cls match {
      case "suggest" => s"/suggest?prefix=${enc(r.text)}"
      case _ => s"/search?query=${enc(r.text)}" +
        r.page.fold("") { case (p, n) => s"&page=$p&limit=$n" }
    }
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$q"))
      .GET().build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def serve(): Unit = {
    val reqs = Gen.requests(a.seed, gen.words)
    // suggestion history, logged before any session opens
    QueryLog.append(spark, logPath,
      Gen.history(a.seed, gen.words).flatMap { case (q, n) => Seq.fill(n)(q) })
    val corpus = files
    var session: graft.Serve.Session = null
    var server: com.sun.net.httpserver.HttpServer = null
    // set-up: open the session and the server and answer a first request
    // (which fills the session's corpus cache); three times, median reported
    val setupTimes = (0 until 3).map { _ =>
      if (server != null) { server.stop(0); session.close() }
      timed {
        session = new graft.Serve.Session(spark, appended, corpus, logPath)
        server = graft.HttpServe.start(session, 0)
        get(server.getAddress.getPort, reqs.head)
      }._2
    }
    json("setup_serve_s") = jsonArr(setupTimes.map(_.toString))
    val port = server.getAddress.getPort
    reqs.groupBy(_.cls).values.map(_.head).foreach(get(port, _)) // warm each class
    val (samples, firstBodies) = window(port, reqs)
    // post-window checks: token top-k against searchTopK, query-term df
    val engine = session.engine
    reqs.zipWithIndex.filter(_._1.cls == "token").foreach { case (r, key) =>
      val (p, n) = r.page.getOrElse((1, 10))
      val want = engine.searchTopK(r.terms, p * n).collect()
        .map(x => (x.getLong(0), x.getDouble(1))).toSeq.drop((p - 1) * n)
      val got = Option(firstBodies.get(key)).toSeq.flatMap(b =>
        mapper.readTree(b).elements().asScala
          .map(x => (x.get("doc_id").asLong, x.get("score").asDouble)).toSeq)
      if (got != want) samples.filter(_.key == key).foreach(x => check(x.op, ok = false,
        s"token top-k for ${r.text}: served $got, searchTopK $want"))
    }
    val terms = reqs.flatMap(_.terms).distinct
    val df = engine.index.filter(col("term").isin(terms: _*)).select("term", "df")
      .distinct().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    json("df") = terms.map(t => s"${jstr(t)}: ${df.getOrElse(t, 0L)}").mkString("{", ", ", "}")
    json("mix") = jsonArr(reqs.map(r => s"""{"cls": ${jstr(r.cls)}, "text": ${jstr(r.text)}, "terms": ${jsonArr(r.terms.map(jstr))}}"""))
    if (a.trace) serveLayers(reqs, session, corpus, port)
    server.stop(0)
    session.close()
  }

  /** The closed loop, in rounds. In a round every client sends the whole
    * request cycle once, from its own offset (spread evenly over the cycle),
    * and waits for each reply; client c starts `Stagger` ms after client
    * c - 1, so that the dispatcher takes the clients' first requests in the
    * same order in every round and run. From then on HttpServe's single
    * dispatcher alternates between the clients, so every request waits
    * behind the same other client's request in every round. Rounds repeat
    * until the window has lasted `seconds` and holds `min-requests`
    * requests: whole rounds keep the share of each (request, request it
    * waits behind) pair the same whatever the window's length. Traced runs
    * measure half of that untraced, then as many rounds again with the
    * listener on, for the tracing overhead. */
  private def window(port: Int, reqs: Seq[Gen.Request]): (Seq[Sample], ConcurrentHashMap[Int, String]) = {
    val bodies = new ConcurrentHashMap[Int, String]()
    val samples = new ConcurrentLinkedQueue[Sample]()
    val n = reqs.length
    val share = if (a.trace) 0.5 else 1.0
    val t0 = System.nanoTime()
    def round(r: Int, traced: Boolean): Unit = {
      val threads = (0 until a.clients).map { c =>
        new Thread(() => {
          Thread.sleep(c * Stagger)
          (0 until n).foreach { j =>
            val key = (c * n / a.clients + j) % n
            val req = reqs(key)
            val op = s"req:$c:${r * n + j}"
            attempted.incrementAndGet()
            val s = tracer.now
            val got = scala.util.Try(get(port, req))
            val e = tracer.now
            samples.add(Sample(op, key, req.cls, s, e, traced))
            val (code, body) = got.getOrElse((-1, got.failed.get.toString))
            val valid = code == 200 &&
              scala.util.Try(mapper.readTree(body)).toOption.exists(_.isArray)
            check(op, valid, s"${req.text}: HTTP $code, body ${body.take(200)}")
            val first = bodies.putIfAbsent(key, body)
            check(op, first == null || first == body, s"${req.text}: response differs from the first one")
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    if (a.trace) spark.sparkContext.removeSparkListener(listener)
    var rounds = 0
    while (System.nanoTime() - t0 < a.seconds * share * 1e9 ||
           samples.size < a.minRequests * share) {
      round(rounds, traced = !a.trace)
      rounds += 1
    }
    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      (rounds until 2 * rounds).foreach(round(_, traced = true))
      rounds *= 2
    }
    val ss = samples.asScala.toSeq
    json("serve") = s"""{"clients": ${a.clients}, "rounds": $rounds, "window_s": ${(System.nanoTime() - t0) / 1e9}, "requests": ${ss.size}}"""
    json("samples") = jsonArr(ss.map(x =>
      s"""[${jstr(x.op)}, ${x.key}, ${jstr(x.cls)}, ${x.start / 1e9}, ${x.end / 1e9}, ${if (x.traced) 1 else 0}]"""))
    (ss, bodies)
  }

  /** Traced runs: each request of the cycle once more over HTTP on the idle
    * server (its uncontended latency), and those marked `probe` inside a
    * `probe` span: through the session, then layer by layer through the
    * query log and the engine. */
  private def serveLayers(reqs: Seq[Gen.Request], session: graft.Serve.Session,
                          corpus: DataFrame, port: Int): Unit = {
    val engine = session.engine
    val rows = (df: DataFrame) => df.collect().length
    reqs.zipWithIndex.foreach { case (r, key) =>
      tracer.span("HttpServe.request", key)(get(port, r))
    }
    reqs.zipWithIndex.filter(_._1.probe).foreach { case (r, key) => tracer.span("probe", key) {
      if (r.cls == "suggest")
        tracer.span("Serve.suggest", key)(session.render(session.suggest(r.text)))
      else {
        tracer.span("Serve.session", key)(r.page match {
          case Some((p, n)) => session.render(session.page(r.text, p, n))
          case None => session.render(session.query(r.text))
        })
        tracer.span("Serve.log_append", key)(QueryLog.append(spark, logPath, Seq(r.text)))
        val (p, n) = r.page.getOrElse((1, 10))
        val plan = tracer.span("search.plan", key) {
          val df = if (r.page.isDefined) engine.searchPage(r.text, corpus, p, n)
            else engine.search(r.text, corpus, 10)
          df.queryExecution.executedPlan
          df
        }
        val results = tracer.span("search.exec", key)(rows(plan))
        val phrases = "\"([^\"]+)\"".r.findAllMatchIn(r.text).map(_.group(1)).toSeq
        var cand = 0L
        var matched = 0L
        phrases.foreach { ph =>
          val toks = graft.analyze.Analyzer.queryTokens("simple", ph).distinct
          cand += tracer.span("search.candidates", key)(engine.candidatesAll(toks).count())
          matched += tracer.span("search.verify", key)(engine.phraseCandidates(ph, corpus).count())
        }
        if (r.cls != "phrase") {
          tracer.span("functions.decode", key)(
            engine.decoded(Some(r.terms)).write.format("noop").mode("overwrite").save())
          tracer.span("search.score_topk", key)(rows(engine.searchTopK(r.terms, p * n)))
        }
        json(s"probe.$key") = s"""{"cls": ${jstr(r.cls)}, "results": $results, "candidates": $cand, "matches": $matched, "scored_terms": ${jsonArr(r.terms.map(jstr))}}"""
      }
    } }
  }
}
