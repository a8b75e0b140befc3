package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the program, kept in
  * memory and dumped when the run ends. A span carries its name, start and
  * end (ns since the tracer's origin), parent span and request id. While a
  * span is open on a thread, Spark jobs submitted from that thread carry the
  * span id as a local property, so [[Listener]] files their task metrics
  * under the span. With tracing off, [[span]] only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._
  val origin: Long = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile private var sc: Option[SparkContext] = None

  def bind(context: SparkContext): Unit = if (enabled) sc = Some(context)

  def now: Long = System.nanoTime() - origin

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevProp = sc.map(_.getLocalProperty(SpanProp))
      stack.set(id :: stack.get)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val start = now
      try body
      finally {
        done.add(Span(id, name, start, now, parent, req))
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp.flatMap(Option(_)).orNull))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, start: Long, end: Long,
                        parent: Long, req: Long)

  /** Task metrics summed per span (or per job / stage). */
  final class Acc {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spill = 0L
    var inBytes = 0L
    var inRecords = 0L
    var shuffleWrite = 0L
    var outBytes = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead
      inRecords += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      outBytes += m.outputMetrics.bytesWritten
    }
    def merge(o: Acc): Acc = {
      val r = new Acc
      Seq(this, o).foreach { x => x.synchronized {
        r.tasks += x.tasks; r.runMs += x.runMs; r.cpuNs += x.cpuNs; r.gcMs += x.gcMs
        r.spill += x.spill; r.inBytes += x.inBytes; r.inRecords += x.inRecords
        r.shuffleWrite += x.shuffleWrite; r.outBytes += x.outBytes
      } }
      r
    }
    def json: String = synchronized {
      s""""tasks": $tasks, "run_s": ${runMs / 1e3}, "cpu_s": ${cpuNs / 1e9}, "gc_s": ${gcMs / 1e3}, "spill_bytes": $spill, "input_bytes": $inBytes, "input_records": $inRecords, "shuffle_write_bytes": $shuffleWrite, "output_bytes": $outBytes"""
    }
  }

  final case class Job(id: Int, span: Long, callSite: String, start: Long,
                       var end: Long)
  final case class Task(stage: Int, span: Long, start: Long, end: Long)

  /** Maps listener events to the span whose thread submitted them. Times
    * are converted to the tracer's clock (ns since origin). */
  final class Listener(tracer: Tracer) extends SparkListener {
    private val wallOrigin = System.currentTimeMillis() -
      (System.nanoTime() - tracer.origin) / 1000000L
    private def ns(epochMs: Long) = (epochMs - wallOrigin) * 1000000L
    private val stageSpan = TrieMap.empty[Int, Long]
    private val sqlSite = TrieMap.empty[Long, String]
    val jobs: TrieMap[Int, Job] = TrieMap.empty
    val perSpan: TrieMap[Long, Acc] = TrieMap.empty
    val tasks = new ConcurrentLinkedQueue[Task]()

    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageIds.foreach(stageSpan.put(_, s))
      // a Dataset action's call site ("collect at X.scala:N") is its SQL
      // execution's description; adaptive execution submits the jobs from
      // other threads, so the stage names do not carry it
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSite.get(id.toLong)).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, s, site, ns(e.time), -1L))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlSite.put(x.executionId, x.description)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = ns(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.putIfAbsent(e.stageInfo.stageId, spanOf(e.properties))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val s = stageSpan.getOrElse(e.stageId, 0L)
        perSpan.getOrElseUpdate(s, new Acc).add(e.taskMetrics)
        if (e.taskInfo != null)
          tasks.add(Task(e.stageId, s, ns(e.taskInfo.launchTime), ns(e.taskInfo.finishTime)))
      }
  }
}
