package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM via Test/fork), configured like
  * every engine session. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh temp dir (`prefix` + random suffix), deleted when the suite
    * ends. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(d)
    d.toString
  }

  /** Fails the suite if it left a Spark job running (checked only once the
    * shared session exists, so a suite that never touched Spark starts
    * none). */
  override def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      val running = SparkSpec.activeJobIds(s)
      assert(running.isEmpty, s"$suiteName left Spark jobs running: ${running.mkString(", ")}")
    } finally
      try tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      finally super.afterAll()
}

object SparkSpec {
  /** The session's running jobs, read once every event posted so far has
    * reached the status store (the store is fed asynchronously). */
  def activeJobIds(s: SparkSession): Seq[Int] = {
    org.apache.spark.SpecBus.drain(s.sparkContext)
    s.sparkContext.statusTracker.getActiveJobIds().toSeq
  }

  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
