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

  override def afterAll(): Unit =
    try tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
