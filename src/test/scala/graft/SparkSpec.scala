package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session), built
  * by [[GraftSession.builder]] so every suite runs with the pinned confs
  * and the installed extensions, as graft's own entry points do. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp dir, deleted recursively after the suite. */
  def tmpDir(prefix: String = "graft-test"): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
