package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = Engine.local(4)
}

trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sfDir)

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A new temporary directory, deleted with its contents when the suite
    * ends.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
}
