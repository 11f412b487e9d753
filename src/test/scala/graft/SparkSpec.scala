package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy), plus the suite's
  * temp dirs, deleted with their contents after the suite.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(cores = 4)
  lazy val sf: String = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]

  /** A fresh temp dir named `prefix`…, removed in [[afterAll]]. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    finally super.afterAll()
}
