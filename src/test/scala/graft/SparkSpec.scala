package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexBuilder

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the JVM temp dir, deleted with everything
    * in it after the suite.
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(IndexBuilder.deleteRecursively(_))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "localhost")
    .getOrCreate()
}
