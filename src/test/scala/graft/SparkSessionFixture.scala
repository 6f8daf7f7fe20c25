package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for ScalaTest suites (one per JVM;
  * sbt forks a single test JVM so suites reuse it). */
trait SparkSessionFixture { self: Suite =>
  lazy val spark: SparkSession = SparkSessionFixture.session

  /** A fresh directory under this JVM's temp root. */
  def tempDir(prefix: String): Path = SparkSessionFixture.tempDir(prefix)
}

object SparkSessionFixture {
  /** One temp root per test JVM, deleted at exit: every spec's
    * checkpoints, sink outputs and inputs go under it, and so do
    * managed tables (the warehouse), not `spark-warehouse/` under the
    * working directory. */
  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-test")
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  lazy val session: SparkSession =
    SparkEntry.localSession(8,
      "spark.sql.warehouse.dir" -> tempDir("warehouse").toUri.toString)
}
