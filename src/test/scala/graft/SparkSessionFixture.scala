package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for ScalaTest suites (one per JVM;
  * sbt forks a single test JVM so suites reuse it). */
trait SparkSessionFixture { self: Suite =>
  lazy val spark: SparkSession = SparkSessionFixture.session
}

object SparkSessionFixture {
  /** Managed tables go to a temp warehouse of this JVM's own, deleted
    * at exit, not to `spark-warehouse/` under the working directory. */
  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse))
    SparkEntry.localSession(8, "spark.sql.warehouse.dir" -> warehouse.toURI.toString)
  }
}
