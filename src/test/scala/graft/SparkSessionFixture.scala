package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for ScalaTest suites (one per JVM;
  * sbt forks a single test JVM so suites reuse it). */
trait SparkSessionFixture { self: Suite =>
  lazy val spark: SparkSession = SparkSessionFixture.session
}

object SparkSessionFixture {
  lazy val session: SparkSession = SparkEntry.localSession(8)
}
