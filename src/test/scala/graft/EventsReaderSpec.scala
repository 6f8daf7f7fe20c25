package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's testdata generations have shipped events.ts as
  * TIMESTAMP(NANOS) (rounds 1–5) and TIMESTAMP(MICROS, NTZ)
  * (round 6); `QuerySupport.events` must normalize BOTH to the same
  * microsecond session-tz TimestampType column. The two committed
  * fixtures carry the same logical rows — the ns file with extra
  * sub-microsecond digits the ns→µs truncation must drop — so the
  * reader is correct iff the two reads are value-identical.
  */
class EventsReaderSpec extends AnyFunSuite with SparkSessionFixture {

  // this checkout's fixture root, absolute (SparkEntry.FixtureDir)
  private val fixturesDir = SparkEntry.FixtureDir

  private def readTs(dir: String): Seq[(Long, java.sql.Timestamp)] =
    QuerySupport.t(spark, dir, "events")
      .select("event_id", "ts")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
      .toSeq
      .sortBy(_._1)

  test("the shared session carries SparkEntry.localSession's policy") {
    val LocalN = """local\[(\d+)\]""".r
    val LocalN(cores) = spark.sparkContext.master
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") === cores)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("nanos and micros generations read to identical timestamps") {
    val ns = readTs(s"$fixturesDir/events_ns")
    val us = readTs(s"$fixturesDir/events_us")
    assert(ns.size == 5)
    assert(ns == us,
      s"ns-generation read diverged from us-generation read:\n$ns\n$us")
  }

  test("normalized ts is session-tz TimestampType in both generations") {
    import org.apache.spark.sql.types.TimestampType
    Seq(s"$fixturesDir/events_ns", s"$fixturesDir/events_us").foreach { dir =>
      val dt = QuerySupport.t(spark, dir, "events").schema("ts").dataType
      assert(dt == TimestampType, s"$dir read ts as $dt")
    }
  }

  test("an unrecognized ts physical type fails loudly, not silently") {
    // a hypothetical THIRD testdata generation (ts as double) must
    // throw at read time, never flow unnormalized into time queries
    // (r6 advice: the old `case _ => raw` arm was a silent diverger)
    import spark.implicits._
    val dir = tempDir("events_bad").toString
    Seq((1L, 1.5)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      QuerySupport.t(spark, dir, "events")
    }
    assert(e.getMessage.contains("unhandled type"), e.getMessage)
  }
}
