package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** [[CorpusOps.piiScanCols]] — the PII surface scan t31 runs. The
  * synthetic corpus is PII-free (the DuckDB oracle proves hash parity
  * while every count sits at zero), so the pattern families, the
  * matched-char mass, and the any-hit flag are pinned here on
  * hand-built docs (the t27/t29 precedent), plus the stateless-
  * streaming face. */
class PiiScanSpec extends AnyFunSuite with SparkSessionFixture {

  /** (id, n_email, n_ipv4, n_phone, pii_chars, has_pii) per document. */
  private def piiScan(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol) +: CorpusOps.piiScanCols(col(textCol)): _*)
      .withColumn("has_pii",
        (col("n_email") + col("n_ipv4") + col("n_phone") > 0L).cast("long"))

  private val corpus: Seq[(Long, String)] = Seq(
    1L -> "contact me at john.doe@example.com or admin@test.org today",
    2L -> "server at 192.168.0.1 and backup 10.0.0.255.",
    3L -> "call +441234567890 now; +123456 is too short",
    // an @host that is an IP: the email pattern requires an alpha TLD
    // so only the IPv4 family may claim these characters
    4L -> "login user@192.168.0.1 failed",
    5L -> "no identifiers in this document at all",
    6L -> "mixed: a@b.co and 8.8.8.8 and +12345678!")

  private def run(): Map[Long, Map[String, Long]] = {
    import spark.implicits._
    val df = piiScan(corpus.toDF("doc_id", "text"),
      "doc_id", "text")
    df.collect().map { r =>
      r.getLong(0) -> df.columns.drop(1).map(c =>
        c -> r.getAs[Long](c)).toMap
    }.toMap
  }

  test("email family: count and matched char mass") {
    val m = run()
    assert(m(1L)("n_email") === 2L)
    // "john.doe@example.com" (20) + "admin@test.org" (14)
    assert(m(1L)("pii_chars") === 34L)
    assert(m(1L)("n_ipv4") === 0L && m(1L)("n_phone") === 0L)
  }

  test("ipv4 family: word boundaries, trailing punctuation") {
    val m = run()
    assert(m(2L)("n_ipv4") === 2L)
    // "192.168.0.1" (11) + "10.0.0.255" (10); the trailing '.' is
    // outside the match (\b sits before it)
    assert(m(2L)("pii_chars") === 21L)
  }

  test("phone family: 7-digit floor, boundary before punctuation") {
    val m = run()
    assert(m(3L)("n_phone") === 1L) // +123456 is 6 digits, below floor
    assert(m(3L)("pii_chars") === 13L) // "+441234567890"
  }

  test("an @ipv4 host is claimed by the IP family, not email") {
    val m = run()
    assert(m(4L)("n_email") === 0L)
    assert(m(4L)("n_ipv4") === 1L)
    assert(m(4L)("pii_chars") === 11L)
  }

  test("any-hit flag and the clean document") {
    val m = run()
    assert(m(5L) === Map("n_email" -> 0L, "n_ipv4" -> 0L,
      "n_phone" -> 0L, "pii_chars" -> 0L, "has_pii" -> 0L))
    assert(m(6L)("has_pii") === 1L)
    assert(m(6L)("n_email") === 1L && m(6L)("n_ipv4") === 1L &&
      m(6L)("n_phone") === 1L)
    // "a@b.co" (6) + "8.8.8.8" (7) + "+12345678" (9)
    assert(m(6L)("pii_chars") === 22L)
  }

  test("stateless: runs unchanged on a stream, batch-equal, no state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val out = piiScan(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      corpus.grouped(2).foreach { b => input.addData(b); q.processAllAvailable() }
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
    val streamed = spark.table("pii_stream").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("pii_chars")).toMap
    assert(streamed === run().map { case (k, v) => k -> v("pii_chars") })
  }
}
