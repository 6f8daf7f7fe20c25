package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.CorpusOps

/** [[CorpusOps.filterVerdicts]] on a MemoryStream — the per-document
  * admission gate. Pins verdict-table equality against the batch
  * call (same corpus as FilterFunnelSpec:
  * full survivor, empty doc, partial failure — so the no-join
  * NULL-coalesce totality is exercised, not just the easy rows),
  * split invariance, statelessness, and equality on a slice of the
  * real corpus. */
class FunnelStreamSpec extends AnyFunSuite with SparkSessionFixture {

  private val goodText: String = {
    val ws = (0 until 50).map(i =>
      s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}ov")
    ws.mkString(" ") + " the and more.\n" +
      "this second line carries five proper words.\n" +
      "a third line with yes more said done fine."
  }

  private val docs = Seq(
    (1L, goodText, "s1"),
    (2L, "", "s1"),
    (3L, "short words here.", "s2"),
    (4L, "12 34 56 78 90.", "s2"), // words but no alpha tokens
    (5L, "a... b... c... { dup } dup dup dup dup dup", "s3"))

  private def batchVerdicts(rows: Seq[(Long, String, String)]): Map[Long, Seq[Long]] = {
    import spark.implicits._
    CorpusOps.filterVerdicts(rows.toDF("doc_id", "text", "source"),
        "doc_id", "text", TextOps.cleanTokens(col("text")))
      .collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
  }

  private def streamVerdicts(rows: Seq[(Long, String, String)],
                             batches: Int): Map[Long, Seq[Long]] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, String)]
    val out = CorpusOps.filterVerdicts(
      input.toDF().toDF("doc_id", "text", "source"), "doc_id", "text",
      TextOps.cleanTokens(col("text")))
    val name = s"funnel_stream_$batches"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val size = math.max(1, (rows.size + batches - 1) / batches)
      rows.grouped(size).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.isEmpty, "gate must be stateless")
    } finally q.stop()
    spark.table(name).collect()
      .map(r => r.getLong(0) -> Seq(r.getAs[Long]("pass_gopher"),
        r.getAs[Long]("pass_rep"), r.getAs[Long]("pass_c4"),
        r.getAs[Long]("keep"))).toMap
  }

  test("stream verdicts equal the batch table, including hard rows") {
    val b = batchVerdicts(docs)
    assert(b(1L) === Seq(1L, 1L, 1L, 1L)) // the crafted survivor
    assert(b(2L) === Seq(0L, 0L, 0L, 0L)) // empty: coalesce-to-fail
    assert(streamVerdicts(docs, batches = 1) === b)
  }

  test("split invariance: per-doc verdicts ignore micro-batch shape") {
    val whole = streamVerdicts(docs, batches = 1)
    assert(streamVerdicts(docs, batches = 3) === whole)
    assert(streamVerdicts(docs, batches = docs.size) === whole)
  }

  test("real-corpus slice: stream == batch") {
    val real = QuerySupport.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(streamVerdicts(real, batches = 4) === batchVerdicts(real))
  }
}
