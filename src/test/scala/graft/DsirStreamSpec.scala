package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** [[CorpusOps.dsirScore]] on a MemoryStream — DSIR scoring at
  * ingest against a batch-frozen weight table (the frozen-artifact
  * pattern: fit corpus-side, score map-side, like the streaming
  * dictionary encode and BPE encode twins). The batch operator
  * [[CorpusOps.dsirWeights]] scores through the same call, so
  * stream == batch is by construction; these pins make it break
  * loudly if the score half ever stops being streaming-legal. */
class DsirStreamSpec extends AnyFunSuite with SparkSessionFixture {

  private val Buckets = 64

  private val corpus: Seq[(Long, String, String)] = (0L until 30L).map { i =>
    val src = if (i % 3 == 0) "tgt" else "bg"
    val words = (0 to (i % 4).toInt).map(j => s"w${(i * 7 + j * 11) % 13}")
    (i, src, words.mkString(" "))
  }

  private def toks = graft.functions.TextOps.cleanTokens(col("text"))

  private def staticDf = {
    import spark.implicits._
    corpus.toDF("doc_id", "src", "text")
  }

  private def wMu: Array[Long] =
    CorpusOps.dsirFitWeights(staticDf, toks, col("src") === "tgt", Buckets)

  private def batchScores: Map[Long, (Long, Long)] =
    CorpusOps.dsirWeights(staticDf, "doc_id", toks, col("src") === "tgt", Buckets)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def streamScores(batches: Seq[Seq[(Long, String)]], w: Array[Long],
                           name: String): Map[Long, (Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val out = CorpusOps.dsirScore(
      input.toDF().toDF("doc_id", "text"), "doc_id", toks, w)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      assert(q.lastProgress.stateOperators.isEmpty,
        "frozen-table scoring must not allocate streaming state")
    } finally q.stop()
    spark.table(name).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("stream scores against the frozen table equal the batch operator") {
    val w = wMu
    val texts = corpus.map(c => (c._1, c._3))
    assert(streamScores(Seq(texts), w, "dsir_stream_one") === batchScores)
  }

  test("split invariance + frozen-table determinism") {
    val w1 = wMu; val w2 = wMu
    assert(w1.toSeq === w2.toSeq, "fit must be deterministic")
    val texts = corpus.map(c => (c._1, c._3))
    val split = streamScores(
      Seq(texts.take(7), texts.slice(7, 8), texts.drop(8)),
      w1, "dsir_stream_split")
    assert(split === batchScores)
  }
}
