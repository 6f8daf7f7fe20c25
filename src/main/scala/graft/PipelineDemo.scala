package graft

import java.nio.file.Files

import graft.sources.EnvelopeFeed
import graft.streaming.StreamPipeline

/** End-to-end demo of the full reference dataflow, producer to sink
  * (SURVEY.md §3): envelope feed (producer twin) → file source (Kafka
  * twin) → decode/clean/score pipeline → JSON-file sink with
  * checkpointed exactly-once commit log. Not part of the driver
  * contract; run with `sbt "runMain graft.PipelineDemo"`. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(8)

    val feedDir = Files.createTempDirectory("graft_feed").toString
    val outDir = Files.createTempDirectory("graft_out").toString
    val ckDir = Files.createTempDirectory("graft_ck").toString

    // producer twin: publish two waves of documents as JSON envelopes
    val docs = EnvelopeFeed.fromDocuments(spark, "/root/testdata/sf0.001", 100)
    EnvelopeFeed.publishWave(docs.filter("doc_id < 50"), "text", feedDir)

    val scorer = SparkEntry.scorer(spark)
    val query = StreamPipeline.toJsonFiles(
      StreamPipeline.transform(
        StreamPipeline.fromJsonFileSource(spark, feedDir), scorer),
      outDir, ckDir).start()
    query.processAllAvailable()

    EnvelopeFeed.publishWave(docs.filter("doc_id >= 50"), "text", feedDir)
    query.processAllAvailable()
    query.stop()

    val out = spark.read.json(outDir)
    val n = out.count()
    val negShare = out.selectExpr("avg(prediction)").head().getDouble(0)
    println(f"[demo] scored $n docs across 2 micro-batches; negative share $negShare%.3f")
    println(s"[demo] sink=$outDir checkpoint=$ckDir")
    require(n == 100L, s"expected 100 scored docs, got $n")
    spark.stop()
  }
}
