package graft.api

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.SentimentScorer

/** Typed `Dataset[T]` facade over the scoring pipeline, for callers
  * who want compile-time schemas at the API boundary. Internally the
  * operators stay untyped `Column` expressions — the typed layer is a
  * zero-copy view (encoders resolve by field name), not a
  * row-at-a-time `map`, so whole-stage codegen is preserved. */
object TypedPipeline {

  /** A document to score. */
  final case class Doc(doc_id: Long, text: String)

  /** Scoring result: tokens after cleaning, binary prediction (the
    * StringIndexer index), and the training label the model's
    * dictionary decodes it to. */
  final case class ScoredDoc(
      doc_id: Long,
      cleaned_data: Seq[String],
      prediction: Double,
      label: String)

  /** Score a typed document set; result is a typed view over the
    * same narrow, shuffle-free plan `scoreText` builds. */
  def score(docs: Dataset[Doc], scorer: SentimentScorer): Dataset[ScoredDoc] = {
    val scored = scorer.scoreText(docs.toDF(), "text")
    scored.select(col("doc_id"), col("cleaned_data"),
        col("prediction"), scorer.labelOf(col("prediction")).as("label"))
      .as(Encoders.product[ScoredDoc])
  }

  /** Typed reader for the documents testdata table. */
  def readDocs(spark: SparkSession, sfDir: String): Dataset[Doc] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .as(Encoders.product[Doc])
}
