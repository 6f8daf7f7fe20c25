package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Cross-check the native scorer against Spark ML's own
  * PipelineModel.load on the reference artifacts (SURVEY.md §7.2).
  * The artifacts were written by Spark 3.0.0; if they are not
  * mounted, or 4.1.2 refuses the format, this suite cancels (the
  * golden corpus remains the oracle — SentimentModelSpec). */
class MllibParitySpec extends AnyFunSuite with SparkSessionFixture {

  /** Spark ML's own load of the artifact; cancels when the artifact is
    * not mounted, or when it is and 4.1.2 refuses its format. */
  private def loadArtifact(): org.apache.spark.ml.PipelineModel = {
    if (!new java.io.File(s"${SparkEntry.ModelDir}/metadata").exists)
      cancel(s"artifact not mounted at ${SparkEntry.ModelDir}")
    spark.sparkContext // force session init before mllib's getOrCreate
    try org.apache.spark.ml.PipelineModel.load(SparkEntry.ModelDir)
    catch { case e: Exception =>
      cancel(s"Spark 4.1.2 cannot load the 3.0.0-written artifacts: ${e.getMessage}")
    }
  }

  test("ml.PipelineModel.load parity on golden corpus inputs") {
    val loaded = loadArtifact()
    val golden = spark.read
      .json("/root/reference/locally_saved_results/part-*.json")
      .select(col("cleaned_data"), col("prediction").as("golden_pred"))
    // PipelineModel stages start at StopWordsRemover(inputCol=cleaned_data);
    // StringIndexer (training-side) needs its input column present.
    val withLabel = golden.withColumn("sentiment", lit("4"))
    val scored =
      try loaded.transform(withLabel)
      catch { case e: Exception =>
        cancel(s"transform failed under 4.1.2 (StringIndexer at inference?): ${e.getMessage}")
      }
    val mism = scored.filter(col("prediction") =!= col("golden_pred")).count()
    val native = SparkEntry.scorer(spark)
    val nativeMism = scored
      .withColumn("native_pred", native.predictFromTokens(col("cleaned_data")))
      .filter(col("native_pred") =!= col("prediction")).count()
    assert(mism == 0L, s"$mism mllib predictions differ from golden corpus")
    assert(nativeMism == 0L, s"$nativeMism native predictions differ from mllib")
  }

  test("probability/rawPrediction column parity vs ml.PipelineModel (<=1e-12)") {
    import org.apache.spark.ml.functions.vector_to_array
    val loaded = loadArtifact()
    val golden = spark.read
      .json("/root/reference/locally_saved_results/part-*.json")
      .select(col("cleaned_data")).withColumn("sentiment", lit("4"))
    val mllib =
      try loaded.transform(golden)
      catch { case e: Exception => cancel(s"transform failed: ${e.getMessage}") }
    val native = SparkEntry.scorer(spark)
    val both = native.withScores(
        mllib.select(
          col("cleaned_data"),
          vector_to_array(col("rawPrediction")).as("ml_raw"),
          vector_to_array(col("probability")).as("ml_prob"),
          col("prediction").as("ml_pred")),
        "cleaned_data")
    val worst = both.select(
        greatest(
          abs(element_at(col("rawPrediction"), 1) - element_at(col("ml_raw"), 1)),
          abs(element_at(col("rawPrediction"), 2) - element_at(col("ml_raw"), 2)),
          abs(element_at(col("probability"), 1) - element_at(col("ml_prob"), 1)),
          abs(element_at(col("probability"), 2) - element_at(col("ml_prob"), 2)),
          abs(col("prediction") - col("ml_pred"))).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(worst <= 1e-12, s"worst probability/rawPrediction deviation $worst")
  }
}
