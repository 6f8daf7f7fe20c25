package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{ModelLoader, SentimentModel}

/** Native 5-stage scorer vs the reference's shipped artifacts
  * (SURVEY.md §2h, §5):
  *  - model-shape invariants from the artifact metadata (ModelLoader
  *    on the artifact's own layout);
  *  - the 2,815-row golden corpus (`locally_saved_results/part-*.json`)
  *    whose rows carry the model input (`cleaned_data`) AND output
  *    (`prediction`) — re-scoring must reproduce every prediction;
  *  - scoring semantics and label decode on the served model
  *    (`SparkEntry.model`: the artifact, or the gated fixture without
  *    it).
  */
class SentimentModelSpec extends AnyFunSuite with SparkSessionFixture {

  private val modelDir = SparkEntry.ModelDir
  private val goldenDir = "/root/reference/locally_saved_results"

  private lazy val model: SentimentModel = SparkEntry.model(spark)

  test("model artifacts load with expected shapes") {
    val model = ModelLoader.load(spark, modelDir)
    assert(model.numFeatures == 262144)
    assert(model.vocab.size() == 262144)
    assert(model.coef.length == 262144)
    assert(model.stopWords.length == 181)
    assert(model.labels.toSeq == Seq("4", "0"))
    assert(math.abs(model.intercept - (-0.24585153897212955)) < 1e-15)
    assert(model.threshold == 0.5)
    // vocab is frequency-descending; spot-check the head terms
    assert(model.vocab.get("im") == 0)
    assert(model.vocab.get("good") == 1)
  }

  test("golden corpus: re-scoring cleaned_data reproduces all predictions") {
    val golden = spark.read.json(s"$goldenDir/part-*.json")
      .select(col("cleaned_data"), col("prediction"))
    val sc = SparkEntry.scorer(spark)
    val rescored = golden
      .withColumn("p2", sc.predictFromTokens(col("cleaned_data")))
    val total = rescored.count()
    val mismatches = rescored.filter(col("p2") =!= col("prediction")).count()
    assert(total == 2815L, s"expected 2,815 golden rows, got $total")
    assert(mismatches == 0L, s"$mismatches / $total golden predictions differ")
  }

  test("scorer semantics: margin/threshold edge behavior") {
    // unknown-only tokens → empty features → margin == intercept < 0 → 0.0
    assert(model.margin(Seq("zzzzqqqqxxxx")) == model.intercept)
    assert(model.predict(Seq("zzzzqqqqxxxx")) == 0.0)
    // duplicate tokens fold into TF counts (margin is linear in counts)
    val m1 = model.margin(Seq("good"))
    val m2 = model.margin(Seq("good", "good"))
    assert(math.abs((m2 - model.intercept) - 2 * (m1 - model.intercept)) < 1e-12)
  }

  test("label decode follows StringIndexer dictionary") {
    assert(model.labels(0.0.toInt) == "4") // positive
    assert(model.labels(1.0.toInt) == "0") // negative
  }
}
