package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.TypedPipeline

class TypedPipelineSpec extends AnyFunSuite with SparkSessionFixture {

  test("typed scoring preserves the untyped plan's results and stays narrow") {
    val docs = TypedPipeline.readDocs(spark, "/root/testdata/sf0.001")
    val scored = TypedPipeline.score(docs, SparkEntry.scorer(spark))
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"typed view must not add shuffles:\n$plan")
    val rows = scored.collect()
    assert(rows.length == 500)
    assert(rows.forall(r => r.prediction == 0.0 || r.prediction == 1.0))
    assert(rows.forall(r =>
      (r.prediction == 0.0 && r.label == "4") ||
      (r.prediction == 1.0 && r.label == "0")))
    assert(rows.forall(_.cleaned_data.nonEmpty))
  }

  test("emitted label follows the model's label dictionary, not a fixed order") {
    import spark.implicits._
    val vocab = new java.util.HashMap[String, Int]()
    Seq("good", "bad", "meh").zipWithIndex.foreach { case (w, i) => vocab.put(w, i) }
    // "good" pushes the margin negative (prediction 0.0), "bad" positive
    // (1.0); labels reversed from the frozen model's ["4", "0"]
    val model = ml.SentimentModel(vocab, idf = Array(1.0, 1.0, 1.0),
      coef = Array(-1.0, 1.0, 0.0), intercept = 0.0, threshold = 0.5,
      labels = Array("0", "4"), stopWords = Array.empty)
    val docs = Seq(TypedPipeline.Doc(1L, "good good"), TypedPipeline.Doc(2L, "bad"))
      .toDS()
    val got = TypedPipeline.score(docs, ml.SentimentModel.scorer(spark, model))
      .collect().map(r => r.doc_id -> ((r.prediction, r.label))).toMap
    assert(got == Map(1L -> ((0.0, "0")), 2L -> ((1.0, "4"))))
    assert(got.values.forall { case (p, l) => l == model.decodeLabel(p) })
  }
}
