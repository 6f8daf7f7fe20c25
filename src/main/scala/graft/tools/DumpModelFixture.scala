package graft.tools

import graft.SparkEntry
import graft.ml.ModelLoader
import graft.tools.FixtureFiles.writeSingle

/** One-shot fixture dump for the relational sentiment oracle: flattens
  * the frozen 5-stage PipelineModel into two parquet tables DuckDB can
  * join against —
  *
  *   fixtures/sentiment_vocab.parquet  (term, idx, idf, coef)
  *   fixtures/sentiment_meta.parquet   (intercept, logit_threshold)
  *
  * so `m5_sentiment` can be scored in pure SQL (explode tokens → join
  * vocab → ordered-fold of (tf*idf)*coef + intercept → threshold) and
  * hash-compared by the driver like every other query. Committed to
  * the repo; re-run after any model change. */
object DumpModelFixture {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "fixtures"
    val spark = SparkEntry.localSession(4)
    import spark.implicits._

    val m = ModelLoader.load(spark, SparkEntry.ModelDir)
    val vocab = new Array[(String, Int, Double, Double)](m.vocab.size())
    m.vocab.forEach { (term, idx) =>
      vocab(idx) = (term, idx, m.idf(idx), m.coef(idx))
    }
    writeSingle(vocab.toSeq.toDF("term", "idx", "idf", "coef"),
      s"$out/sentiment_vocab.parquet")

    // logit-space threshold: predict() compares the raw margin against
    // ln(t/(1-t)) — dump the same expression so the SQL compare is
    // bit-identical (0.0 for the default t=0.5)
    writeSingle(
      Seq((m.intercept, math.log(m.threshold / (1.0 - m.threshold))))
        .toDF("intercept", "logit_threshold"),
      s"$out/sentiment_meta.parquet")

    println(s"wrote ${m.vocab.size()} vocab rows, intercept=${m.intercept}")
    spark.stop()
  }
}
