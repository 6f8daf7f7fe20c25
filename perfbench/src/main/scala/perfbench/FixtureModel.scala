package perfbench

import org.apache.spark.sql.SparkSession

import graft.functions.TextOps
import graft.ml.SentimentModel

/** The frozen sentiment model rebuilt from the committed fixtures
  * (`fixtures/sentiment_vocab.parquet`: term, idx, idf, coef;
  * `fixtures/sentiment_meta.parquet`: intercept, logit_threshold),
  * Spark's bundled English stop list and the StringIndexer labels
  * recorded in BASELINE.md. [[gate]] refuses any model whose
  * fingerprint differs from BASELINE.md's. */
object FixtureModel {

  final case class Fingerprint(terms: Int, nonZeroCoef: Int, intercept: Double,
                               threshold: Double, stopWords: Int)

  /** BASELINE.md: 262,144 terms; 120,977 non-zero coefficients;
    * intercept -0.24585153897212955; threshold 0.5; 181 stop words. */
  val Expected: Fingerprint = Fingerprint(262144, 120977, -0.24585153897212955, 0.5, 181)

  val Labels: Array[String] = Array("4", "0")

  def load(spark: SparkSession, fixtureDir: String): SentimentModel = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$fixtureDir/sentiment_vocab.parquet")
      .select($"term", $"idx", $"idf", $"coef")
      .as[(String, Int, Double, Double)].collect()
    val n = rows.length
    val vocab = new java.util.HashMap[String, Int](n * 2)
    val idf = new Array[Double](n)
    val coef = new Array[Double](n)
    rows.foreach { case (t, i, d, c) => vocab.put(t, i); idf(i) = d; coef(i) = c }
    val (intercept, logit) = spark.read.parquet(s"$fixtureDir/sentiment_meta.parquet")
      .select($"intercept", $"logit_threshold").as[(Double, Double)].head()
    val threshold = 1.0 / (1.0 + math.exp(-logit))
    SentimentModel(vocab, idf, coef, intercept, threshold, Labels, TextOps.englishStopWords)
  }

  def fingerprint(m: SentimentModel): Fingerprint =
    Fingerprint(m.vocab.size(), m.coef.count(_ != 0.0), m.intercept, m.threshold,
      m.stopWords.map(_.toLowerCase(java.util.Locale.UK)).distinct.length)

  def gate(m: SentimentModel): SentimentModel = {
    val fp = fingerprint(m)
    require(fp == Expected && m.idf.length == Expected.terms && m.labels.sameElements(Labels),
      s"fixture model fingerprint $fp does not match BASELINE.md $Expected; refusing to run")
    m
  }
}
