package graft


import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{FixtureModel, ModelLoader}

/** The committed fixture model (`fixtures/sentiment_*.parquet` + Spark's
  * English stop list + BASELINE.md's labels) that `SparkEntry.model`
  * serves without the artifact: it must be the artifact's model field
  * by field, and the fingerprint gate must refuse a tampered copy. */
class FixtureModelSpec extends AnyFunSuite with SparkSessionFixture {

  test("fixture model equals the artifact model field by field") {
    assume(new java.io.File(s"${SparkEntry.ModelDir}/stages").isDirectory,
      s"no ${SparkEntry.ModelDir}/stages: the artifact is not mounted")
    val art = ModelLoader.load(spark, SparkEntry.ModelDir)
    val fix = FixtureModel.gate(FixtureModel.load(spark, SparkEntry.FixtureDir))
    assert(fix.vocab == art.vocab)
    // bit-equal: Arrays.equals compares doubleToLongBits
    assert(java.util.Arrays.equals(fix.idf, art.idf))
    assert(java.util.Arrays.equals(fix.coef, art.coef))
    assert(fix.intercept == art.intercept)
    assert(fix.threshold == art.threshold)
    assert(fix.labels.toSeq == art.labels.toSeq)
    assert(fix.stopWords.length == art.stopWords.length)
    fix.stopWords.zip(art.stopWords).zipWithIndex.foreach { case ((f, a), i) =>
      assert(f == a, s"stop word $i: TextOps.englishStopWords has '$f', the artifact '$a'")
    }
  }

  test("gate passes the committed fixture and refuses one coefficient zeroed") {
    val good = FixtureModel.gate(FixtureModel.load(spark, SparkEntry.FixtureDir))
    assert(FixtureModel.fingerprint(good) == FixtureModel.Expected)

    val vocab = spark.read.parquet(s"${SparkEntry.FixtureDir}/sentiment_vocab.parquet")
    val victim = vocab.filter(col("coef") =!= 0.0).agg(min("idx")).head().getInt(0)
    val dir = tempDir("fixture_tampered").toString
    vocab.withColumn("coef", when(col("idx") === victim, lit(0.0)).otherwise(col("coef")))
      .write.parquet(s"$dir/sentiment_vocab.parquet")
    spark.read.parquet(s"${SparkEntry.FixtureDir}/sentiment_meta.parquet")
      .write.parquet(s"$dir/sentiment_meta.parquet")

    val tampered = FixtureModel.load(spark, dir)
    assert(FixtureModel.fingerprint(tampered) ==
      FixtureModel.Expected.copy(nonZeroCoef = FixtureModel.Expected.nonZeroCoef - 1))
    val e = intercept[IllegalArgumentException](FixtureModel.gate(tampered))
    assert(e.getMessage.contains("refusing to run"))
  }
}
